package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** A query whose job and stage counts are known: one aggregation over
  * four partitions, collected with adaptive execution off, is one job of
  * two stages (the map side and the reduce side of its shuffle).
  */
object SelfTest {
  val Jobs = 1
  val Stages = 2

  def twoStageCounts(spark: SparkSession): (Int, Int) = {
    val key = "spark.sql.adaptive.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val tr = new Tracer(spark)
    try {
      tr.span("self-test", "self-test") {
        spark.range(0, 1000, 1, 4).groupBy(col("id") % 10).count().collect()
      }
      tr.drain()
      val s = tr.spans.head
      (s.jobs, s.stages)
    } finally {
      tr.stop()
      prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
