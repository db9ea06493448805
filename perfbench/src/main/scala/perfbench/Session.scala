package perfbench

import org.apache.spark.sql.SparkSession

/** The one place the benchmark's session settings live. They are the
  * settings `graft.Bench` builds its session with, so a later shared
  * session factory in the library can replace this object with one call.
  */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  val settings: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.ui.enabled" -> "false",
    "spark.cleaner.periodicGC.interval" -> "2min",
    "spark.rdd.compress" -> "true",
    "spark.io.compression.codec" -> "lz4")

  def build(localDir: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/spark-warehouse")
    val spark = settings.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
