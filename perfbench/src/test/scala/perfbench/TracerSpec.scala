package perfbench

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {
  private val spark = TestSession.spark

  test("a known two-stage query yields one job of two stages") {
    assert(SelfTest.twoStageCounts(spark) == (SelfTest.Jobs, SelfTest.Stages))
  }

  test("jobs land on the innermost open span; spans of a unit share its id") {
    val tr = new Tracer(spark)
    try {
      tr.span("outer", "u1") {
        spark.range(10).count()
        tr.span("inner", "u1")(spark.range(10).count())
      }
      tr.span("other", "u2")(())
      tr.drain()
      val byName = tr.spans.map(s => s.name -> s).toMap
      assert(byName("inner").parent.contains(byName("outer").id))
      assert(byName("inner").jobs >= 1 && byName("outer").jobs >= 1)
      assert(byName("other").jobs == 0)
      assert(tr.spans.filter(_.unit == "u1").map(_.name).toSet == Set("outer", "inner"))
      assert(byName("outer").endNs >= byName("inner").endNs)
    } finally tr.stop()
  }

  test("task time and shuffle bytes are charged to the span") {
    val tr = new Tracer(spark)
    try {
      tr.span("shuffle", "u") {
        spark.range(0, 20000, 1, 4).repartition(4, col("id")).count()
      }
      tr.drain()
      val s = tr.spans.head
      assert(s.shuffleBytes > 0)
      assert(s.stages >= 2)
      assert(s.idleCoreShare(Session.cores) <= 1.0)
    } finally tr.stop()
  }
}
