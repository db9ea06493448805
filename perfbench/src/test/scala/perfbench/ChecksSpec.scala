package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.pdq.Pipeline

/** The output checks count a mismatch as a failed unit, and a failed unit
  * makes the run's result incorrect.
  */
class ChecksSpec extends AnyFunSuite {
  private val spark = TestSession.spark

  private def newRun(): Run =
    new Run("queries_stream", 1L, 15, traced = false, TestSession.dir, TestSession.dir,
      TestSession.catalogue)

  test("a query whose hash differs from the expected value fails the run") {
    val run = newRun()
    val df = spark.range(100).toDF("id")
    val right = Runner.contentHash(df)
    QueriesStream.runQuery(spark, run, None, "q_right", Some(right))(df)
    assert(run.failed == 0)
    val wrong = (right._1, right._2 + 1)
    QueriesStream.runQuery(spark, run, None, "q_wrong", Some(wrong))(df)
    assert(run.attempted == 2 && run.failed == 1)
    TestSession.catalogue.endToEnd.foreach { case (m, _) => run.put(m, 1.0) }
    assert(run.resultJson.startsWith("""{"correct":false,"attempted":2,"failed":1"""))
  }

  test("a query that throws is a failed unit, not a failed run") {
    val run = newRun()
    QueriesStream.runQuery(spark, run, None, "q_throws", None)(
      throw new IllegalStateException("boom"))
    assert(run.attempted == 1 && run.failed == 1)
  }

  test("a month whose planted counts differ from the warehouse fails its check") {
    val shape = PdqGen.Shape(months = 2, operators = 20, leases = 80, newLeasesPerMonth = 10)
    val ex = PdqGen.write(s"${TestSession.dir}/checks-export", seed = 9L, shape)
    val wh = s"${TestSession.dir}/checks-wh"
    ex.months.foreach(p => Pipeline.runMonth(spark, ex.operatorDsv, ex.leaseDsv, wh, p.yyyymm))
    val counts = new PdqMonths.Counts(spark, ex, wh)
    val p = ex.months.last
    assert(counts.monthOk(p) && counts.rejectedOk)
    assert(!counts.monthOk(p.copy(dupLeaseRows = p.dupLeaseRows + 1)))
    assert(!counts.monthOk(p.copy(leaseRows = p.leaseRows - 1)))
  }

  test("re-running a month leaves every warehouse table's content unchanged") {
    val shape = PdqGen.Shape(months = 3, operators = 20, leases = 80, newLeasesPerMonth = 10)
    val ex = PdqGen.write(s"${TestSession.dir}/rerun-export", seed = 3L, shape)
    val wh = s"${TestSession.dir}/rerun-wh"
    val reports = ex.months.map(p =>
      Pipeline.runMonth(spark, ex.operatorDsv, ex.leaseDsv, wh, p.yyyymm))
    val before = PdqMonths.tableHashes(spark, wh)
    assert(before.size == 10)
    val again = Pipeline.runMonth(spark, ex.operatorDsv, ex.leaseDsv, wh, ex.months.head.yyyymm)
    assert(again == reports.head)
    assert(PdqMonths.tableHashes(spark, wh) == before)
  }
}
