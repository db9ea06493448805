package perfbench

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pdq.{Pipeline, Staging}
import graft.sources.Dsv

class PdqGenSpec extends AnyFunSuite {
  private val spark = TestSession.spark
  private val shape = PdqGen.Shape(months = 3, operators = 30, leases = 120,
    newLeasesPerMonth = 15)
  private lazy val ex = PdqGen.write(s"${TestSession.dir}/gen", seed = 5L, shape)
  private val opFields = Staging.OperatorRawFields :+ "CYCLE_YEAR_MONTH_NO"

  /** Per month: (rows, null cells) as Dsv.read sees them. */
  private def readBack(path: String, fields: Seq[String]): Map[Int, (Long, Long)] = {
    val df = Dsv.read(spark, path, fields)
    val nulls = df.columns.map(c => when(col(c).isNull, 1L).otherwise(0L)).reduce(_ + _)
    df.groupBy(col("CYCLE_YEAR_MONTH").cast("int").as("m"))
      .agg(count(lit(1)), sum(nulls)).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  test("the same seed writes the same export") {
    val again = PdqGen.write(s"${TestSession.dir}/gen-again", seed = 5L, shape)
    assert(again.months == ex.months)
    val read = (p: String) => new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), "UTF-8")
    assert(read(again.leaseDsv) == read(ex.leaseDsv))
  }

  test("Dsv.read sees exactly the planted rows and null tokens of each month") {
    val op = readBack(ex.operatorDsv, opFields)
    val lease = readBack(ex.leaseDsv, Staging.LeaseRawFields)
    ex.months.foreach { p =>
      val (opRows, opNulls) = op(p.yyyymm)
      val (leaseRows, leaseNulls) = lease(p.yyyymm)
      assert(opRows == p.operatorRows)
      assert(leaseRows == p.leaseRows)
      assert(opNulls + leaseNulls == p.nullTokens, s"month ${p.yyyymm}")
    }
    val below = Dsv.read(spark, ex.operatorDsv, opFields)
      .where(col("CYCLE_YEAR_MONTH").cast("int") < 200001).count() +
      Dsv.read(spark, ex.leaseDsv, Staging.LeaseRawFields)
        .where(col("CYCLE_YEAR_MONTH").cast("int") < 200001).count()
    assert(below == ex.months.map(_.pre2000Rows).sum)
  }

  test("the planted duplicates are exactly what the dedupe-agg collapses") {
    val wh = s"${TestSession.dir}/dup-wh"
    val p = ex.months(1)
    Pipeline.extract(spark, ex.leaseDsv, Staging.LeaseRawFields, s"$wh/raw_lease", p.yyyymm)
    val wide = Staging.leaseWide(spark.read.parquet(s"$wh/raw_lease"), Some(p.yyyymm))
    assert(wide.count() == p.leaseRows)
    assert(wide.count() - Staging.leaseMonthly(wide).count() == p.dupLeaseRows)
    assert(p.dupLeaseRows > 0)
  }

  test("Pipeline.extract keeps each month's planted rows and rejects the pre-2000 ones") {
    val wh = s"${TestSession.dir}/extract-wh"
    ex.months.foreach { p =>
      Pipeline.extract(spark, ex.operatorDsv, opFields, s"$wh/raw_operator", p.yyyymm)
      Pipeline.extract(spark, ex.leaseDsv, Staging.LeaseRawFields, s"$wh/raw_lease", p.yyyymm)
    }
    val kept = Seq("raw_operator", "raw_lease").map { t =>
      spark.read.parquet(s"$wh/$t").groupBy("yyyymm").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    }.reduce((a, b) => (a.keySet ++ b.keySet).map(k =>
      k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap)
    ex.months.foreach(p => assert(kept(p.yyyymm) == p.operatorRows + p.leaseRows))
    assert(kept.keySet == ex.months.map(_.yyyymm).toSet)
    val rejected = PdqMonths.invalidMonthRows(spark,
      Seq(ex.operatorDsv -> opFields, ex.leaseDsv -> Staging.LeaseRawFields))
    assert(rejected == ex.months.map(_.pre2000Rows).sum)
    // every month block balances: its export rows = kept + rejected
    assert(ex.dataRows == kept.values.sum + rejected)
  }
}
