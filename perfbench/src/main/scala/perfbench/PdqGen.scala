package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import graft.pdq.Staging

/** Seeded generator of the two `}`-delimited PDQ exports (operator and
  * lease cycles, FIXTURES.md §A1 shape) covering several consecutive
  * months in one file each, as the reference's monthly DAG receives them.
  *
  * What it plants, per month block of each file:
  *  - one row per operator and per active lease; leases are added every
  *    month, so `dim_lease` grows with the ladder;
  *  - duplicate lease rows (same `(district-lease, month)` key, other
  *    measures) that the staging dedupe-agg collapses; exactly one extra
  *    copy per duplicated key, so the double sums do not depend on order;
  *  - pre-2000 rows, which extract drops at the 200001 floor;
  *  - the edge tokens `""`, `NULL`, `NaN` (null tokens) and `-5`
  *    (a negative measure) in measure cells.
  *
  * Dimension attributes are constant per key across months, so re-running
  * an old month leaves the SCD1 dimensions as they were.
  */
object PdqGen {

  /** What one month's block of both files holds. `operatorRows` and
    * `leaseRows` count rows whose month key is this month (duplicates
    * included); `pre2000Rows` are the block's extra rows below the floor;
    * `nullTokens` counts the valid rows' cells that read back as null.
    */
  final case class MonthPlan(
      yyyymm: Int, operatorRows: Long, leaseRows: Long, pre2000Rows: Long,
      dupLeaseRows: Long, nullTokens: Long) {
    def exportRows: Long = operatorRows + leaseRows + pre2000Rows
  }

  final case class Export(
      operatorDsv: String, leaseDsv: String, months: Seq[MonthPlan]) {
    def bytes: Long = new File(operatorDsv).length + new File(leaseDsv).length
    def dataRows: Long = months.map(_.exportRows).sum
  }

  final case class Shape(
      months: Int, operators: Int, leases: Int, newLeasesPerMonth: Int,
      firstMonth: Int = 202301)

  val NullTokens: IndexedSeq[String] = IndexedSeq("", "NULL", "NaN")

  def monthAt(first: Int, i: Int): Int = {
    val m0 = (first / 100) * 12 + (first % 100 - 1) + i
    (m0 / 12) * 100 + m0 % 12 + 1
  }

  def write(dir: String, seed: Long, shape: Shape): Export = {
    new File(dir).mkdirs()
    val rnd = new scala.util.Random(seed)
    val opPath = s"$dir/OG_OPERATOR_CYCLE_DATA_TABLE.dsv"
    val leasePath = s"$dir/OG_LEASE_CYCLE_DATA_TABLE.dsv"
    val opOut = writer(opPath)
    val leaseOut = writer(leasePath)
    // the operator export also carries the CYCLE_YEAR_MONTH_NO variant
    // column that Pipeline.runMonth declares for it (left empty here)
    val opCols = Staging.OperatorRawFields :+ "CYCLE_YEAR_MONTH_NO"
    opOut.write(opCols.mkString("}")); opOut.newLine()
    leaseOut.write(Staging.LeaseRawFields.mkString("}")); leaseOut.newLine()

    val plans = (0 until shape.months).map { i =>
      val yyyymm = monthAt(shape.firstMonth, i)
      var nulls = 0L
      // a measure cell: mostly a 2-decimal volume, sometimes an edge token
      def measure(): String = {
        val u = rnd.nextDouble()
        if (u < 0.03) { nulls += 1; NullTokens(rnd.nextInt(NullTokens.size)) }
        else if (u < 0.035) "-5"
        else f"${rnd.nextInt(500000) / 100.0}%.2f"
      }
      def ym(y: Int): Seq[String] =
        Seq((y / 100).toString, f"${y % 100}%02d", y.toString)
      // ---- operators: one row each; every 17th has a NULL name ----
      (0 until shape.operators).foreach { k =>
        val name = if (k % 17 == 0) { nulls += 1; "NULL" } else s"OPERATOR $k CO"
        val row = Seq((100000 + k).toString, name) ++ ym(yyyymm) ++
          Seq.fill(4)(measure()) :+ { nulls += 1; "" }
        opOut.write(row.mkString("}")); opOut.newLine()
      }
      // ---- leases: the first `active` leases, some duplicated ----
      val active = shape.leases + i * shape.newLeasesPerMonth
      var leaseRows = 0L
      var dups = 0L
      def leaseRow(j: Int): String = {
        // every 5th lease reports through the OIL_PROD_VOL variants
        val (plain, prefixed) =
          if (j % 5 == 0) (Seq.fill(4)(measure()), Seq.fill(4)(""))
          else (Seq.fill(4)(""), Seq.fill(4)(measure()))
        nulls += 4
        val attrs = Seq((100000 + j % shape.operators).toString,
          f"${1 + j % 12}%02d", (10000 + j % 300).toString,
          (20000 + j).toString, s"LEASE $j UNIT")
        (attrs ++ ym(yyyymm) ++ plain ++ prefixed).mkString("}")
      }
      (0 until active).foreach { j =>
        leaseOut.write(leaseRow(j)); leaseOut.newLine(); leaseRows += 1
        if (rnd.nextDouble() < 0.04) {
          leaseOut.write(leaseRow(j)); leaseOut.newLine(); leaseRows += 1; dups += 1
        }
      }
      // ---- pre-2000 rows in both files (no null tokens in them) ----
      val pre = 1 + rnd.nextInt(4)
      (0 until pre).foreach { p =>
        val old = monthAt(199901, (i + p) % 12)
        opOut.write((Seq("999999", "OLD OPERATOR") ++ ym(old) ++
          Seq("1.00", "1.00", "1.00", "1.00", "")).mkString("}"))
        opOut.newLine()
        leaseOut.write((Seq("999999", "01", "1", "1", "OLD LEASE") ++ ym(old) ++
          Seq.fill(8)("1.00")).mkString("}"))
        leaseOut.newLine()
      }
      MonthPlan(yyyymm, shape.operators.toLong, leaseRows, 2L * pre, dups, nulls)
    }
    opOut.close(); leaseOut.close()
    Export(opPath, leasePath, plans)
  }

  private def writer(path: String): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path),
      StandardCharsets.UTF_8), 1 << 16)
}
