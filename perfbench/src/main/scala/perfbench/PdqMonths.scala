package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.Casts
import graft.pdq.{Curated, Dq, Pipeline, Staging}
import graft.pdq.Pipeline.DqReport
import graft.sinks.Idempotent
import graft.sources.Dsv

/** `pdq_months`: the reference's monthly DAG over a seeded multi-month
  * export. The first month of the ladder is the untimed warm-up; the next
  * months are timed one `Pipeline.runMonth` each, in order, into a fresh
  * warehouse; then the middle month is re-run. Every month re-scans the
  * whole export, as the reference does.
  *
  * Checks: each month's raw slices hold exactly the rows the generator
  * planted for it, staging lease rows plus the planted duplicates equal
  * the raw lease rows, the rows below the month floor are exactly the
  * planted pre-2000 rows, and the re-run returns the same `DqReport` and
  * leaves every warehouse table's content (without `ingested_at`) as it
  * was.
  *
  * Traced, the timed pass runs [[tracedMonth]] in place of `runMonth`, so
  * its units sit where an untraced run's do; then the untraced pass runs,
  * untimed, into a second warehouse. Both must give the same reports and
  * table contents.
  */
object PdqMonths {
  val Shape = PdqGen.Shape(months = 6, operators = 300, leases = 4000,
    newLeasesPerMonth = 300)

  /** Timed ladder months for a run of `seconds`: one per 15 s. */
  def timedMonths(seconds: Int): Int = math.min(Shape.months - 1, math.max(1, seconds / 15))

  private val Measures = Seq("oil_bbl", "gas_mcf", "cond_bbl", "csgd_mcf")

  /** One pass over the ladder into one warehouse: the reports of its
    * months (None when one threw), the seconds of the warm-up month and of
    * the timed months, the re-run's report and seconds, and the table
    * hashes before and after the re-run.
    */
  final case class Pass(reports: Seq[Option[DqReport]], warmS: Double, monthS: Seq[Double],
                        rerun: Option[DqReport], rerunS: Option[Double], whBytes: Double,
                        before: Map[String, (Long, BigDecimal)],
                        after: Map[String, (Long, BigDecimal)]) {
    /** The timed units: the months after the first, then the re-run. */
    def unitS: Seq[Double] = monthS ++ rerunS
  }

  /** Run the ladder and the re-run of `again` with `month`, which returns a
    * month's report and its wall seconds; units are named with `suffix`.
    */
  def pass(spark: SparkSession, run: Run, ladder: Seq[PdqGen.MonthPlan],
           again: PdqGen.MonthPlan, warehouse: String, suffix: String)
          (month: (Int, String) => (DqReport, Double)): Pass = {
    def unit(name: String, m: Int): Option[(DqReport, Double)] = {
      val out = Runner.attempt(run, s"$name$suffix")(month(m, name))
      out.foreach { case (_, s) => Runner.log(f"$name$suffix $s%.2f s") }
      out
    }
    val (warm, warmS) = Runner.seconds(unit("month0", ladder.head.yyyymm))
    val months = ladder.zipWithIndex.tail.map { case (p, i) => unit(s"month$i", p.yyyymm) }
    val whBytes = Runner.dirBytes(new File(warehouse)).toDouble
    val before = tableHashes(spark, warehouse)
    val rerun = unit("rerun", again.yyyymm)
    Pass(warm.map(_._1) +: months.map(_.map(_._1)), warmS, months.flatten.map(_._2),
      rerun.map(_._1), rerun.map(_._2), whBytes, before, tableHashes(spark, warehouse))
  }

  def run(spark: SparkSession, run: Run, sessionReady: Double): Unit = {
    val ex = PdqGen.write(s"${run.workDir}/export", run.seed, Shape)
    Runner.log(s"export written: ${ex.dataRows} rows")
    val ladder = ex.months.take(1 + timedMonths(run.seconds))
    // re-run a middle month: one with later months loaded after it
    val mid = (ladder.size - 1) / 2
    val again = ladder(mid)
    val whA = s"${run.workDir}/warehouse"
    def untraced(suffix: String) = pass(spark, run, ladder, again, whA, suffix) { (m, _) =>
      Runner.seconds(Pipeline.runMonth(spark, ex.operatorDsv, ex.leaseDsv, whA, m))
    }

    // ---- the timed pass; traced, then the untraced one to compare ----
    val tracer = if (run.traced) Some(new Tracer(spark)) else None
    val audits = Seq.newBuilder[Audit]
    val timed = tracer match {
      case None => untraced("")
      case Some(tr) =>
        pass(spark, run, ladder, again, s"${run.workDir}/warehouse_traced", "-traced") {
          (m, unit) =>
            val t = tracedMonth(spark, tr, ex, s"${run.workDir}/warehouse_traced", m, unit)
            if (unit != "month0" && unit != "rerun") audits += t.audit
            (t.report, t.seconds)
        }
    }
    run.put("setup_s", sessionReady + timed.warmS)
    Runner.log(f"session $sessionReady%.1f s, warm-up ${timed.warmS}%.1f s")
    val plain = if (run.traced) untraced("") else timed

    // ---- output checks ----
    val counts = new Counts(spark, ex, whA)
    ladder.zipWithIndex.foreach { case (p, i) =>
      plain.reports(i).foreach(_ =>
        run.unit(s"month$i", counts.monthOk(p) && (i > 0 || counts.rejectedOk)))
    }
    def rerunOk(p: Pass, name: String): Unit = p.rerun.foreach { r =>
      val same = plain.reports(mid).contains(r) && p.before == p.after
      if (!same)
        Runner.log(s"$name differs: $r vs ${plain.reports(mid)}; same tables: ${p.before == p.after}")
      run.unit(name, same)
    }
    rerunOk(plain, "rerun")
    if (run.traced) {
      timed.reports.zip(plain.reports).zipWithIndex.foreach { case ((t, u), i) =>
        t.foreach(r => run.unit(s"month$i-traced", u.contains(r)))
      }
      rerunOk(timed, "rerun-traced")
      val same = timed.after == plain.after
      if (!same) Runner.log("traced warehouse differs from the untraced one")
      run.unit("warehouse-traced", same)
    }
    Runner.log("checks done")

    // ---- metrics ----
    run.put("total_s", timed.unitS.sum)
    tracer.foreach { tr =>
      tr.stop()
      tr.write(s"${run.cacheDir}/traces/pdq_months-seed${run.seed}.jsonl")
      putSpanStats(run, tr, (1 until ladder.size).map(i => s"month$i"))
      val a = audits.result()
      val scanned = a.map(_.scanned).sum.toDouble
      run.put("sources.extract.rows_scanned", scanned)
      run.put("sources.extract.rows_kept", a.map(_.kept).sum.toDouble)
      run.put("sources.extract.rows_rejected", a.map(_.rejected).sum.toDouble)
      run.put("sources.extract.keep_ratio",
        if (scanned > 0) a.map(_.kept).sum / scanned else 0.0)
      run.put("pdq.staging.rows_collapsed", a.map(_.collapsed).sum.toDouble)
      run.put("pdq.curated.dims.rows_rewritten", a.map(_.dimRows).sum.toDouble)
      run.put("pdq.month_s_p50", Runner.median(timed.monthS))
      run.put("pdq.rerun_s", timed.rerunS.getOrElse(0.0))
      run.put("pdq.rows_per_s",
        ladder.tail.map(_.exportRows).sum / math.max(timed.monthS.sum, 1e-9))
      run.put("pdq.bytes_per_input_byte", timed.whBytes / ex.bytes)
      run.put("trace.total_s", timed.unitS.sum)
    }
    run.put("ok_ratio", 1.0 - run.failed.toDouble / math.max(run.attempted, 1))
  }

  /** Row counts taken outside the layer spans for one traced month. */
  final case class Audit(scanned: Long, kept: Long, rejected: Long,
                         collapsed: Long, dimRows: Long)

  /** A traced month's report, audit and wall seconds (audit excluded). */
  final case class Traced(report: DqReport, audit: Audit, seconds: Double)

  /** `Pipeline.runMonth` recomposed from the same public calls in the same
    * order, with a span around each layer. It can lag a future change
    * inside `runMonth`; the equality checks on its reports and warehouse
    * catch that.
    */
  def tracedMonth(spark: SparkSession, tr: Tracer, ex: PdqGen.Export,
                  warehouse: String, yyyymm: Int, unit: String): Traced = {
    val opFields = OperatorFields
    val ((report, opMonthly, wide, leaseMonthly), seconds) = Runner.seconds {
      tr.span("month", unit) {
        tr.span("sources.extract", unit) {
          Pipeline.extract(spark, ex.operatorDsv, opFields, s"$warehouse/raw_operator", yyyymm)
          Pipeline.extract(spark, ex.leaseDsv, Staging.LeaseRawFields,
            s"$warehouse/raw_lease", yyyymm)
        }
        val (opMonthly, wide, leaseMonthly) = tr.span("pdq.staging", unit) {
          val rawOp = spark.read.parquet(s"$warehouse/raw_operator")
            .where(col("yyyymm") === yyyymm)
          val opMonthly = Staging.operatorMonthly(rawOp, Some(yyyymm)).cache()
          Idempotent.writeMonthSlice(opMonthly, s"$warehouse/staging_operator")
          val rawLease = spark.read.parquet(s"$warehouse/raw_lease")
            .where(col("yyyymm") === yyyymm)
          val wide = Staging.leaseWide(rawLease, Some(yyyymm)).cache()
          val leaseMonthly = Staging.leaseMonthly(wide).cache()
          Idempotent.writeMonthSlice(leaseMonthly, s"$warehouse/staging_lease")
          (opMonthly, wide, leaseMonthly)
        }
        tr.span("pdq.curated.dims", unit) {
          Pipeline.upsertDim(spark, Curated.dimOperator(opMonthly), Seq("operator_no"),
            s"$warehouse/dim_operator")
          Pipeline.upsertDim(spark, Curated.dimDistrict(leaseMonthly), Seq("district_no"),
            s"$warehouse/dim_district")
          Pipeline.upsertDim(spark, Curated.dimField(leaseMonthly), Seq("field_no"),
            s"$warehouse/dim_field")
          Pipeline.upsertDim(spark, Curated.dimLease(leaseMonthly), Seq("lease_key"),
            s"$warehouse/dim_lease")
        }
        tr.span("pdq.curated.facts", unit) {
          Idempotent.writeMonthSlice(Curated.factOperatorMonthly(opMonthly),
            s"$warehouse/fact_operator_monthly")
          Idempotent.writeMonthSlice(Curated.factLeaseMonthly(leaseMonthly),
            s"$warehouse/fact_lease_monthly")
        }
        val report = tr.span("pdq.dq", unit) {
          val negOp = Dq.negativeMeasures(opMonthly, Measures).count()
          val negLease = Dq.negativeMeasures(leaseMonthly, Measures).count()
          val dupOp = Dq.duplicateKeys(opMonthly, Seq("operator_no", "yyyymm")).count()
          val dupLease = Dq.duplicateKeys(leaseMonthly, Seq("lease_key", "yyyymm")).count()
          val mismatches = Dq.reconcile(
            opMonthly.select(col("operator_no") +: Measures.map(col): _*),
            leaseMonthly.select(col("operator_no") +: Measures.map(col): _*),
            "operator_no", Measures, tol = 0.5, checkType = "operator_vs_lease").count()
          DqReport(negOp, negLease, dupOp, dupLease, mismatches)
        }
        (report, opMonthly, wide, leaseMonthly)
      }
    }
    // ---- audit counts: their own span, outside the month's ----
    val audit = tr.span("audit", unit) {
      val scanned = Dsv.read(spark, ex.operatorDsv, opFields).count() +
        Dsv.read(spark, ex.leaseDsv, Staging.LeaseRawFields).count()
      val kept = Seq("raw_operator", "raw_lease").map { t =>
        spark.read.parquet(s"$warehouse/$t").where(col("yyyymm") === yyyymm).count()
      }.sum
      val rejected = invalidMonthRows(spark, exports(ex))
      val collapsed = wide.count() - leaseMonthly.count()
      val dimRows = Seq("dim_operator", "dim_district", "dim_field", "dim_lease")
        .map(t => spark.read.parquet(s"$warehouse/$t").count()).sum
      Audit(scanned, kept, rejected, collapsed, dimRows)
    }
    wide.unpersist(); opMonthly.unpersist(); leaseMonthly.unpersist()
    Traced(report, audit, seconds)
  }

  /** Export rows whose month key is missing or below the 200001 floor,
    * derived with the same casts `Pipeline.extract` uses.
    */
  def invalidMonthRows(spark: SparkSession, exports: Seq[(String, Seq[String])]): Long =
    exports.map { case (path, fields) =>
      val src = Dsv.read(spark, path, fields)
      def c(name: String) =
        if (src.columns.contains(name)) col(name) else lit(null).cast("string")
      src.where(!Casts.validMonth(Casts.yyyymmFromVariants(c("CYCLE_YEAR_MONTH"),
        c("CYCLE_YEAR_MONTH_NO"), c("CYCLE_YR_MO"), c("CYCLE_YEAR"), c("CYCLE_MONTH"))))
        .select(lit(1).as("one"))
    }.reduce(_ unionAll _).count()

  private val OperatorFields = Staging.OperatorRawFields :+ "CYCLE_YEAR_MONTH_NO"

  private def exports(ex: PdqGen.Export): Seq[(String, Seq[String])] =
    Seq(ex.operatorDsv -> OperatorFields, ex.leaseDsv -> Staging.LeaseRawFields)

  /** Per-layer medians over the traced timed months. */
  private def putSpanStats(run: Run, tr: Tracer, units: Seq[String]): Unit = {
    val spans = tr.spans
    Metrics.PdqSpans.foreach { name =>
      val per = units.flatMap(u => spans.find(s => s.name == name && s.unit == u))
      def med(f: Span => Double): Double = Runner.median(per.map(f))
      run.put(s"$name.s", med(_.seconds))
      run.put(s"$name.task_s", med(_.taskSeconds))
      run.put(s"$name.idle_core_share", med(_.idleCoreShare(Session.cores)))
      run.put(s"$name.jobs", med(_.jobs.toDouble))
      run.put(s"$name.stages", med(_.stages.toDouble))
      run.put(s"$name.shuffle_mb", med(_.shuffleBytes / 1048576.0))
      run.put(s"$name.spill_mb", med(_.spillBytes / 1048576.0))
    }
  }

  /** Content hash of every warehouse table, `ingested_at` excluded. */
  def tableHashes(spark: SparkSession, warehouse: String): Map[String, (Long, BigDecimal)] =
    Runner.contentHashes(Option(new File(warehouse).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).sortBy(_.getName).toSeq.map { d =>
        d.getName -> spark.read.parquet(d.getPath).drop("ingested_at")
      })

  /** The row-count balances of the untraced warehouse. */
  final class Counts(spark: SparkSession, ex: PdqGen.Export, warehouse: String) {
    private val rows: Map[(String, Int), Long] =
      Seq("raw_operator", "raw_lease", "staging_lease").map { t =>
        spark.read.parquet(s"$warehouse/$t").select(lit(t).as("t"), col("yyyymm"))
      }.reduce(_ unionAll _).groupBy("t", "yyyymm").count().collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    private def n(t: String, m: Int): Long = rows.getOrElse((t, m), 0L)

    /** Raw rows kept = planted rows; raw lease rows = staging lease rows
      * + collapsed duplicates.
      */
    def monthOk(p: PdqGen.MonthPlan): Boolean = {
      val m = p.yyyymm
      val ok = n("raw_operator", m) + n("raw_lease", m) == p.operatorRows + p.leaseRows &&
        n("raw_lease", m) == n("staging_lease", m) + p.dupLeaseRows
      if (!ok) Runner.log(s"month $m: raw ${n("raw_operator", m)}+${n("raw_lease", m)}, " +
        s"staging lease ${n("staging_lease", m)}, plan $p")
      ok
    }

    /** Rows below the floor = the planted pre-2000 rows of the export;
      * with the kept rows this balances every month block.
      */
    lazy val rejectedOk: Boolean = {
      val rejected = invalidMonthRows(spark, exports(ex))
      val planted = ex.months.map(_.pre2000Rows).sum
      if (rejected != planted) Runner.log(s"rejected rows $rejected, planted $planted")
      rejected == planted
    }
  }
}
