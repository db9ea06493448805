package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one run knows about itself: its arguments, the units it attempted
  * and failed, and the metric values it measured.
  */
final class Run(val workload: String, val seed: Long, val seconds: Int,
                val traced: Boolean, val workDir: String, val cacheDir: String,
                catalogue: Catalogue) {
  private var attemptedUnits = 0
  private var failedUnits = 0
  private val values = mutable.LinkedHashMap.empty[String, Double]

  /** Count one unit; `ok = false` when it threw or an output check failed. */
  def unit(name: String, ok: Boolean): Unit = {
    attemptedUnits += 1
    if (!ok) {
      failedUnits += 1
      Runner.log(s"FAILED unit $name")
    }
  }

  def put(name: String, value: Double): Unit = {
    require(catalogue.units.contains(name), s"undeclared metric $name")
    values(name) = value
  }

  def attempted: Int = attemptedUnits
  def failed: Int = failedUnits

  /** The result line: every end-to-end metric untraced, every per-layer
    * metric traced. A per-layer metric of a layer this workload does not
    * reach reads 0.
    */
  def resultJson: String = {
    val declared = if (traced) catalogue.perLayer else catalogue.endToEnd
    if (!traced) {
      val missing = declared.map(_._1).filterNot(values.contains)
      require(missing.isEmpty, s"end-to-end metrics not measured: $missing")
    }
    val body = declared.map { case (name, unit) =>
      s""""$name":{"value":${Runner.num(values.getOrElse(name, 0.0))},"unit":"$unit"}"""
    }.mkString(",")
    s"""{"correct":${failedUnits == 0},"attempted":$attemptedUnits,""" +
      s""""failed":$failedUnits,"metrics":{$body}}"""
  }
}

object Runner {
  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] $sinceJvmStart%7.1f $msg")

  /** A JSON number with all its digits; non-finite values become 0. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Median of a sample; 0 for an empty one. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  def peakHeapMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)

  /** Order-independent content fingerprint of a frame: row count and the
    * sum of a 64-bit hash over all columns (in name order).
    */
  def contentHash(df: DataFrame): (Long, BigDecimal) =
    contentHashes(Seq("" -> df))("")

  /** [[contentHash]] of several frames in one Spark job. */
  def contentHashes(frames: Seq[(String, DataFrame)]): Map[String, (Long, BigDecimal)] =
    if (frames.isEmpty) Map.empty
    else frames.map { case (name, df) =>
      val cols = df.columns.sorted.toIndexedSeq.map(col)
      df.agg(lit(name).as("name"), count(lit(1)).as("n"),
        sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("h"))
    }.reduce(_ unionAll _).collect().map { r =>
      r.getString(0) -> (r.getLong(1) ->
        Option(r.getDecimal(2)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
    }.toMap

  def permuted[A](xs: Seq[A], seed: Long): Seq[A] = new scala.util.Random(seed).shuffle(xs)

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Run a unit body; a throw counts the unit as failed instead of ending
    * the run.
    */
  def attempt[A](run: Run, name: String)(body: => A): Option[A] =
    try Some(body)
    catch { case e: Exception =>
      log(s"$name threw: $e")
      run.unit(name, ok = false)
      None
    }
}
