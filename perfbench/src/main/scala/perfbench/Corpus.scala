package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The fixed, read-only tables the `queries_stream` workload reads:
  * `documents`, `events`, `orders` and `lineitem` of the repository's
  * sf0.01 test data (TESTDATA.md), copied byte for byte into
  * `perfbench/data/sf0.01` so that a run reads nothing outside its
  * checkout. `SparkEntry.queries` reads that directory as it reads any sf
  * directory, and the recorded query hashes ([[Expected]]) hold for
  * exactly these files.
  *
  * The stream replay input and the state bounds derived from it are
  * written once per checkout under the cache directory; a `_COMPLETE`
  * marker makes later runs reuse them.
  */
object Corpus {

  /** Stream replay input: StreamingBench's recipe of key-offset copies
    * with the same id strides, at copy counts that keep a batch small.
    */
  val DocCopies = 4
  val EventCopies = 2
  val DocStride = 10000L
  val EventStride = 1000000L

  /** State bounds the stream ops must stay within, measured batch-side
    * from the replay input the way StreamingBench measures them.
    */
  final case class Bounds(nDocs: Long, nEvents: Long, near: Long, users: Long)

  def bounds(spark: SparkSession, data: String, cache: String): Bounds = {
    val marker = new File(s"$cache/bounds/_COMPLETE")
    if (!marker.exists()) {
      val b = measureBounds(spark, data)
      marker.getParentFile.mkdirs()
      Files.write(marker.toPath, Seq(b.nDocs, b.nEvents, b.near, b.users)
        .mkString(",").getBytes(StandardCharsets.UTF_8))
    }
    val v = new String(Files.readAllBytes(marker.toPath), StandardCharsets.UTF_8)
      .trim.split(",").map(_.toLong)
    Bounds(v(0), v(1), v(2), v(3))
  }

  /** Key-offset copies of a table (StreamingBench's replication). */
  private def replicate(t: DataFrame, copies: Int, idCols: Map[String, Long]): DataFrame =
    (0 until copies).map { c =>
      idCols.foldLeft(t) { case (df, (idc, stride)) =>
        df.withColumn(idc, col(idc) + lit(c * stride))
      }
    }.reduce(_ unionAll _)

  def replayDocs(spark: SparkSession, dir: String): DataFrame =
    replicate(graft.Tables.load(spark, dir, "documents").select(col("doc_id"), col("text")),
      DocCopies, Map("doc_id" -> DocStride))

  def replayEvents(spark: SparkSession, dir: String): DataFrame =
    replicate(graft.Tables.load(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts")),
      EventCopies, Map("event_id" -> EventStride, "user_id" -> DocStride))

  private def measureBounds(spark: SparkSession, dir: String): Bounds = {
    val docs = replayDocs(spark, dir).localCheckpoint(true)
    val events = replayEvents(spark, dir)
    def distinctCount(df: DataFrame): Long = df.distinct().count()
    val nDocs = docs.count()
    val sigs = graft.llm.MinHash.signatures(docs, "doc_id", "text", 3, 8)
    // k=8 with two rows per band gives four bands per doc
    val buckets = distinctCount(sigs.select(graft.llm.MinHash.bandCols(8, 2): _*)
      .select(posexplode(array((0 until 4).map(b => col(s"band_$b")): _*))
        .as(Seq("bi", "bv"))))
    Bounds(
      nDocs = nDocs,
      nEvents = events.count(),
      near = math.min(4L * nDocs, buckets * 1000L),
      users = distinctCount(events.select(col("user_id"))))
  }

  /** The replay inputs split into `n` chunks each, written once per
    * checkout: (documents dir, events dir).
    */
  def ensureChunks(spark: SparkSession, data: String, cache: String, n: Int): (String, String) = {
    val out = s"$cache/replay-$n"
    val marker = new File(s"$out/_COMPLETE")
    if (!marker.exists()) {
      writeChunks(replayDocs(spark, data), "doc_id", n, s"$out/docs")
      writeChunks(replayEvents(spark, data), "event_id", n, s"$out/events")
      Files.write(marker.toPath, Array.emptyByteArray)
    }
    (s"$out/docs", s"$out/events")
  }

  /** Split a replay input into `n` id-ordered single-file chunks under
    * `out/`, one Spark job for all of them. File modification times ascend
    * with the chunk index, so a file stream with `maxFilesPerTrigger=1`
    * replays them in id order.
    */
  def writeChunks(df: DataFrame, idCol: String, n: Int, out: String): Unit = {
    val bounds = df.stat.approxQuantile(idCol, (1 until n).map(_.toDouble / n).toArray, 0.0)
    val chunkOf = bounds.zipWithIndex.foldRight(lit(n - 1)) { case ((hi, i), acc) =>
      when(col(idCol) <= hi.toLong, lit(i)).otherwise(acc)
    }
    val staged = s"$out/_staged"
    df.withColumn("chunk", chunkOf).repartition(col("chunk"))
      .write.mode("overwrite").partitionBy("chunk").parquet(staged)
    val base = System.currentTimeMillis() - 10L * 60 * 1000
    (0 until n).foreach { i =>
      val files = Option(new File(s"$staged/chunk=$i").listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(files.length == 1, s"chunk $i of $idCol has ${files.length} files")
      val dst = Paths.get(out, f"c$i%03d.parquet")
      Files.move(files.head.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(base + i * 1000L)
    }
    Runner.deleteTree(new File(staged))
  }
}
