package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

import graft.streaming.{NearDupStream, SessionizeStream}

/** `queries_stream`: the read-only side of the engine over the fixed
  * [[Corpus]]. The heavy `SparkEntry.queries` entries run once each, after
  * `Memos.clearAll()`, so every trained memo is paid inside the timed pass;
  * then two of the `graft.streaming` ops `StreamingBench` drives each
  * replay the key-offset copies of the corpus as id-ordered single-file
  * micro-batches (`Trigger.AvailableNow`, RocksDB state, noop sink). The
  * seed permutes the order of the queries and of the ops.
  *
  * Checks: each query's row count and order-independent content hash equal
  * the values recorded in [[Expected]]; each op reads exactly the replay
  * input and keeps no more state rows than its bound.
  */
object QueriesStream {

  /** Micro-batches per op for a run of `seconds`. */
  def batchesPerOp(seconds: Int): Int = math.max(4, seconds / 8)

  val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def run(spark: SparkSession, run: Run, corpus: String, sessionReady: Double): Unit = {
    val bounds = Corpus.bounds(spark, corpus, run.cacheDir)
    val (docsIn, eventsIn) =
      Corpus.ensureChunks(spark, corpus, run.cacheDir, batchesPerOp(run.seconds))
    val docSchema = spark.read.parquet(docsIn).schema
    val eventSchema = spark.read.parquet(eventsIn).schema
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDb)
    val tracer = if (run.traced) Some(new Tracer(spark)) else None

    // ---- warm-up: one query outside the timed set, as graft.Bench does ----
    val (_, warmS) = Runner.seconds {
      graft.SparkEntry.queries("staging_events_monthly")(spark, corpus)
        .write.format("noop").mode("overwrite").save()
    }
    run.put("setup_s", sessionReady + warmS)
    Runner.log(f"session ${sessionReady}%.1f s, warm-up $warmS%.1f s")

    // ---- the queries ----
    graft.Memos.clearAll()
    val trained0 = graft.Memos.trainedEvents
    val queryS = Runner.permuted(Metrics.Queries, run.seed).flatMap { q =>
      runQuery(spark, run, tracer, q, Expected.Queries.get(q))(
        graft.SparkEntry.queries(q)(spark, corpus)).map(q -> _)
    }.toMap
    val trainings = graft.Memos.trainedEvents - trained0

    // ---- the stream ops ----
    val opRuns = Runner.permuted(Metrics.StreamOps, run.seed).flatMap { op =>
      val (in, schema, rowsIn, bound) =
        if (op == "sessionize") (eventsIn, eventSchema, bounds.nEvents, bounds.users)
        else (docsIn, docSchema, bounds.nDocs, bounds.near)
      val body = () => Runner.seconds(
        replay(spark, in, schema, s"${run.workDir}/chk_$op")(streamOp(op)))
      Runner.attempt(run, op)(tracer.fold(body())(_.span(s"streaming.$op", op)(body()))).map {
        case (progress, s) =>
          val o = OpRun(op, progress, s)
          val ok = o.rowsIn == rowsIn && o.stateRows <= bound
          if (!ok)
            Runner.log(s"$op: rows in ${o.rowsIn} of $rowsIn, state ${o.stateRows} (bound $bound)")
          Runner.log(f"$op $s%.2f s, ${o.progress.size} batches")
          run.unit(op, ok)
          o
      }
    }

    // ---- metrics ----
    val units = queryS.values.toSeq ++ opRuns.map(_.seconds)
    run.put("total_s", units.sum)
    run.put("ok_ratio", 1.0 - run.failed.toDouble / math.max(run.attempted, 1))
    tracer.foreach { tr =>
      tr.stop()
      tr.write(s"${run.cacheDir}/traces/queries_stream-seed${run.seed}.jsonl")
      tr.spans.filter(_.name.startsWith("queries.")).foreach { s =>
        run.put(s"${s.name}.s", s.seconds)
        run.put(s"${s.name}.jobs", s.jobs)
        run.put(s"${s.name}.stages", s.stages)
        run.put(s"${s.name}.shuffle_mb", s.shuffleBytes / 1048576.0)
        run.put(s"${s.name}.idle_core_share", s.idleCoreShare(Session.cores))
      }
      run.put("queries.total_s", queryS.values.sum)
      run.put("queries.max_s", if (queryS.isEmpty) 0.0 else queryS.values.max)
      run.put("trace.total_s", units.sum)
      run.put("memos.trainings", trainings.toDouble)
      opRuns.foreach { o =>
        val p = s"streaming.${o.op}"
        run.put(s"$p.batch_ms_p50", Runner.median(o.batchMs))
        run.put(s"$p.addbatch_ms_p50", Runner.median(o.duration("addBatch")))
        run.put(s"$p.planning_ms_p50", Runner.median(o.duration("queryPlanning")))
        run.put(s"$p.state_commit_ms_p50", Runner.median(o.commitMs))
        run.put(s"$p.state_rows", o.stateRows.toDouble)
        run.put(s"$p.state_mb", o.stateBytes / 1048576.0)
      }
      opRuns.foreach { o =>
        run.put(if (o.op == "sessionize") "stream.events_per_s" else "stream.docs_per_s",
          o.rowsIn / o.seconds)
      }
      val batches = opRuns.flatMap(_.batchMs)
      run.put("stream.batch_ms_p50", Runner.median(batches))
      run.put("stream.batch_ms_max", if (batches.isEmpty) 0.0 else batches.max)
    }
  }

  /** Run one query, consumed by one count-and-hash action, and count its
    * unit: failed when it throws or its count and hash differ from `want`.
    * Returns its wall seconds when it ran.
    */
  def runQuery(spark: SparkSession, run: Run, tracer: Option[Tracer], name: String,
               want: Option[(Long, BigDecimal)])(query: => DataFrame): Option[Double] = {
    val body = () => Runner.seconds {
      val got = Runner.contentHash(query)
      spark.catalog.clearCache()
      got
    }
    Runner.attempt(run, name)(tracer.fold(body())(_.span(s"queries.$name", name)(body())))
      .map { case (got, s) =>
        if (!want.contains(got)) Runner.log(s"$name: got $got, expected $want")
        Runner.log(f"$name $s%.2f s")
        run.unit(name, want.contains(got))
        s
      }
  }

  /** The op as StreamingBench builds it. */
  def streamOp(op: String): DataFrame => DataFrame = op match {
    case "neardup" => s => NearDupStream.nearDupVerdicts(s, "doc_id", "text").toDF()
    case "sessionize" => s =>
      SessionizeStream.sessions(s, "user_id", "ts", gapSeconds = 1800L,
        watermarkDelay = "1 hour").toDF()
  }

  /** Replay the files under `in` one per micro-batch to completion;
    * returns the progress of every batch that read rows.
    */
  def replay(spark: SparkSession, in: String, schema: StructType, checkpoint: String)
            (build: DataFrame => DataFrame): Seq[StreamingQueryProgress] = {
    val q = build(spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(in))
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .format("noop").start()
    try q.awaitTermination() finally q.stop()
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
  }

  /** One op's replay, read from its progress reports. */
  final case class OpRun(op: String, progress: Seq[StreamingQueryProgress], seconds: Double) {
    def rowsIn: Long = progress.map(_.numInputRows).sum
    def batchMs: Seq[Double] = progress.map(_.batchDuration.toDouble)
    def duration(key: String): Seq[Double] =
      progress.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0))
    def commitMs: Seq[Double] = progress.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)
    private def lastOps = progress.lastOption.toSeq.flatMap(_.stateOperators.toSeq)
    def stateRows: Long = lastOps.map(_.numRowsTotal).sum
    /** RocksDB's SST bytes plus pinned block memory, as StreamingBench reads them. */
    def stateBytes: Long = lastOps.flatMap(_.customMetrics.asScala).collect {
      case (k, v) if k == "rocksdbSstFileSize" || k == "rocksdbPinnedBlocksMemoryUsage" =>
        v.longValue
    }.sum
  }
}
