package perfbench

/** One benchmark run in a fresh JVM:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --benchmark <BENCHMARK.json> --data <dir> --work <dir> --cache <dir>`.
  *
  * `--benchmark` names the metric catalogue; `--data` holds the fixed
  * tables `queries_stream` reads; `--work` is this run's working
  * directory; `--cache` keeps what later runs of the same checkout may
  * reuse (the stream replay input) and the span files of traced runs. The
  * last stdout line is the result JSON.
  */
object Main {
  val Workloads: Seq[String] = Seq("pdq_months", "queries_stream")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.contains(workload),
      s"unknown workload $workload; expected one of ${Workloads.mkString(", ")}")
    val run = new Run(workload, opt("seed").toLong, opt("seconds").toInt,
      opt("trace") == "1", opt("work"), opt("cache"), Catalogue.load(opt("benchmark")))
    val spark = Session.build(s"${run.workDir}/spark")
    val sessionReady = Runner.sinceJvmStart
    try {
      workload match {
        case "pdq_months" => PdqMonths.run(spark, run, sessionReady)
        case "queries_stream" => QueriesStream.run(spark, run, opt("data"), sessionReady)
      }
      if (run.traced) {
        run.put("jvm.peak_heap_mb", Runner.peakHeapMb)
        // the listener's self-test: a known two-stage query
        val (jobs, stages) = SelfTest.twoStageCounts(spark)
        run.unit("tracer-self-test", jobs == SelfTest.Jobs && stages == SelfTest.Stages)
      }
      println(run.resultJson)
      Runner.log("done")
    } finally spark.stop()
  }
}
