package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The metric catalogue: every metric the benchmark prints, with its unit,
  * in the order `BENCHMARK.json` declares it. [[Run.put]] accepts only
  * these names.
  */
final class Catalogue(val endToEnd: Seq[(String, String)], val perLayer: Seq[(String, String)]) {
  val units: Map[String, String] = (endToEnd ++ perLayer).toMap
}

object Catalogue {
  /** Read the `end_to_end` and `per_layer` lists of a `BENCHMARK.json`. */
  def load(path: String): Catalogue = {
    val json = new ObjectMapper().readTree(new File(path))
    def metrics(key: String): Seq[(String, String)] =
      json.get(key).elements().asScala.map(m =>
        m.get("name").asText() -> m.get("unit").asText()).toSeq
    new Catalogue(metrics("end_to_end"), metrics("per_layer"))
  }
}

/** The layers, queries and stream ops the workloads measure. */
object Metrics {
  val PdqSpans: Seq[String] = Seq("sources.extract", "pdq.staging",
    "pdq.curated.dims", "pdq.curated.facts", "pdq.dq")

  /** Suffix doubling, connected-component closure, the two similarity-pair
    * generators, and the relational control. Each costs seconds of per-job
    * overhead in a fresh JVM, which bounds how many fit in a run.
    */
  val Queries: Seq[String] = Seq("suffix_dup_positions", "winnow_dup_clusters",
    "sparse_cosine_pairs", "setsim_prefix_pairs", "rollup_reconcile")

  /** MinHash near-dup (band buckets in `transformWithState` state) and
    * sessionization (event-time session windows over the events stream).
    */
  val StreamOps: Seq[String] = Seq("neardup", "sessionize")
}
