package perfbench

/** Row count and content hash ([[Runner.contentHash]]) of each heavy
  * query over the sf0.01 tables in `perfbench/data` ([[Corpus]]), recorded
  * at the commit that added the benchmark. The row counts are those of
  * `graft.Verify`'s dump of the same queries at sf0.01, which the DuckDB
  * oracle (`tools/check_oracle.py`) passes. A query whose output changes
  * fails its unit.
  */
object Expected {
  val Queries: Map[String, (Long, BigDecimal)] = Map(
    "suffix_dup_positions" -> (500L, BigDecimal("70619946429800451249")),
    "winnow_dup_clusters" -> (159L, BigDecimal("119386094003325000051")),
    "sparse_cosine_pairs" -> (25L, BigDecimal("31179044159438782318")),
    "setsim_prefix_pairs" -> (25L, BigDecimal("-14405763277673032947")),
    "rollup_reconcile" -> (16580L, BigDecimal("381184035865943361717")))
}
