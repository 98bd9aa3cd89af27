package graft.perfbench

/** The benchmark's workloads: named sets of `SparkEntry.queries` entries.
  * README.md records why each set was chosen and what it stresses.
  */
object Workloads {
  val all: Map[String, Seq[String]] = Map(
    // fixed per-query cost dominates: ~1 task per stage, several jobs per
    // query; aggregate, window, anti join, the simhash kernel (functions/),
    // as-of join (plans/) and scalar subqueries. Read-only.
    "short-sql" -> Seq("q02_cond_agg", "q05_window_rank", "q12_anti_join",
      "q24_simhash", "q36_asof_join", "q58_subqueries"),
    // writes beside reads: a pruned MERGE commit, a tx table tailed as a
    // stream source (streaming/), and a metadata count read through
    // format("tx") (sources/); commits and micro-batches run inside the
    // query factory
    "tx-incremental" -> Seq("q163_tx_merge_pruned", "q202_tx_stream_source",
      "q210_tx_meta_count"))
}
