package perfbench

/** A named list of queries that one closed-loop client runs pass after pass,
  * and whether the session cache is cleared before every execution. */
final case class Workload(name: String, queries: Seq[String], coldCache: Boolean) {
  /** The seeded permutation of `queries` that pass `pass` runs. */
  def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
}

object Workload {
  /** Star-schema queries: per-query fixed costs (build, plan, scheduling,
    * scan, shuffle) dominate; no text operator, no session cache. */
  val SqlStar: Seq[String] = Seq(
    "flagship", "scan_parquet", "project_select", "filter_predicate",
    "agg_hash_group", "agg_count_distinct", "agg_cube", "join_inner_hash",
    "join_broadcast", "join_multiway", "join_asof", "window_ranking",
    "topk_per_group", "sort_global", "sort_topk", "distinct_rows",
    "set_union_distinct", "stream_session", "skew_salted_join")

  /** Text and dedup queries: tokenize and shingle caches built per query. */
  val Text: Seq[String] = Seq(
    "mr_wordcount", "llm_exact_dedup", "llm_neardup_pairs", "llm_dedup_clusters",
    "llm_ingest_dedup", "llm_bm25", "llm_tfidf", "llm_pipeline_e2e")

  val Names: Seq[String] = Seq("sql_star", "text_cold")

  def apply(name: String): Workload = name match {
    case "sql_star"  => Workload(name, SqlStar, coldCache = false)
    // the session cache is cleared before every execution, so each query
    // pays its own cache build, as a one-shot data-prep job does
    case "text_cold" => Workload(name, Text, coldCache = true)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }
}
