package perfbench

import graft.operators.{Dedup, Html}

/** The query lists of the two query workloads. Each list takes every
  * family of its side of the registry, sized so that one process (set-up,
  * the warm-up pass, the timed passes) stays within the per-run time the
  * harness allows; README.md lists what is left out and why. */
object Workloads {
  val sqlAnalytics = QuerySuite.Spec(
    scale = "sf0.1",
    queries = Seq(
      "q1_pricing_summary", "q9_product_profit", "flagship_daily_gate",
      "q_sessionize", "q_approx_sketches", "q_lake_spj_join", "q_merge_upsert"),
    artifacts = Seq.empty)

  val corpusOps = QuerySuite.Spec(
    scale = "sf0.01",
    queries = Seq(
      "text_bpe_pairs", "text_tfidf_top_terms", "text_html_extract",
      "dedup_simhash", "dedup_incremental_indexed",
      "sim_embed_near_dup", "pipeline_quality_report", "mm_frame_sample"),
    artifacts = Seq(
      "dedup_index" -> ((s, d) => { Dedup.dedupIndexPath(s, d); () }),
      "html_fixture" -> ((s, d) => { Html.htmlFixturePath(s, d); () })))
}
