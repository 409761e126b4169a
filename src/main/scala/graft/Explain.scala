package graft

/** Plan-audit main: prints the formatted physical plan of selected
  * queries so scan pushdown (PushedFilters / ReadSchema), join
  * strategies and codegen spans can be inspected per round. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_scan_filter_project", "q_broadcast_join_agg",
        "q_shuffle_join_agg", "q_cosine_topk", "q_ngram_jaccard",
        "q_embed_neardup_lsh", "q_range_join_binned", "q_asof_join",
        "q_tfidf", "q_pipeline_e2e", "q_stratified_sample",
        "q_weighted_sample", "q_approx_percentiles", "q_incremental_lsh")
    val spark = GraftSession("graft-explain", 4, logLevel = "ERROR")
    names.foreach { n =>
      println(s"===== $n =====")
      Catalog.byName(n).fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
