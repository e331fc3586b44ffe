package graft
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    for (q <- Seq("q_filter_project", "q_join_dims", "q_customer_index",
        "q_summary_lattice", "q_knn_topk", "q_ontology_expand",
        "q_agg_pricing", "q_donor_index", "q_event_windows",
        "q_diagnosis_nest", "q_study_summary", "q_study_index",
        "q_interval_join", "q_bloom_novel", "q_redact_pii",
        "q_weighted_mix", "q_token_budget", "q_prep_pipeline",
        "q_band_join", "q_jaccard_exact", "q_tfidf", "q_bm25",
        "q_cms_hot", "q_binary_ingest",
        // round 5
        "q_global_rank", "q_salted_join", "q_bloom_join",
        "q_snapshot_diff", "q_scd1_merge", "q_scd2_merge",
        "q_semantic_dedup", "q_index_refresh",
        // round 6: the ADC scoring faces — audited for codegen
        // fallback (answer: the m-way element_at chains COMPILE and
        // sit inside WholeStageCodegen; PlanShapeSpec pins it)
        "q_knn_pq", "q_knn_ivfpq",
        // round 6b: new operator families
        "q_containment", "q_pmi", "q_collocations", "q_gap_fill",
        "q_chunk_overlap", "q_outliers", "q_weighted_sample",
        "q_media_phash",
        // round 7: graph / LM / linalg / density families
        "q_connected_components", "q_pagerank", "q_perplexity",
        "q_postings", "q_vocab", "q_random_projection",
        "q_covariance", "q_pca_project", "q_dbscan",
        "q_leakage_safe_split",
        // round 9: drift / binning / compressed retrieval
        "q_pagerank_directed", "q_drift_psi", "q_drift_by_type",
        "q_drift_ks", "q_equidepth", "q_cutpoint_binning",
        "q_embed_quantize", "q_knn_int8")) {
      val qe = SparkEntry.queries(q)(spark, d).queryExecution
      // EXECUTE this queryExecution before printing: an unexecuted
      // AdaptiveSparkPlanExec prints its initial plan with no
      // WholeStageCodegen markers, so wsc= would read 0 for every
      // AQE query regardless of what actually ran (the round-5 bench
      // mis-attribution's plan-side sibling)
      try qe.toRdd.count() catch { case e: Throwable =>
        println(s"$q FAILED to execute: ${e.getMessage}")
      }
      val plan = qe.executedPlan.toString
      def n(p: String) = p.r.findAllIn(plan).length
      println(f"$q%-20s bhj=${n("BroadcastHashJoin")} smj=${n("SortMergeJoin")} " +
        f"exch=${n("Exchange")} scans=${n("FileScan|Scan parquet")} " +
        f"pushed=${n("PushedFilters: \\[[^\\]]")} wsc=${n("\\*\\(\\d+\\)")}")
    }
    // detail: does the filter reach the scan in q_filter_project?
    val fp = SparkEntry.queries("q_filter_project")(spark, d).queryExecution.executedPlan.toString
    println(fp.split("\n").filter(_.contains("PushedFilters")).take(2).mkString("\n").take(500))
    spark.stop()
  }
}
