package graft

/** Dev harness: time a fixed headline-query set against one corpus dir and
  * print one parseable line per query — the scale-headroom evidence run
  * (SCALE.md §growth): the bench top-10 plus the recall-scoreboard /
  * calibration-dial families, whose ground-truth passes are the newest
  * bounded plans. min and median of reps in a warm JVM after an untimed
  * warm-up pass: [[BenchSome]]'s loop.
  *
  * Usage: runMain graft.ScaleBench <sfDir> [reps] [label] [query...]
  * (trailing query names restrict the run — the decade-2 dev loop, where
  * the full headline would spend minutes per share-contract ANN rep).
  */
object ScaleBench {
  val Headline: Seq[String] = Seq(
    "q141_robust_outliers", "q236_pq_ann", "q249_ivfpq_ann",
    "q66_knn_ivf", "q86_kmeans_train", "q102_pagerank", "q184_basket_affinity",
    "q41_dedup_ngram_jaccard", "q67_dedup_embedding_lsh",
    "q130_quantized_ann", "q141b_robust_outliers_approx",
    "q251_probe_depth_calibration", "q261_minhash_recall_eval",
    "q272_minhash_recall_eval_abs",
    "q262_simhash_recall_eval", "q263_media_simhash_recall_eval",
    "q264_embedding_recall_eval", "q265_bucket_cap_dial",
    "q266_media_cap_dial", "q268_lsh_table_dial",
    "q270_embedding_recall_eval_abs", "q271_lsh_table_dial_abs",
    "q273_minhash_cap_dial", "q274_minhash_cap_dial_abs",
    "q253_media_cdc_containment", "q275_cdc_recall_eval",
    "q276_cdc_cap_dial", "q277_duplicate_span_extraction",
    "q278_contamination_runs",
    "q279_pq_ann_fixed", "q280_ivfpq_ann_fixed", "q281_ivfpq_index_serve",
    "q283_simhash_postings_serve", "q284_minhash_postings_serve",
    "q285_lsh_postings_serve", "q286_cdc_postings_serve",
    "q287_chunk_store_takedown", "q288_span_owner_takedown",
    "q293_lsh_guarded_serve", "q294_simhash_lifecycle_serve",
    "q295_release_pinned_pq_serve", "q296_crossmodal_release_consensus")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val label = if (args.length > 2) args(2) else sfDir
    val only = args.drop(3).toSet
    val unknown = only -- Headline.toSet
    require(unknown.isEmpty,
      s"unknown headline queries: ${unknown.toSeq.sorted.mkString(", ")} " +
        s"(valid: ${Headline.mkString(", ")})")
    BenchSome.run(sfDir, reps, if (only.isEmpty) Headline else Headline.filter(only),
      s"SCALEBENCH $label")
  }
}
