package graft.tools

/** Prints formatted physical plans for selected queries so scan pruning
  * (`PushedFilters`/`ReadSchema`), join strategies (BroadcastHashJoin vs
  * SortMergeJoin), and WholeStageCodegen coverage can be audited.
  *
  * Usage: runMain graft.tools.ExplainAudit <sfDir> [queryName ...]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_pricing_summary", "q02_filter_project", "q03_shipping_priority",
        "q04_brand_volume", "q05_top_orders", "q14_local_supplier_volume",
        "t02_term_counts", "tr01_ranks", "d04_minhash_neardup", "s01_cosine_topk",
        "c07_stratified_sample", "d13_containment", "e02_standardize",
        // round-6 pipeline gates: LM scoring joins must broadcast the
        // vocab tables, chunking must stay shuffle-free, the star
        // rounds must stay equi-join-only
        "a24_lm_surprisal", "a26_dsir_weights", "c21_chunk_windows",
        "d18_neardup_components", "s11_hybrid_rrf", "e07_mmd_drift",
        // late-round-6 harnesses: the dup-gram diamond must read its
        // persisted table twice, the ANN legs must broadcast the query
        // side, the balanced sample must keep the window per-cluster
        "d19_dupgram_rate", "s12_ann_recall", "s13_lsh_band_sweep",
        "s14_cluster_balanced_sample", "t21_bpe_optimality",
        "a28_lang_purity",
        // round-6 sampling/projection batch: sk10/c25 must show
        // WindowGroupLimit (partial top-k, no whole-source sort), e08
        // must be a single zero-shuffle project over the scan
        "sk10_bottomk_quantiles", "e08_random_projection",
        "c25_source_cap",
        // classifier distillation + IVFADC: the scoring pass must be a
        // single narrow project (model as literals), and every IVFADC
        // codebook/LUT join must broadcast — the code table may never
        // be on the build side of a shuffle
        "a29_lr_quality", "s15_ivfadc", "ls10_nmf_topics",
        // late-round-6 batch: d20's gram diamond must reuse its
        // persisted table (one scan+fanout, not three), d21/d22 must
        // broadcast the dim/edge sides, s18/s20 must broadcast the
        // query batch, a32's totals must broadcast into the scored
        // table, q53's per-part avg must co-partition with the fact
        "d20_span_removal", "d21_record_linkage", "d22_triangle_census",
        "s18_hard_negatives", "s20_filtered_ann", "a32_source_keyness",
        "q53_small_qty_revenue", "q54_large_orders",
        "sk11_hll_precision_sweep", "t22_unigram_train",
        // round-8 fused expressions: d06/t10/d05's scans must show the
        // DotProduct / CharNgrams / SimHash64 expressions inside
        // WholeStageCodegen spans (no BatchEvalPython, no interpreted
        // HOF fallback), d31's Bloom probe must be a narrow Filter
        "d06_cosine_neardup", "t10_char_bigrams", "d05_simhash_neardup",
        "d31_dupgram_sketch")
    // (mm10_phash is an RDD-kernel query — no Catalyst plan to audit)
    val spark = graft.LocalSession("graft-explain", 4)
    val qmap = graft.SparkEntry.allQueries
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try println(qmap(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
