package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 stress spot-run (round-5 plan item): replicate the sf0.1 tables
  * 10× with disjoint key ranges into a scratch dir, then wall-time the
  * heaviest gate operators end-to-end (noop sink, like Bench). The goal
  * is NOT correctness (keys are synthetic offsets; the DuckDB gate stays
  * on the driver-generated sf dirs) but termination + scaling shape:
  * every candidate-generating operator must stay bucketed — a quadratic
  * path that survived sf0.1 by luck becomes obvious at sf1.
  *
  * Usage: runMain graft.Stress [outDir] [queryRegex] [copies]
  *
  * `queryRegex = all` (round-9) sweeps the ENTIRE registry —
  * `SparkEntry.allQueries`, name-sorted — instead of the curated
  * heavy-target list: the scale-evidence ladder's last rung is every
  * query timed at sf1, with per-query sf1/sf0.1 ratios assembled into
  * STRESS_r{N}.md by comparing a run pointed at the sf0.1 dir with a
  * run pointed at the replica.
  *
  * `copies` (round-11, default 10) sets the replica factor: 10 = sf1,
  * 30 = sf3, 50 = sf5 — the engine-side OOM probe above the oracle'd
  * ladder (the DuckDB gate can't hold those scales; the target is the
  * next failure class in the ENGINE under the default 8 g heap).
  * Each run also reports per-query PEAK HEAP (MemoryPoolMXBean peaks,
  * reset before each query) so STRESS_r{N} can record headroom, not
  * just wall.
  */
object Stress {
  val Targets = Seq(
    "d15_tfidf_cosine", "d16_repeated_spans", "t13_bm25", "t15_bpe_merges",
    "s08_pq_adc", "mm04_dhash_neardup", "c06_context_packing",
    "q41_hourly_gapfill", "q44_hourly_locf", "sk06_bloom_bits",
    // round-5 late additions, promoted to the stress tier (r5 advice #4)
    "q51_session_window", "sm11_stream_session_window",
    "sm12_stream_dedup_watermark", "t19_normalize",
    "a23_tokenizer_fertility", "mm08_resize_grid", "c18_quantile_calibrate",
    "c20_padding_waste", "d17_threshold_yield",
    // the production ARPACK SVD — runs with the in-query eigen-residual
    // gate ON, so completing here IS at-scale solver verification
    "ls08_concepts_arpack",
    // round-6 additions: real-pixel dHash, trained-tokenizer fertility,
    // the S5 report over the power chain
    "mm09_dhash_real", "t20_bpe_fertility", "ls09_concept_report",
    // mid-round-6 pipeline gates: the LM-based filters (corpus-trained
    // bigram/unigram LMs), token chunking, and the streaming LSH index
    "a24_lm_surprisal", "a26_dsir_weights", "c21_chunk_windows",
    "sm13_stream_lsh_index", "a27_ccnet_buckets", "c23_epoch_shuffle",
    "d18_neardup_components", "s11_hybrid_rrf", "e07_mmd_drift",
    "c24_bpe_pack",
    // late-round-6 quality harnesses: corpus-global duplicated-n-gram
    // rate (gram-df join) and ANN recall@10 (brute leg bounded by the
    // 20-query sample even at 10x vectors)
    "d19_dupgram_rate", "s12_ann_recall", "s13_lsh_band_sweep",
    "t21_bpe_optimality", "sm14_stream_drift",
    "s14_cluster_balanced_sample", "sm15_stream_file_sink",
    // round-6 sampling/projection batch: mergeable bottom-k quantile
    // sample, zero-shuffle JL projection, WindowGroupLimit domain cap
    "sk10_bottomk_quantiles", "e08_random_projection", "c25_source_cap",
    // real DCT perceptual hash over the BMP-decoded corpus
    "mm10_phash",
    // streaming bottom-k sample state + the five-gate curation funnel
    "sm16_stream_bottomk", "c26_pipeline_attrition",
    // classifier distillation (batch train), its streaming scorer, and
    // the residual-PQ IVFADC index
    "a29_lr_quality", "sm17_stream_quality_score", "s15_ivfadc",
    // NMF topic extraction (4 multiplicative-update rounds over TF-IDF)
    "ls10_nmf_topics",
    // topic mixture (W side), DoReMi domain weights (a24-shaped LM
    // chain), skew audit, k-anonymity, no-split packing
    "ls11_topic_mixture", "c27_doremi_weights", "q52_skew_audit",
    "a30_k_anonymity", "c28_nosplit_pack",
    // late-round-6 batch: exact-substring span removal, unigram
    // tokenizer train + fertility, hard negatives, ANN NDCG, snapshot
    // diff, LZ78 compressibility, Fellegi-Sunter linkage (customer is
    // copied 1x — linkage stresses pair-table shape, not replica size)
    "d20_span_removal", "t22_unigram_train", "t23_unigram_fertility",
    "s18_hard_negatives", "s19_ann_ndcg", "c29_snapshot_diff",
    "a31_lz_complexity", "d21_record_linkage", "a32_source_keyness",
    "d22_triangle_census", "mm11_vad_segments", "sm18_stream_linkage",
    "sk11_hll_precision_sweep", "s20_filtered_ann", "q53_small_qty_revenue",
    "q54_large_orders", "c30_removal_ledger", "ls12_energy_curve",
    "e09_outliers", "c31_split_repair", "a33_blocklist_gate",
    "e10_codec_error", "t24_posting_compression", "ls13_topic_coherence",
    "io11_release_manifest", "d23_dedup_eval", "sm19_stream_span_cut",
    "c32_dsir_resample", "t25_tokenizer_diff", "mm12_ssim_verify",
    "ls14_lsi_retrieval", "s21_cluster_balance", "d24_noise_recall_curve",
    "sm21_stream_hll_users", "io12_federated_union",
    "q55_priority_late_orders", "t26_vocab_coverage",
    "c33_packing_budget_sweep", "d25_medoid_survivor",
    "c34_dedup_pack_pipeline", "a34_length_tail_index",
    "q56_above_nation_avg",
    // round-7 additions: sampled-cutoff CCNet terciles, drop-train split
    // repair, delta-vs-base incremental LSH, content-defined chunking,
    // KMV theta set operations
    "a35_ccnet_sampled", "c35_split_repair_droptrain",
    "d26_incremental_lsh", "d27_cdc_chunks", "sk12_theta_setops",
    // round-7 session 2: KN bigram LM, 3-stage pipeline, winnowing,
    // margin mining, phrase search, Heaps fit, Good-Turing, isotropy,
    // k-core peel
    "a36_kneser_ney", "c36_quality_dedup_pack", "d28_winnowing",
    "s22_margin_mining", "t27_phrase_search", "a37_heaps_law",
    "a38_good_turing", "e11_isotropy", "d29_kcore",
    "c37_length_buckets", "c38_water_filling", "sm22_stream_novelty",
    "io13_schema_evolution",
    // round-8: d19's sketch-swap scale route (Bloom over duplicated
    // grams; gate=false — a one-sided estimate by design, its contract
    // vs exact d19 pinned by DupGramSketchSpec)
    "d31_dupgram_sketch",
    // round-8 fused-expression paths: the brute-force cosine truth
    // baseline (dot_product), the SimHash chunk-band pipeline
    // (simhash64 + word_shingles) and the char-bigram profile
    // (char_ngrams) — sf1 pins that the fused kernels keep the
    // linear scaling shape, not just the sf0.1 speedup
    "d06_cosine_neardup", "d05_simhash_neardup", "t10_char_bigrams")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_sf1")
    val filter = args.lift(1).map(_.r)
    val src = "/root/testdata/sf0.1"
    def newSession(): SparkSession = LocalSession("graft-stress", 32)
    var spark = newSession()

    val nCopies = args.lift(2).map(_.toInt).getOrElse(10)

    // ---- build the Nx replica (skipped if already present, or when
    // pointed at a harness sf dir to collect baseline ratios) ----
    val marker = new java.io.File(s"$out/_STRESS_READY")
    if (!marker.exists() && !out.startsWith("/root/testdata/")) {
      def replicate(name: String, keyCols: Seq[String],
          base: DataFrame): Unit = {
        val copies = (0 until nCopies).map { i =>
          val off = i.toLong * 100000000L
          keyCols.foldLeft(base) { (df, k) =>
            df.withColumn(k, col(k) + off)
          }
        }
        copies.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$out/$name.parquet")
        System.err.println(s"[stress] built $name x$nCopies")
      }
      // SPARK_GRAFT_STRESS_FACTS=1 (r13 verdict task 3) builds a
      // RELATIONAL stress replica instead: the TPC-H fact tables
      // (lineitem + orders) replicated with CONSISTENT orderkey
      // offsets — the l_orderkey = o_orderkey equi-join joins within a
      // copy exactly as at sf0.1, so q14's fact-fact SHUFFLE_HASH join
      // carries ×N rows on both sides — while the dimension keys
      // (custkey/suppkey/nationkey) stay unoffset and resolve against
      // the ×1 broadcast dims. The corpus tables are copied ×1 (a
      // facts dir exists for the q-family rows only), keeping the
      // build seconds-fast and the dir small.
      val factsMode = sys.env.get("SPARK_GRAFT_STRESS_FACTS").contains("1")
      if (factsMode) {
        replicate("lineitem", Seq("l_orderkey"),
          spark.read.parquet(s"$src/lineitem.parquet"))
        replicate("orders", Seq("o_orderkey"),
          spark.read.parquet(s"$src/orders.parquet"))
        Seq("region", "nation", "customer", "supplier", "part",
          "documents", "embeddings").foreach { t =>
          spark.read.parquet(s"$src/$t.parquet")
            .write.mode("overwrite").parquet(s"$out/$t.parquet")
        }
        graft.tables.Tables.events(spark, src)
          .write.mode("overwrite").parquet(s"$out/events.parquet")
      } else {
        replicate("documents", Seq("doc_id"),
          spark.read.parquet(s"$src/documents.parquet"))
        replicate("embeddings", Seq("vec_id"),
          spark.read.parquet(s"$src/embeddings.parquet"))
        // events go through Tables (the raw file may be TIMESTAMP(NANOS),
        // which plain parquet inference rejects); the replica is written
        // with an annotated-µs ts, which the loaders pass through
        replicate("events", Seq("event_id", "user_id"),
          graft.tables.Tables.events(spark, src))
        // dimension tables copied as-is (target queries don't join them at
        // stress scale; present so Tables.* loaders resolve)
        Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem").foreach { t =>
          spark.read.parquet(s"$src/$t.parquet")
            .write.mode("overwrite").parquet(s"$out/$t.parquet")
        }
      }
      marker.getParentFile.mkdirs()
      java.nio.file.Files.write(marker.toPath, Array.empty[Byte]): Unit
    }

    // ---- wall-time the targets ----
    val qmap = SparkEntry.allQueries
    // no arg -> the curated heavy-target list; 'all' -> entire registry;
    // a regex -> matching subset of the ENTIRE registry (so any query
    // can be spot-stressed, not just curated ones)
    val names = args.lift(1) match {
      case Some("all") => qmap.keys.toSeq.sorted
      case Some(_) =>
        qmap.keys.toSeq.sorted
          .filter(n => filter.forall(_.findFirstIn(n).isDefined))
      case None => Targets
    }
    // per-query peak heap: reset the pool peaks before each query, read
    // the summed heap-pool peaks after — the whole local-mode JVM
    // (driver + executor threads in one heap), which is exactly the
    // 8 g envelope the stress rung is about
    import scala.jdk.CollectionConverters._
    val heapPools = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    // SAMPLED total-heap peak (round-11 verdict task 4): the per-pool
    // peak SUM above is an upper bound, not a gauge — G1 pools peak at
    // different moments, so the sum can read above -Xmx (r11 tables
    // showed 11.88 g "peaks" inside an 8 g heap), which breaks headroom
    // math. A 50 ms poll of getHeapMemoryUsage().getUsed is a true
    // point-in-time total: its max over a query can NEVER exceed -Xmx,
    // at the cost of missing sub-50 ms spikes (the pool sum still
    // brackets those from above — report both).
    val memBean = java.lang.management.ManagementFactory.getMemoryMXBean
    val sampledPeak = new java.util.concurrent.atomic.AtomicLong(0L)
    val sampler = new Thread(() => {
      while (true) {
        val u = memBean.getHeapMemoryUsage.getUsed
        sampledPeak.getAndAccumulate(u, math.max(_, _)): Unit
        try Thread.sleep(50)
        catch { case _: InterruptedException => () } // keep sampling
      }
    }, "stress-heap-sampler")
    sampler.setDaemon(true)
    sampler.start()
    val results = names
      .map { name =>
        // one engine OOM must not poison the whole probe: an uncaught
        // executor OutOfMemoryError stops the local-mode SparkContext,
        // so rebuild the session before the next query (the r11 sf3
        // probe lost tr02..tr07 to tr01's context shutdown)
        if (spark.sparkContext.isStopped) spark = newSession()
        heapPools.foreach(_.resetPeakUsage())
        // seed with the at-start reading: a query shorter than one
        // 50 ms poll would otherwise report 0.00 g as if it were a
        // real sample instead of "no sample taken"
        sampledPeak.set(memBean.getHeapMemoryUsage.getUsed)
        val t0 = System.nanoTime()
        val ok =
          try { qmap(name)(spark, out).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[stress] $name FAILED: $e"); false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        val poolSumGb = heapPools.map(_.getPeakUsage.getUsed).sum / 1024.0 / 1024 / 1024
        val sampledGb = sampledPeak.get() / 1024.0 / 1024 / 1024
        System.err.println(f"[stress] $name: $dt%.1f s, peak heap $sampledGb%.2f g" +
          f" sampled ($poolSumGb%.2f g pool-sum bound)" +
          (if (ok) "" else " FAILED"))
        // Queries are independent and sequential here: clearing caches
        // between them keeps one query's (possibly abort-leaked) cache
        // from distorting the next query's heap envelope. (Verify must
        // NOT do this — see its concurrency note.)
        if (!spark.sparkContext.isStopped) spark.catalog.clearCache()
        (name, if (ok) dt else -dt, poolSumGb, sampledGb)
      }
    val qs = results.map { case (k, v, _, _) => "\"" + k + f"""\":$v%.2f""" }
      .mkString("{", ",", "}")
    val hs = results.map { case (k, _, g, _) => "\"" + k + f"""\":$g%.2f""" }
      .mkString("{", ",", "}")
    val ss = results.map { case (k, _, _, g) => "\"" + k + f"""\":$g%.2f""" }
      .mkString("{", ",", "}")
    println(s"""{"stress":"x$nCopies","queries":$qs,"peak_heap_sampled_gb":$ss,"peak_heap_poolsum_gb":$hs}""")
    spark.stop()
  }
}
