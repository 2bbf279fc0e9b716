package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dumps formatted physical plans of catalog queries — the human-auditable
  * companion to PlanSpec's mechanical asserts: broadcasts, pushed filters,
  * pruned schemas, partial aggregates and custom operators are visible per
  * query. `sbt "runMain graft.Plans <sfDir> PLANS.md"` writes every
  * [[Headline]] plan into one file (regenerate it whole, at sf0.001);
  * `sbt "runMain graft.Plans <sfDir> <outDir> <name>[,<name>...] [suffix]"`
  * writes `<outDir>/<name>[_<suffix>].txt` per named entry (before/after
  * evidence, `plans/r16/…`). Shared artifacts are dropped before each entry,
  * so no plan depends on the entries run before it. */
object Plans {
  // the scale-interesting subset: every join/agg/custom-operator shape
  val Headline = Seq(
    "q1_pricing", "q3_top_revenue", "q_topk_per_key", "q_skew_agg",
    "som_assign", "som_cell_stats",
    "dedup_minhash_sig", "dedup_minhash_pairs", "dedup_simhash_pairs",
    "dedup_contamination", "dedup_incremental_pairs", "pack_sequences",
    "events_sessionize", "events_resample", "ann_brute", "ml_lang_centroids",
    "text_tfidf_topk", "q_topk_rewrite", "q_scalar_subquery",
    // round-5 additions: the new shapes worth auditing by eye
    "pack_sequences_nosplit", "dedup_embedding_lsh", "ann_ivf_pruned",
    "pipeline_pack_clean", "q_lateral_topn", "q_not_in", "ml_quantize_int8",
    // round-6 additions: real-BPE budgets, two-stage int8 serving, the
    // mixture window, keyset pushdown, the no-snapshot-shuffle upsert
    "text_bpe_tokens", "bpe_train", "ann_int8", "ml_domain_mixture",
    "q_paginate_keyset", "q_upsert_snapshot", "mm_video_frames",
    "text_chunks",
    // round-7 additions: the prefix-sum shard export, the incremental
    // rollup merge, the 3-exchange index build, heap-cut RRF fusion
    "ml_export_shards", "q_incr_rollup", "text_inverted_index",
    "retrieval_rrf", "priv_k_anon", "q_gdpr_delete",
    // round-8 additions: spilled multi-probe serve, adaptive-banded pHash,
    // the artifact-scrub cascade
    "ann_ivf_multiprobe", "mm_image_dedup_phash", "dedup_gdpr_cascade",
    // round-8 late additions: in-scan URL canonicalization + exact dedup,
    // the heap-operator domain cap, the broadcast-weight classifier, the
    // manifest-resolved time-travel read
    "dedup_url", "text_domain_cap", "text_quality_clf", "q_time_travel",
    "q_runtime_filter", "dedup_semantic_lsh", "pipeline_crawl_clean",
    "dedup_multimodal_cc", "doc_corpus_card", "q_zonemap_prune",
    // round-9 additions: the trained-quantizer fit, the graph-ANN serve
    // (kNN-graph build + beam walk), the trigram back-off scorer
    "km_fit", "ann_nsw", "text_lm_quality3",
    // round-10 catch-up (r9 verdict #5): every entry ≥1 s in the binding
    // bench gets a recorded plan — the streaming sinks (their read-back
    // plan plus the staged pipeline they run), the graph-index
    // delta/GDPR legs, the perceptual crop families, and the heavy
    // aggregate/report entries
    "events_resample_stream", "ann_nsw_gdpr", "mm_image_dedup_crop_combined",
    "ann_nsw_delta", "mm_image_dedup_crop", "mm_image_dedup_crop2d",
    "mm_video_dedup_crop", "dedup_simhash_incremental", "mm_audio_dedup_crop",
    "dedup_semantic", "events_tier_stream", "dedup_pairs_stream",
    "km_fit_spherical", "events_sessionize_stream", "graph_pagerank",
    "events_sliding_stream", "events_funnel_stream", "events_hourly_stream",
    "retrieval_eval", "ml_top_direction", "dedup_quality_rep",
    "dedup_embedding_lsh_stream", "events_dedup_stream", "mm_image_dedup",
    "som_fit5", "q_profile", "mm_video_dedup", "mm_audio_dedup",
    "mm_audio_dedup_spectral", "dedup_jaccard_pairs", "clf_calibration",
    "ann_pq", "text_bm25_topk", "q_distinct_having",
    // round-10 additions: NN-descent build, sampled-seed fit, streaming GDPR,
    // and the two-layer hierarchical serve (≥1 s in BENCH_r10, omitted there)
    "ann_nsw_nnd", "km_fit_sampled", "gdpr_delete_stream", "ann_nsw_hier",
    // round-11 additions: the horizon-eviction streaming dedup modes
    // (embedding + text) and the NND-day-zero + incremental-merge
    // graph lifecycle
    "dedup_embedding_lsh_stream_evict", "ann_nsw_nnd_delta",
    "dedup_pairs_stream_evict",
    // round-11 addition: the composed IVF-PQ serving tier (in-memory +
    // partitioned code-layout serve + incremental code-layout maintenance)
    "ann_ivfpq", "ann_ivfpq_pruned", "ann_ivfpq_delta",
    // round-11 addition: the two streaming halves of the index lifecycle —
    // query-side micro-batch serving and index-side segment maintenance
    "ann_serve_stream", "ann_ivf_delta_stream", "ann_serve_stream_live",
    // round-11 addition: GDPR deletes on the serving layouts (fp64 + codes)
    "ann_ivf_gdpr", "ann_ivfpq_gdpr",
    // round-11 addition: the hash-gated sketch family (KMV through the heap
    // operator, its streaming twin, deterministic sampled quantiles)
    "q_approx_distinct_kmv", "kmv_distinct_stream", "q_approx_quantile_hash",
    "q_kmv_set_ops", "q_topk_freq_cms", "q_bloom_membership",
    // round-12 additions: the CMS matrix as stream state (additive fold)
    // and the sharded Bloom bit array as stream state (idempotent fold)
    "cms_freq_stream", "bloom_membership_stream",
    // round-12 additions: sketch mergeability as a gated artifact and the
    // bloom-fill cardinality estimator
    "q_cms_merge", "q_bloom_cardinality",
    // round-12 additions: windowed streaming CMS + KMV with watermark
    // eviction
    "cms_freq_stream_win", "kmv_distinct_stream_win",
    // round-12 additions: online mini-batch SOM training under the gate
    // and its composed train-then-serve lifecycle
    "som_fit_stream", "som_predict_stream",
    // round-12 addition: mixed-op MERGE INTO commits from a CDC stream
    "q_cdc_merge_stream",
    // round-12 additions: per-bucket bloom index on the versioned store
    // and its O(delta) incremental maintenance
    "store_bloom_skip", "store_bloom_skip_delta",
    // round-12 addition: the trained PQ fit under its own gate
    "pq_train",
    // round-12 additions: change-data-feed on the versioned store —
    // net window diff and the per-commit streaming consumer
    "store_changes", "store_changes_stream",
    // round-12 addition: the sign-bit Hamming ANN tier
    "ann_hamming",
    // round-12 additions: store compaction (OPTIMIZE) and dynamic
    // partition pruning on a partitioned fact layout
    "store_compact", "q_dpp_prune",
    // round-12 additions: CEP next-matching-event pattern, joinless,
    // and its bounded-state streaming twin
    "events_pattern", "events_pattern_stream",
    // round-12 addition: integer-exact rolling z-score anomaly flags
    "events_anomaly",
    // round-12 additions: automatic materialized-view rewrite (exact
    // grain + containment)
    "q_mv_rewrite", "q_mv_rewrite_coarse",
    // round-12 addition: online re-clustering with hash-gated
    // before/after pruning evidence
    "store_recluster",
    // round-12 addition: AS OF TIMESTAMP travel on the commit log
    "store_asof_ts",
    // round-12 addition: gated stream-stream interval join
    "events_join_stream",
    // round-12 addition: one-pass normal-equations OLS, float solve
    // hash-gated via verbatim-shared formula strings
    "ml_linreg",
    // round-12 addition: streaming MV maintenance via idempotent
    // partial-rollup appends
    "mv_refresh_stream",
    // round-12 addition: positional phrase search over in-scan bigrams
    "text_phrase_search",
    // round-12 addition: margin-criterion alignment mining over the
    // query-side-broadcast cosine matrix
    "bitext_mine",
    // round-12 addition: value-based RANGE window frame
    "q_range_frame",
    // round-12 addition: KMV as a custom TypedImperativeAggregate
    "q_kmv_agg",
    // round-12 additions: grid interpolation and the native
    // session_window operator
    "events_interpolate", "events_session_window",
    // round-12 addition: join strategy hints, all three plan-asserted
    "q_join_hints",
    // round-12 additions: PMI collocations and the Markov transition
    // matrix, both in exact integer units
    "text_collocations", "events_markov",
    // round-12 addition: integer-ppm confusion matrix for the learned filter
    "clf_confusion",
    // round-12 addition: Welch z two-sample test, statistic hash-gated
    "ml_ab_test",
    // round-12 additions: behavioral path n-grams + link-graph degree
    // distribution
    "events_path_topk", "graph_degree_hist",
    // round-12 addition: weekly DAU/WAU stickiness in exact ppm
    "events_dau_mau",
    // round-13 additions: the DSv2 connector reads — versioned read,
    // AS OF TIMESTAMP, zone-map range skip and bloom point-lookup skip
    // all through format("graftstore") with pushed filters visible
    "store_dsv2_travel", "store_dsv2_asof", "store_dsv2_skip",
    "store_dsv2_lookup",
    // round-13 addition: CDF-driven MV maintenance — signed partials from
    // the preimage change feed retract updates/deletes exactly
    "mv_refresh_cdf",
    // round-13 addition: metadata-only COUNT/MIN/MAX served from the
    // commit-log sidecars (complete aggregate pushdown, zero data IO)
    "store_dsv2_agg",
    // round-13 addition: the connector from plain SQL DDL (CREATE
    // TEMPORARY VIEW ... USING graftstore)
    "store_dsv2_sql",
    // round-13 additions: joinless RANGE-frame attribution, hub-capped
    // link prediction, deterministic label-propagation communities,
    // asymmetric shingle containment
    "events_attribution", "graph_link_predict", "graph_communities",
    "dedup_containment",
    // round-13 additions: Hilbert-curve clustering (codegen index, run-
    // range pruning) and additive store schema evolution
    "q_hilbert_prune", "store_schema_evo",
    // round-13 additions: bitmap-word distinct aggregation and the
    // histogram decision stump + its isotonic-calibration sibling
    "events_retention_bitmap", "ml_tree_stump", "ml_isotonic",
    // round-13 additions: exact streaming distinct via bitmap state and
    // the KS drift test
    "events_dau_stream", "ml_ks_test",
    // round-13 additions: exact rank-sum AUC and the incremental
    // attribution state machine
    "ml_auc", "events_attribution_stream",
    // round-13 additions: Poisson-bootstrap CI and gated vacuum retention
    "ml_bootstrap_ci", "store_vacuum",
    // round-13 additions: seeded randomization test and the two privacy
    // entries (t-closeness EMD audit, randomized-response local DP)
    "ml_perm_test", "priv_t_closeness", "priv_rand_response",
    // round-14 additions: the DSv2 write path (SQL INSERT re-served), the
    // change-feed streaming source, the depth-2 joint-histogram tree, the
    // isotonic reliability curve, geometric-mechanism DP counts, and the
    // zero-copy shallow clone
    "store_dsv2_write", "store_cdf_stream", "ml_tree_depth2",
    "clf_reliability", "priv_dp_counts", "store_clone",
    // round-14 additions: integer-exact chi-squared ranking, the
    // streaming-source-driven MV maintainer, and the native streaming sink
    "ml_chi2_select", "mv_refresh_cdf_stream", "store_sink_stream",
    // round-15 additions: SQL row-level DML (MERGE/UPDATE/DELETE) on the
    // store, additive INSERT schema evolution, the table-to-table
    // streaming hop, and the three-round boosted-stump fit
    "store_sql_merge", "store_sql_update", "store_sql_delete",
    "store_sql_evolve", "store_stream_hop", "store_hop_cdc", "ml_gbm",
    // round-15 late additions: the statistics-driven hint-free broadcast,
    // the TableCatalog SQL time-travel read, and the _commit_version
    // metadata-column provenance scan
    "store_stats_join", "store_catalog_sql", "store_meta_cols",
    "store_sql_maintenance")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.drop(1).headOption.getOrElse("PLANS.md")
    val names = args.drop(2).headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val suffix = args.drop(3).headOption.fold("")("_" + _)
    val wanted = names.getOrElse(Headline)
    val missing = wanted.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"not in the catalog (renamed?): ${missing.mkString(", ")}")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    def plan(name: String): String = {
      graft.operators.Artifacts.clear()
      SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(mode)
    }
    if (names.isDefined) {
      Files.createDirectories(Paths.get(out))
      wanted.foreach(name => Files.writeString(Paths.get(out, s"$name$suffix.txt"), plan(name)))
    } else {
      val head = s"""# PLANS — formatted physical plans of the headline queries
        |
        |Generated by `graft.Plans` at `$sfDir` (plans are scale-factor-
        |independent: same shapes at any SF), shared artifacts dropped before
        |each entry. The properties PlanSpec pins mechanically — broadcasts,
        |pushdown, pruned ReadSchema, partial aggregation,
        |TakeOrderedAndProject, the custom TopKPerKey operator — are all
        |visible below.
        |""".stripMargin
      Files.writeString(Paths.get(out),
        head + wanted.map(name => s"\n## $name\n\n```\n${plan(name)}```\n").mkString)
    }
    println(s"wrote ${wanted.size} plans to $out")
    spark.stop()
  }
}
