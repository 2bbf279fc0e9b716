package graft.queries

import graft.SparkSpec

/** Physical-plan audit: asserts the scale-critical plan properties so a
  * regression (lost broadcast, lost pushdown, accidental global sort or
  * cartesian blow-up) fails CI — the "would this survive 100×?" checklist
  * from SURVEY.md §4, made mechanical. */
class PlanSpec extends SparkSpec {

  private val dir = sf("sf0.001")
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("som_assign: one array_argmin_sqdist projection, no join, no exchange") {
    val p = plan(SomQueries.assign(spark, dir))
    assert(p.contains("array_argmin_sqdist"), s"the BMU must be the kernel expression:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("CartesianProduct"),
      s"the assignment must be one projection over the points scan:\n$p")
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      "column pruning must reach the parquet scan")
  }

  test("som_assign: scan reads only the needed columns") {
    val p = plan(SomQueries.assign(spark, dir))
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      "column pruning must reach the parquet scan")
  }

  test("q3: dimension filter pushed to parquet, joins broadcast, top-k without global sort") {
    val p = plan(RelationalQueries.q3TopRevenue(spark, dir))
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), "segment filter must push down")
    assert(p.contains("BroadcastHashJoin"), "dimension joins must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not globally sort")
  }

  test("q1: aggregation is partial+final hash agg (map-side combine)") {
    val p = plan(RelationalQueries.q1Pricing(spark, dir))
    assert(p.contains("partial_sum") || p.contains("partial_"),
      "group-by must combine map-side before the exchange")
    assert(p.contains("HashAggregate"))
  }

  test("ann queries: probe side broadcast, no shuffle of the corpus for brute top-k") {
    val p = plan(SimilarityQueries.annBrute(spark, dir))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "probes must broadcast")
  }

  test("dedup exact: single hash aggregation over the digest") {
    val p = plan(TextDedupQueries.dedupExact(spark, dir))
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "exact dedup must not join")
  }

  test("text_domain_cap: plans as the per-key heap operator, never a per-domain sort") {
    val p = plan(TextDedupQueries.textDomainCap(spark, dir))
    assert(p.contains("TopKPerKeyFinal"), s"the cap must use the heap operator:\n$p")
    assert(!p.contains("Window"), s"no window-rank machinery:\n$p")
  }

  test("dedup_url: canonicalization in-scan, one map-side-combining aggregate, no join") {
    val p = plan(TextDedupQueries.dedupUrl(spark, dir))
    assert(p.contains("partial_count") || p.contains("partial"),
      s"the canonical-key aggregate must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"URL dedup must not join:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"canonicalization must stay native expressions:\n$p")
  }

  test("text_quality_clf: weight table broadcast to the scoring join, totals never collected") {
    val p = plan(TextDedupQueries.textQualityClf(spark, dir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the 512-row weight table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q_runtime_filter: bloom filter built from filtered orders, might_contain on lineitem") {
    val p = plan(AdvancedQueries.qRuntimeFilter(spark, dir))
    assert(p.contains("might_contain"),
      s"the runtime bloom filter must reach the application side:\n$p")
    assert(p.contains("bloom_filter_agg"),
      s"the filter must be BUILT from the creation side's keys:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"the join must be the shuffle regime the filter exists for:\n$p")
  }

  test("events_pattern: one window pass, no per-view probe join") {
    val p = plan(EventQueries.pattern(spark, dir))
    assert(p.contains("Window"), s"the reverse-scan window must plan:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"the next-matching-event rewrite must not join:\n$p")
  }

  test("q_join_hints: every strategy hint lands its physical join on the same query") {
    assert(plan(RelationalQueries.joinHinted(spark, dir, "shuffle_hash"))
      .contains("ShuffledHashJoin"), "shuffle_hash hint must plan a hash join")
    assert(plan(RelationalQueries.joinHinted(spark, dir, "merge"))
      .contains("SortMergeJoin"), "merge hint must plan a sort-merge join")
    assert(plan(RelationalQueries.joinHinted(spark, dir, "broadcast"))
      .contains("BroadcastHashJoin"), "broadcast hint must plan a broadcast join")
  }

  test("q_mv_rewrite: the fact scan is GONE — the query serves from the MV") {
    val p = plan(RelationalQueries.qMvRewrite(spark, dir))
    assert(!p.contains("lineitem.parquet"),
      s"the MV rewrite must remove the fact scan:\n$p")
    assert(p.contains("graft_layouts") || p.contains("mv_monthly"),
      s"the MV layout must be the scanned source:\n$p")
  }

  test("q_mv_rewrite_coarse: containment — month-only query still serves from the MV") {
    val p = plan(RelationalQueries.qMvRewriteCoarse(spark, dir))
    assert(!p.contains("lineitem.parquet"),
      s"the coarser grouping is contained in the MV grain:\n$p")
  }

  test("q_dpp_prune: dynamic partition pruning reaches the fact scan") {
    val p = plan(AdvancedQueries.qDppPrune(spark, dir))
    assert(p.contains("dynamicpruning"),
      s"the dim filter must prune fact partitions at runtime:\n$p")
    assert(p.contains("PartitionFilters"),
      s"pruning must land in the scan's partition filters:\n$p")
  }

  test("doc_corpus_card: one partial-combining aggregate, no join, no UDF fence") {
    val p = plan(TextDedupQueries.docCorpusCard(spark, dir))
    assert(p.contains("partial_count") || p.contains("partial"),
      s"card aggregates must combine map-side:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"the card is a single-scan report:\n$p")
    assert(!p.contains("ScalaUDF"), s"card signals must stay native:\n$p")
  }

  test("dedup_multimodal_cc: banded joins only — no cartesian, no nested-loop pairing") {
    val p = plan(MultimodalQueries.dedupMultimodalCc(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"the union pair graph must come from banded equi-joins:\n$p")
  }

  test("retrieval_eval: the truth set broadcasts to the eval join") {
    val p = plan(SimilarityQueries.retrievalEval(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"the top-k truth set must broadcast:\n$p")
  }

  test("q_topk_rewrite: the SQL-text window idiom actually plans as the heap operator") {
    val p = plan(AdvancedQueries.qTopKRewrite(spark, dir))
    assert(p.contains("TopKPerKeyFinal"),
      s"the optimizer rule must fire on the catalog entry, not just in specs:\n$p")
  }

  test("q_topk_rank_rewrite: the rank() idiom plans as the withTies heap operator") {
    val p = plan(AdvancedQueries.qTopKRankRewrite(spark, dir))
    assert(p.contains("TopKPerKeyFinal"), s"the rank rewrite must fire:\n$p")
    assert(!p.contains("Window"), s"window machinery must be gone:\n$p")
  }

  test("q_scalar_subquery: decorrelated to an aggregate + join, no nested loop") {
    val p = plan(RelationalQueries.qScalarSubquery(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"correlated scalar subquery must decorrelate:\n$p")
    assert(p.contains("HashAggregate") && p.contains("Join"),
      s"expected the aggregate+join decorrelation shape:\n$p")
  }

  test("pack_sequences_nosplit: one shard exchange, in-partition sort, no window") {
    val p = plan(TextDedupQueries.packSequencesNoSplit(spark, dir))
    assert(p.contains("Exchange hashpartitioning(shard"),
      s"next-fit must shuffle once on the shard key:\n$p")
    assert(!p.contains("Window"), "next-fit is the mapPartitions path, not a window")
    assert(p.contains("], false, 0") && !p.contains("], true, "),
      s"in-shard order must be a PARTITION-LOCAL sort, never global:\n$p")
  }

  test("q_window_nav: both windows share one customer-key exchange each, no cartesian") {
    val p = plan(RelationalQueries.qWindowNav(spark, dir))
    assert(p.contains("Window"), "navigation functions must plan as window operators")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_lateral_topn: LATERAL decorrelates — no nested-loop per-nation subquery") {
    val p = plan(RelationalQueries.qLateralTopn(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"LATERAL must not plan a cartesian:\n$p")
  }

  test("dedup_contamination_13g: eval side broadcast, no corpus-side pre-join shuffle") {
    val p = plan(TextDedupQueries.dedupContamination13g(spark, dir))
    assert(p.contains("BroadcastExchange"), "eval shingle set must broadcast")
    assert(!p.contains("ScalaUDF"), "13-gram shingles must use the native kernel")
  }

  test("ann_ivfpq_pruned: the cell predicate reaches PARTITION pruning on the CODE scan") {
    val df = SimilarityQueries.annIvfPqPruned(spark, dir)
    df.count() // materialize AQE stages so the final plan holds the real scans
    val p = df.queryExecution.executedPlan.toString
    assert(raw"PartitionFilters: \[[^\]]*cell".r.findFirstIn(p).isDefined,
      s"the nprobe cell list must prune the code-layout partitions:\n$p")
  }

  test("ann_ivf_pruned: the cell predicate reaches PARTITION pruning on the layout scan") {
    val df = SimilarityQueries.annIvfPruned(spark, dir)
    df.count() // materialize AQE stages so the final plan holds the real scans
    val p = df.queryExecution.executedPlan.toString
    assert(raw"PartitionFilters: \[[^\]]*cell".r.findFirstIn(p).isDefined,
      s"the nprobe cell list must prune partitions, not filter post-scan:\n$p")
  }

  test("text/dedup hot paths run UDF-free (native kernels, codegen intact)") {
    // tokensFast/shingles3Fast/rollingHash/md5Hash60 were Scala UDFs through
    // round 2 — a serialization fence per row. Pin their native-expression
    // replacements: no ScalaUDF node may appear in these plans.
    Seq(
      "text_fingerprint" -> TextDedupQueries.queries("text_fingerprint"),
      "text_rolling_hash" -> TextDedupQueries.queries("text_rolling_hash"),
      "dedup_minhash_sig" -> TextDedupQueries.queries("dedup_minhash_sig"),
      "text_simhash" -> TextDedupQueries.queries("text_simhash"),
    ).foreach { case (name, q) =>
      assert(!plan(q(spark, dir)).contains("ScalaUDF"),
        s"$name must not contain a ScalaUDF barrier")
    }
  }

  test("q_paginate_keyset: cursor predicate pushed to parquet, top-k without global sort") {
    val pl = plan(RelationalQueries.qPaginateKeyset(spark, dir))
    assert(pl.contains("PushedFilters") && pl.contains("Or(GreaterThan(o_orderdate"),
      s"decomposed keyset cursor must reach the parquet scan as a pushed filter:\n$pl")
    assert(pl.contains("TakeOrderedAndProject"),
      "page fetch must be top-k, never a global sort + discard")
  }

  test("ann_int8: heap-operator shortlist, broadcast rerank joins, no corpus window") {
    val pl = plan(SimilarityQueries.annInt8(spark, dir))
    assert(pl.contains("TopKPerKeyFinal"), "shortlist must use the per-key heap operator")
    assert(pl.contains("BroadcastHashJoin"), "rerank must broadcast the shortlist/probes")
    assert(!pl.contains("CartesianProduct"), "the quantized scan must build on broadcast")
  }

  test("ml_domain_mixture: exactly one exchange (the per-source window)") {
    val pl = plan(MlQueries.mlDomainMixture(spark, dir))
    assert("Exchange".r.findAllIn(pl).length == 1,
      s"mixture must shuffle once, on the window partition:\n$pl")
  }

  test("q_incr_rollup: delta scan is cutoff-pushed — daily cost is increment-sized") {
    val pl = plan(RelationalQueries.qIncrRollup(spark, dir))
    // the merged plan's lineitem scan must carry the cutoff predicate at the
    // parquet reader (partition-pruned at 100 TB), never a history rescan
    assert(pl.contains("GreaterThanOrEqual(l_shipdate"),
      s"delta cutoff must reach the lineitem scan:\n$pl")
    assert(pl.contains("partial_sum"), "merge must combine partials map-side")
  }

  test("retrieval_rrf: both lists cut by the heap operator, no cartesian blow-up") {
    val pl = plan(SimilarityQueries.retrievalRrf(spark, dir))
    assert("TopKPerKeyFinal".r.findAllIn(pl).length >= 2,
      "BOTH lists (lexical and vector) must cut through the per-key heap")
    assert(!pl.contains("CartesianProduct"),
      "the probe cross joins must build on broadcast sides")
  }

  test("text_inverted_index: exactly the three designed exchanges, no window sort") {
    val pl = plan(TextDedupQueries.textInvertedIndex(spark, dir))
    assert("Exchange".r.findAllIn(pl).length == 3,
      s"index build must shuffle exactly on (term,doc), (term,block), (term):\n$pl")
    assert(!pl.contains("Window"), "posting order must come from in-row sort_array")
  }

  test("q_upsert_snapshot: snapshot never shuffles, delta keys broadcast") {
    val pl = plan(RelationalQueries.qUpsertSnapshot(spark, dir))
    assert(pl.contains("BroadcastHashJoin") && pl.contains("LeftAnti"),
      s"anti join must build on the broadcast delta-key side:\n$pl")
    assert(!pl.contains("SortMergeJoin"),
      "the snapshot side must stream through unshuffled")
  }

  test("ann_ivf_multiprobe: centroids broadcast, corpus never cartesian-joined") {
    val pl = plan(SimilarityQueries.annIvfMultiprobe(spark, dir))
    assert(pl.contains("BroadcastHashJoin") || pl.contains("BroadcastNestedLoopJoin"),
      s"the probe-cell list must broadcast against the spilled corpus:\n$pl")
    assert(!pl.contains("CartesianProduct"),
      "assignment/probing cross joins must build on broadcast sides")
  }

  test("ann_ivf_multiprobe_pruned: the probed cell reaches PARTITION pruning") {
    val df = SimilarityQueries.annIvfMultiprobePruned(spark, dir)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    assert(raw"PartitionFilters: \[[^\]]*cell".r.findFirstIn(p).isDefined,
      s"the spilled layout read must prune cell directories, not post-filter:\n$p")
  }

  test("dedup_gdpr_cascade: deletion-set scrubs are broadcast anti joins") {
    val pl = plan(TextDedupQueries.dedupGdprCascade(spark, dir))
    assert(pl.contains("BroadcastHashJoin") && pl.contains("LeftAnti"),
      s"the doomed-id set must broadcast into every scrub anti join:\n$pl")
  }

  test("dedup_simhash_incremental: delta side joins the combined bands, no ScalaUDF") {
    val pl = plan(TextDedupQueries.dedupSimhashIncremental(spark, dir))
    assert(!pl.contains("ScalaUDF"),
      "fingerprint + banding must stay on native kernels end to end")
    assert(!pl.contains("CartesianProduct"), "banding must join on (chunk, ckey)")
  }

  test("q_topk_freq_cms: heavy hitters via TakeOrderedAndProject, no window over estimates") {
    // key cardinality is itself data-scale — an un-partitioned row_number
    // window over the estimates would funnel every distinct key through ONE
    // task (r11 verdict #1). The only Window allowed is the rank stamp over
    // the already-limited CmsTopK rows, i.e. it must sit ABOVE the limit.
    val df = AdvancedQueries.qTopkFreqCms(spark, dir)
    val pl = plan(df)
    assert(pl.contains("TakeOrderedAndProject"),
      s"top-${AdvancedQueries.CmsTopK} must plan as distributed TakeOrderedAndProject:\n$pl")
    val windowIdx = pl.indexOf("Window")
    val takeIdx = pl.indexOf("TakeOrderedAndProject")
    assert(windowIdx >= 0 && takeIdx > windowIdx,
      s"the rank window must consume the limited rows, not the raw estimates:\n$pl")
  }

  test("ann_ivf serve tail: heap operator cuts candidates map-side, no corpus window") {
    // the IVF fp64 tail matches the PQ tiers' convention: TopKPerKey prunes
    // each probe's corpus×nprobe/K candidate set to K per partition before
    // the exchange; only probes×K survivors reach the rank window
    val df = SimilarityQueries.annIvfPruned(spark, dir)
    df.count() // materialize AQE stages
    val pl = df.queryExecution.executedPlan.toString
    assert(pl.contains("TopKPerKey"),
      s"the IVF serve tail must prune through the heap operator:\n$pl")
  }
}
