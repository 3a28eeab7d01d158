package graft

import org.apache.spark.sql.execution.ExplainMode

/** Executable plan audit: the scale claims in SCALE.md as assertions over
  * the actual physical plans — pushdown reaches the scan, projection is
  * pruned, small dims broadcast, aggregation is partial+final, and the
  * graft_* expressions run inside whole-stage codegen. Runs every CI pass,
  * so a plan regression (a lost filter pushdown, a broadcast that became a
  * shuffle join) fails the build instead of surviving as prose. */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    // audits assert the COLD plan shape. Suites share one JVM session, so
    // another suite that materialized the same query (e.g. LlmOpsEdgeSpec's
    // ccnet_buckets run on this very sfDir) leaves its persisted
    // intermediates in the CacheManager, and cache substitution would swap
    // InMemoryRelations into this plan — flaking the audit depending on
    // suite interleaving. Queries whose audits EXPECT InMemoryRelation
    // register their own persists during construction below, which this
    // clear doesn't touch.
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q3: per-order pre-agg replaces distinct-state counting") {
    val p = plan("q3_segment_revenue")
    // the discriminating assertion: the old shape plans count(distinct
    // o_orderkey) (single-distinct, no Expand node — verified), so the
    // absence of any distinct aggregate is what pins the rewrite
    assert(!p.toLowerCase.contains("count(distinct"),
      "n_orders must come from the pre-aggregated order rows, not a distinct agg")
    // two aggregations (per-order, per-segment), each partial+final
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "per-order AND per-segment stages must both be partial+final")
    assert(p.contains("BroadcastHashJoin"), "customer joins broadcast")
  }

  test("approx_percentiles: sketch and exact percentiles merge partial+final") {
    val p = plan("approx_percentiles")
    assert(p.contains("partial_approx_percentile"),
      "the quantile sketch must be mergeable (map-side partial), or it cannot run in one pass at scale")
    assert(nodeIds(p, "ObjectHashAggregate").size >= 2, "partial + final stages")
  }

  test("dedup_incremental: one-sided candidates, no cartesian, shared signature cache") {
    val p = plan("dedup_incremental")
    assert(!p.contains("CartesianProduct"), "band join must be an equi-join, never all-pairs")
    assert(p.contains("InMemoryRelation"),
      "the slim signature table is persisted and read from cache by the band side")
    // the distinct layers (historical digests, candidates, near set) are
    // keys-only aggregates — partial+final shows as paired HashAggregates
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "each distinct must be a two-stage (map-side + final) aggregate")
  }

  test("ann_ivf_probe: centroid scoring is a broadcast, ranking is window-free") {
    val p = plan("ann_ivf_probe")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 4 seed centroids must broadcast — assignment is |centroids|×N map-side")
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window ["),
      "top-k must come from the bounded aggregator, not a per-query window funnel")
  }

  test("bloom_membership: native sketch build + probe, no Scala UDF, no sizing job") {
    val p = plan("bloom_membership")
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      "the membership probe must be the codegen'd BloomFilterMightContain predicate, not a UDF")
    assert(p.toLowerCase.contains("bloom_filter_agg") || p.toLowerCase.contains("bloomfilter"),
      "the sketch must be built by the engine's BloomFilterAggregate in a scalar subquery")
    assert(nodeIds(p, "HashAggregate").size + nodeIds(p, "ObjectHashAggregate").size >= 2,
      "sketch build must be partial+final (per-partition filters OR-merged), one pass over the pool")
  }

  test("q6: all sargable predicates reach the parquet scan; projection pruned") {
    val p = plan("q6_forecast_revenue")
    assert(p.contains("PushedFilters:"))
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
      "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
      "LessThan(l_quantity").foreach(f => assert(p.contains(f), s"missing pushed filter $f"))
    // scan reads the 4 referenced columns, not the 16-column table
    assert(p.contains(
      "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp_ntz>"))
  }

  test("q6/q1: aggregation is partial (map-side) + final") {
    assert(plan("q6_forecast_revenue").contains("partial_sum"))
    assert(plan("q1_pricing_summary").contains("partial_sum"))
  }

  test("q5_region: schema-small dims broadcast; the scaling fact side never does") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"), "nation/region should broadcast")
    assert(!p.contains("Exchange hashpartitioning(l_orderkey")
      || p.contains("SortMergeJoin"), "fact join strategy left to Catalyst/AQE")
  }

  test("order_wide: all three dim enrichments are broadcast joins") {
    val p = plan("order_wide")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3)
  }

  test("dedup_exact: column pruning reads only (doc_id, text)") {
    val p = plan("dedup_exact")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("text stats / minhash signature run inside whole-stage codegen") {
    // the graft_* expressions implement doGenCode: their project sits in a
    // codegen stage (formatted plan marks members with [codegen id : N])
    val tq = plan("text_quality")
    assert(tq.contains("graft_text_stats"))
    assert("Project \\[codegen id : \\d+\\]".r.findFirstIn(tq).isDefined,
      "graft_text_stats projection should be codegen'd")
    val mh = plan("simhash_fingerprint")
    assert(mh.contains("graft_simhash"))
    assert("\\[codegen id : \\d+\\]".r.findFirstIn(mh).isDefined)
    // round-6 expressions: the rolling window-hash and CDC boundary scans
    // must also stay inside codegen (the interpreted-lambda CDC form
    // measured 52 s vs 0.6 s at sf0.1 — this assertion pins the fix)
    val cdc = plan("chunk_content_defined")
    assert(cdc.contains("graft_cdc_bounds"))
    assert("\\[codegen id : \\d+\\]".r.findFirstIn(cdc).isDefined,
      "graft_cdc_bounds must run inside whole-stage codegen")
    val ws = plan("dedup_substring")
    assert(ws.contains("graft_winhash8"))
    assert("\\[codegen id : \\d+\\]".r.findFirstIn(ws).isDefined)
    // the round-8 verify kernel: the sorted-merge count must be in the
    // verify projection and array_intersect must be gone. (No codegen-id
    // assertion here: this query's formatted string carries no codegen
    // spans even pre-change — its Union/AQE shape prints before collapse —
    // and the expression's doGenCode is exercised by execution.)
    val ng = plan("dedup_ngram_jaccard")
    assert(ng.contains("graft_sorted_inter"),
      "verify must use the sorted-merge count")
    assert(!ng.contains("array_intersect"),
      "the per-pair hash-set intersection must be gone from the verify path")
  }

  test("gopher_rules: pure map-side gate — no joins, no aggregation shuffle") {
    val p = plan("gopher_rules")
    assert(!p.contains("Join"), "the gate must ride the corpus scan, never join")
    assert(!p.contains("HashAggregate"), "no aggregation belongs in a per-doc gate")
    assert("\\[codegen id : \\d+\\]".r.findFirstIn(p).isDefined,
      "the HOF metric expressions must stay inside whole-stage codegen")
    // the only exchange allowed is the presentation sort's range partitioning
    val ex = "Exchange \\w+".r.findAllIn(p).toSet
    assert(ex.forall(_.contains("rangepartitioning")),
      s"unexpected non-sort exchange in a map-side gate: $ex")
  }

  test("c4_rules: pure map-side line gate — no joins, no aggregation shuffle") {
    val p = plan("c4_rules")
    assert(!p.contains("Join"), "the line gate must ride the corpus scan, never join")
    assert(!p.contains("HashAggregate"), "no aggregation belongs in a per-doc gate")
    assert(p.contains("graft_polyhash"),
      "line/page hashing must be the native codegen'd expression")
    assert("\\[codegen id : \\d+\\]".r.findFirstIn(p).isDefined,
      "the HOF line pipeline must stay inside whole-stage codegen")
    val ex = "Exchange \\w+".r.findAllIn(p).toSet
    assert(ex.forall(_.contains("rangepartitioning")),
      s"unexpected non-sort exchange in a map-side gate: $ex")
  }

  test("shard_shuffle: within-shard rank windows BY SHARD — no single-partition funnel") {
    val p = plan("shard_shuffle")
    assert(p.contains("Window"), "within-shard rank is a window function")
    assert(!p.contains("Exchange SinglePartition"),
      "a global ORDER BY rank would funnel the corpus through one task")
    // the window's shuffle partitions by shard, so per-task sort volume is
    // bounded by shard size, a chosen constant at any corpus scale
    assert(p.contains("hashpartitioning(shard"),
      "the rank window must partition by the shard key")
  }

  test("mix_temperature: rates broadcast; corpus side is one count + map-side copies") {
    val p = plan("mix_temperature")
    assert(p.contains("BroadcastHashJoin"),
      "the |langs|-row rate table must broadcast onto the corpus scan")
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "lang count and realized-copies sum must each be partial+final")
    assert(!p.contains("CartesianProduct"),
      "the 1-row totals frame must join as a broadcast, not a cartesian")
  }

  test("ann top-k: bounded TopK aggregation is partial+final (no all-rows window shuffle)") {
    val p = plan("ann_cosine_topk")
    assert(p.toLowerCase.contains("partial"), "TopK aggregator should plan a partial stage")
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window ["),
      "no window over all scored rows")
  }

  // formatted-mode plans print each node twice (tree + details), so count
  // DISTINCT node ids, not raw substring hits
  private def nodeIds(p: String, node: String): Set[String] =
    s"\\((\\d+)\\) $node".r.findAllMatchIn(p).map(_.group(1)).toSet

  test("salted_agg: two aggregation stages — salted pre-agg then per-key merge") {
    val p = plan("salted_agg")
    // phase 1 shuffles on (key, __salt); phase 2 re-shuffles on the bare key
    assert(p.contains("__salt"), "salt column should appear in the physical plan")
    val hashPart = "hashpartitioning\\([^\\n]*".r.findAllIn(p).toList
    assert(hashPart.exists(_.contains("__salt")), s"no salted shuffle in:\n${hashPart.mkString("\n")}")
    assert(hashPart.exists(e => e.contains("key") && !e.contains("__salt")),
      "final merge should re-partition by the bare key")
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "expected partial+final aggregates for both phases")
  }

  test("q12: grouping sets plan Expand + partial/final aggregation (one pass over lineitem)") {
    val p = plan("q12_grouping_sets")
    assert(nodeIds(p, "Expand").size == 1,
      "grouping sets should plan a single Expand, not a union of scans")
    assert(p.toLowerCase.contains("partial_"), "aggregation should be map-side partial + final")
    assert(nodeIds(p, "Scan parquet").size <= 1, "one scan feeds all grouping sets")
  }

  test("pack_sequences: running-sum window partitions by (lang, shard) — bounded partitions") {
    val p = plan("pack_sequences")
    val parts = "hashpartitioning\\([^\\n]*".r.findAllIn(p).toList
    assert(parts.exists(e => e.contains("lang") && e.contains("shard")),
      s"window shuffle must key on (lang, shard), not lang alone:\n${parts.mkString("\n")}")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"),
      "scan pruned to the three referenced columns")
  }

  test("tfidf: rank filter pushes a WindowGroupLimit (top-k, not full per-doc sort retention)") {
    val p = plan("tfidf_top_terms")
    assert(p.contains("WindowGroupLimit"),
      "rk <= 3 should plan Spark's group-limit pushdown under the window")
  }

  test("embedding_quantize: map-side only — scan pruned, no shuffle before the presentation sort") {
    val p = plan("embedding_quantize")
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"))
    // the only exchange is the final order-by's range partitioning over the
    // persisted result; quantization itself never shuffles
    assert(!("hashpartitioning".r.findFirstIn(p).isDefined),
      "quantization must not introduce a hash shuffle")
  }

  test("q30: correlated scalar subquery decorrelates to aggregate+join, no per-row subquery") {
    val p = plan("q30_correlated_sub")
    assert(!p.contains("Subquery"),
      "correlated subquery must be rewritten, not executed per outer row")
    assert(nodeIds(p, "Scan parquet").size <= 3, "two lineitem scans + part, nothing more")
    assert(p.toLowerCase.contains("partial_avg") || p.toLowerCase.contains("partial_sum"),
      "the per-part average is a partial+final aggregate")
  }

  test("ts_features: two partial+final aggregation stages over pruned scans") {
    val p = plan("ts_features")
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "(seg, month) and seg stages must both be partial+final")
    assert(p.contains("ReadSchema: struct<o_custkey:bigint,o_totalprice:double,o_orderdate:timestamp_ntz>")
      || p.contains("ReadSchema: struct<o_custkey:bigint,o_orderdate:timestamp_ntz,o_totalprice:double>"),
      "orders scan pruned to the three referenced columns")
    assert(!p.contains("Window "), "slope comes from closed-form sums, never a window")
  }

  test("ann_ivf_nprobe: centroid assignment broadcasts; corpus never cartesian-joins") {
    val p = plan("ann_ivf_nprobe")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 4 seed centroids must broadcast")
    assert(!p.contains("CartesianProduct"), "no unbroadcast all-pairs anywhere")
    // the probe-selection window runs over <= n_cells rows per query, and
    // the candidate ranking is the bounded aggregator — neither may plan a
    // corpus-wide window funnel
    assert(!p.contains("RunningWindowFunction"))
  }

  test("ann_ivf_pq: codebook and LUT broadcast; ADC scan is never cartesian or windowed") {
    val p = plan("ann_ivf_pq")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row codebook and the per-query LUT frame must broadcast")
    assert(!p.contains("CartesianProduct"), "no unbroadcast all-pairs anywhere")
    // ADC shortlist and exact re-rank both use the bounded aggregator —
    // neither may plan a corpus-wide per-query window funnel
    assert(!p.contains("RunningWindowFunction"))
    // the cell scan reads PQ codes joined on the cell id — an equi or
    // broadcast join; the only Generate nodes allowed are TopK's <= k
    // posexplodes, never a data-sized plain explode
    assert(!p.contains("Generate explode("),
      "no data-sized explode in the ADC path")
  }

  test("pagerank iteration: ranks side is a pinned broadcast (edge side carries the only shuffle)") {
    import spark.implicits._
    // the query's plan nests three rounds, so audit the exposed
    // single-step builder on representative slim frames
    val esrc = Seq((1L, 2L, 3L, 5L), (2L, 1L, 2L, 2L)).toDF("src", "dst", "w", "ow")
    val nodes = Seq(1L, 2L).toDF("page")
    val ranks = Seq((1L, 1000000L), (2L, 1000000L)).toDF("page", "r")
    val p = graft.operators.Graph.iterate(esrc, nodes, ranks)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), "contribution join must be a broadcast hash join")
    // the broadcast build side is the ranks frame: its exchange carries the
    // rank column `r`, which the edge frame does not have
    val bx = "\\(\\d+\\) BroadcastExchange[\\s\\S]*?Input \\[\\d+\\]: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(bx.exists(_.contains("r#")), s"broadcast side should be ranks(page, r), got: $bx")
  }

  test("dedup_substring: window-hash equi-join, never all-pairs; counts partial+final") {
    val p = plan("dedup_substring")
    assert(!p.contains("CartesianProduct"),
      "candidate generation must be group-by-window-hash, not a cross product")
    assert(p.contains("InMemoryRelation"),
      "the exploded (doc, window-hash) frame is persisted — computed once, read by df-filter and both join sides")
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "df count and pair count must both be partial+final aggregates")
  }

  test("dedup_ngram_jaccard: bucket-depth cap is partial+final; all joins equi") {
    val p = plan("dedup_ngram_jaccard")
    assert(!p.contains("CartesianProduct"),
      "min-gram LSH candidates must come from bucket equi-joins, never all-pairs")
    // the df BETWEEN 2 AND 50 bucket cap: a two-stage count over the
    // bucket key, feeding the join that gates the candidate self-join —
    // without it one boilerplate min-gram bucket is df^2/2 verify work
    assert(nodeIds(p, "HashAggregate").size >= 2,
      "the bucket-depth count must be a partial+final aggregate")
    assert(p.contains("count(1)"),
      "the depth cap's count must appear in the plan (the cap is load-bearing at scale)")
  }

  test("triangle_count: oriented edge set persisted; closure is equi-joins only") {
    val p = plan("triangle_count")
    assert(!p.contains("CartesianProduct"), "triangle closure must be equi-joins")
    assert(p.contains("InMemoryRelation"),
      "the canonical a<b edge set is persisted and reused by all three join roles")
    assert(nodeIds(p, "HashAggregate").size >= 2,
      "per-node triangle count is partial+final")
  }

  test("lpa step: labels side is a pinned broadcast; argmax is window-free") {
    import spark.implicits._
    val adj = Seq((1L, 2L, 3L), (2L, 1L, 3L)).toDF("u", "v", "w")
    val labels = Seq((1L, 1L), (2L, 2L)).toDF("page", "lbl")
    val p = graft.operators.Graph.lpaStep(adj, labels)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), "vote join must broadcast the node-domain-sized labels")
    assert(!p.contains("Window ["), "argmax is max(struct(...)), not a ranking window")
    // the struct-valued max buffer is not HashAggregate-able, so the argmax
    // stage plans as ObjectHashAggregate / SortAggregate — still partial+final
    val aggs = nodeIds(p, "HashAggregate") ++ nodeIds(p, "ObjectHashAggregate") ++
      nodeIds(p, "SortAggregate")
    assert(aggs.size >= 4, s"vote sum and argmax are each partial+final, got $aggs")
  }

  test("ts_anomaly: per-seg stats broadcast back; no window, monthly frame from cache") {
    val p = plan("ts_anomaly")
    assert(p.contains("BroadcastHashJoin"), "5-row stats frame must broadcast onto monthly")
    assert(!p.contains("Window ["), "the z-test is a broadcast join + filter, not a window")
    assert(p.contains("InMemoryRelation"),
      "monthly frame is persisted — stats and flag passes must not re-aggregate orders")
  }

  test("cms_heavy_hitters: sketch folds partial+final; estimate is a broadcast lookup") {
    val p = plan("cms_heavy_hitters")
    assert(!p.contains("CartesianProduct"),
      "the 1-row sketch joins back as a broadcast, never a cartesian")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the sketch row must broadcast onto the term dictionary")
    // the typed Array[Long] buffer plans as ObjectHashAggregate/SortAggregate —
    // partial+final means map tasks reduce their slice before anything shuffles
    val aggs = nodeIds(p, "ObjectHashAggregate") ++ nodeIds(p, "SortAggregate")
    assert(aggs.size >= 2, s"sketch build must be partial+final, got $aggs")
    assert(!p.toLowerCase.contains("count(distinct"),
      "no exact per-term counting anywhere — the output is sketch-derived")
  }

  test("dedup_keep_best: clusters broadcast onto the corpus scan; winner argmax is window-free") {
    val p = plan("dedup_keep_best")
    assert(p.contains("BroadcastHashJoin"),
      "the near-dup cluster table (tiny) must broadcast onto documents")
    assert(!p.contains("Window ["),
      "per-cluster winner is max(struct(quality, -doc_id)), not a ranking window")
  }

  test("split_leakage_safe: cluster left-join broadcasts; split assignment is map-side") {
    val p = plan("split_leakage_safe")
    assert(p.contains("BroadcastHashJoin"), "cluster canonical ids broadcast onto the corpus")
    assert(!p.contains("Window ["), "split hashing is pure row-local arithmetic")
    assert(!p.contains("CartesianProduct"))
  }

  test("embedding_kmeans: final assignment is a broadcast score + window-free argmax") {
    val p = plan("embedding_kmeans")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "k centroids must broadcast — assignment is k x N map-side")
    assert(!p.contains("Window ["),
      "argmax is max(struct(sim, -c_id)), not a per-vector ranking window")
    assert(!p.contains("CartesianProduct"), "the only product is the broadcast k-row score")
  }

  test("multimodal_phash_dedup: map + one combiner aggregation, no self-join") {
    val p = plan("multimodal_phash_dedup")
    assert(!p.contains("Join"), "phash grouping must not self-join — output is GROUPS, not pairs")
    assert(nodeIds(p, "HashAggregate").size >= 2, "group-by must be partial+final")
  }

  test("skew_profile: per-key count is partial+final; stats run on the key-domain frame") {
    val p = plan("skew_profile")
    // two aggregations (per-key count, then global stats incl. exact
    // percentile) — the count must be combiner-friendly
    val aggs = nodeIds(p, "HashAggregate") ++ nodeIds(p, "ObjectHashAggregate") ++
      nodeIds(p, "SortAggregate")
    assert(aggs.size >= 4, s"both stages partial+final, got $aggs")
    assert(!p.contains("Window ["), "no window anywhere — stats are aggregates")
  }

  test("dedup_containment: window-hash equi-joins only; exploded frame cached once") {
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct"), "candidates come from the window-hash group, never all-pairs")
    assert(p.contains("InMemoryRelation"),
      "the exploded (doc, window-hash) frame is persisted — df filter, counts and both join roles read it")
    assert(nodeIds(p, "HashAggregate").size >= 4, "df, window counts and pair counts all partial+final")
  }

  test("chunk_content_defined: map-side explode, no join, no window") {
    val p = plan("chunk_content_defined")
    assert(!p.contains("Join"), "CDC chunking is row-local — boundaries come from the row's own text")
    assert(!p.contains("Window ["), "no ranking anywhere")
  }

  test("ts_seasonality: segment totals broadcast back onto the month-of-year frame") {
    val p = plan("ts_seasonality")
    assert(p.contains("BroadcastHashJoin"), "the 5-row per-segment frame must broadcast")
    assert(!p.contains("Window ["), "the index is a join of two aggregates, not a window")
    assert(p.contains("InMemoryRelation"), "monthly frame cached — both folds read it")
  }

  test("winsorize_values: bounds broadcast; clip + clipped sum run map-side then partial+final") {
    val p = plan("winsorize_values")
    assert(p.contains("BroadcastHashJoin"), "the (type, lo, hi) frame must broadcast")
    assert(!p.contains("Window ["))
    val aggs = nodeIds(p, "HashAggregate") ++ nodeIds(p, "ObjectHashAggregate") ++
      nodeIds(p, "SortAggregate")
    assert(aggs.size >= 4, s"percentile pass and winsorized pass each partial+final, got $aggs")
  }

  test("lm_bigram_score: prefix broadcasts, model joins equi (scale plan); bigram frame cached once") {
    val p = plan("lm_bigram_score")
    // the prefix table is unigram-keyed (vocab-bounded) and pinned with an
    // explicit broadcast() — that one must always broadcast
    assert(nodeIds(p, "BroadcastHashJoin").size >= 1,
      "the vocab-bounded prefix table must broadcast onto the scoring pass")
    // the MODEL table is pair-keyed (grows toward vocab^2 on a real
    // corpus) and is deliberately NOT pinned: its intended scale plan is
    // the shuffle equi-join on `big`. At fixture scale auto-broadcast may
    // pick a broadcast anyway — fine; what the audit pins is that it can
    // never degrade past an equi-join
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the model join must stay an equi-join (shuffle or broadcast), never all-pairs")
    assert(p.contains("InMemoryRelation"),
      "the corpus bigram explode is persisted — model, prefix and scoring all read it")
    assert(!p.contains("Window ["))
  }

  test("lm_trigram_score: unigrams broadcast, n-gram models stay equi; train tokens cached once") {
    val p = plan("lm_trigram_score")
    // the two vocab-bounded unigram lookups (w2, w3) are pinned with
    // explicit broadcast() — both must broadcast onto the scoring pass
    assert(nodeIds(p, "BroadcastHashJoin").size >= 2,
      "both unigram lookups must broadcast onto the scoring pass")
    // tri/bigram models are pair/triple-keyed (grow toward vocab^n) and
    // deliberately NOT pinned: intended scale plan is the shuffle
    // equi-join; fixture-scale auto-broadcast is fine. The only
    // permitted nested-loop is the 1-row total-N frame re-entering.
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
    assert(nodeIds(p, "BroadcastNestedLoopJoin").size <= 1,
      "only the 1-row N frame may enter as a nested-loop broadcast")
    assert(p.contains("InMemoryRelation"),
      "the train-token frame is persisted — tri, big and uni counts all read it")
    assert(!p.contains("Window ["))
  }

  test("ccnet_perplexity_buckets: the composition adds one distribution window, no new corpus stage") {
    val p = plan("ccnet_perplexity_buckets")
    // exactly ONE window in the whole composition — ccnetBuckets' cutoff
    // search over the per-language DISTINCT-score distribution; the LM
    // scoring pass must not introduce a second one (a per-doc rank or a
    // corpus NTILE would show here)
    assert(nodeIds(p, "Window").size == 1,
      "the only window is the ccnet cutoff search over the score distribution")
    // the lm_trigram shape survives the composition: both unigram
    // lookups broadcast, plus ccnet's per-language counts and cutoffs
    assert(nodeIds(p, "BroadcastHashJoin").size >= 4,
      "unigrams, per-language counts and cutoffs must all broadcast")
    assert(p.contains("InMemoryRelation"),
      "train tokens (LM) and the scored frame (ccnet) are each persisted once")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
    assert(nodeIds(p, "BroadcastNestedLoopJoin").size <= 1,
      "only the 1-row N frame may enter as a nested-loop broadcast")
  }

  test("dedup_winnow: selection is map-side off one cached fp table; pairing stays equi") {
    val p = plan("dedup_winnow")
    assert(p.contains("InMemoryRelation"),
      "the distinct (doc_id, fp) table is persisted — df census, both pairing tiers " +
        "and per-doc counts all read it")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "every pairing join keys on fp / doc ids — never all-pairs")
    assert(!p.contains("Window ["), "no window anywhere — ranks play no part")
  }

  test("curriculum_plan: stage cutoffs off the distribution; rank windows partition by (stage, shard)") {
    val p = plan("curriculum_plan")
    // exactly two windows: the cumulative sum over the (score, count)
    // DISTRIBUTION (single-partition over distinct scores — the ccnet
    // precedent) and the per-(stage, shard) rank
    assert(nodeIds(p, "Window").size == 2,
      "distribution cum + partitioned rank, nothing else")
    // the accepted SinglePartition stage: exactly ONE, and it consumes
    // the post-aggregate (score, count) frame — whose cardinality is
    // structurally bounded by the downstream BROADCAST of the cutoff
    // frame (past the broadcast threshold the join fails loudly; the
    // documented fix is score-quantization coarsening, see the
    // curriculumPlan scaladoc). A second SinglePartition would mean a
    // corpus-row funnel crept in.
    // two accepted SinglePartition stages: the distribution cum window
    // and the 1-row corpus-count fold — a third would mean a corpus-row
    // funnel crept in
    assert("SinglePartition".r.findAllIn(p).size == 2,
      "distribution window + 1-row total fold only, never a corpus funnel")
    assert(nodeIds(p, "HashAggregate").size >= 2,
      "the (score, count) distribution fold must be partial+final below the window")
    assert("""\], \[stage#\d+L?, shard#\d+\]""".r.findFirstIn(p).isDefined,
      "the corpus rank window must partition by (stage, shard), never funnel")
    assert(nodeIds(p, "BroadcastHashJoin").size >= 1,
      "the (score -> stage) cutoff frame must broadcast back for map-side assignment")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
  }

  test("rare_token_docs: one cached distinct token table; the df join-back is an equi-join") {
    val p = plan("rare_token_docs")
    assert(p.contains("InMemoryRelation"),
      "the distinct (doc_id, tok) frame is persisted — df census and scoring both read it")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the vocab-keyed df table joins back as an equi-join — never all-pairs")
    assert(!p.contains("Window ["), "pure group-and-join, no windows")
  }

  test("ts_changepoint: windows partition by segment; stats broadcast onto the cached monthly frame") {
    val p = plan("ts_changepoint")
    assert("""\], \[seg#\d+\]""".r.findFirstIn(p).isDefined,
      "both the prefix and the pick window must partition BY SEG — never a global funnel")
    assert(nodeIds(p, "BroadcastHashJoin").size >= 1,
      "the per-segment stats frame must broadcast back")
    assert(p.contains("InMemoryRelation"),
      "the monthly pre-aggregation is persisted — stats and the cum pass both read it")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
  }

  test("ccnet_buckets: cutoffs broadcast; the only window runs over the score distribution") {
    val p = plan("ccnet_buckets")
    // the 2-values-per-language cutoff frame (and the |langs|-row count
    // frame feeding it) must broadcast — bucket assignment is map-side
    assert(nodeIds(p, "BroadcastHashJoin").size >= 2,
      "cutoff and per-language-count frames must broadcast, not shuffle")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "no all-pairs join anywhere in the bucketing")
    // exactly ONE window — the cumulative count over the (lang, fluency)
    // DISTRIBUTION. A second window would mean the naive per-language
    // NTILE shape crept in (an entire language sorted inside one task).
    assert(nodeIds(p, "Window").size == 1,
      "cutoff search must window over the distribution only — never over the corpus")
    // and that window's input is aggregated rows, not the raw score frame:
    // the distribution agg is partial+final like every groupBy here
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "distribution and per-language counts must aggregate partial+final")
  }

  test("snapshot_diff: ONE full-outer equi-join, no cartesian, digests map-side") {
    val p = plan("snapshot_diff")
    // the whole diff is a single doc_id-keyed full-outer join of the two
    // digest frames — the three-join anti/anti/inner shape (three
    // shuffles of the same inputs) must never creep in
    assert(p.contains("FullOuter"), "the diff join must be full-outer")
    val joins = nodeIds(p, "SortMergeJoin") ++ nodeIds(p, "ShuffledHashJoin") ++
      nodeIds(p, "BroadcastHashJoin")
    assert(joins.size == 1, s"exactly one join, got ${joins.size}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "no all-pairs shape in the diff")
  }

  test("classifier_buckets: the composition adds no corpus-volume stage — one Window over the distribution") {
    val p = plan("classifier_buckets")
    // classifier shape: weight broadcast; ccnet shape: distribution
    // window + broadcast cutoffs — and still exactly ONE window total
    assert(nodeIds(p, "Window").size == 1,
      "bucketing must window over the score distribution only")
    assert(nodeIds(p, "BroadcastHashJoin").size >= 3,
      "weights, per-language counts, and cutoffs must all broadcast")
    assert(!p.contains("CartesianProduct"), "no cartesian in the composition")
    assert(nodeIds(p, "BroadcastNestedLoopJoin").size <= 1,
      "only the 1-row totals frame may nested-loop join")
  }

  test("dedup_url: canonicalization is map-side; the dedup is one hash-group") {
    val p = plan("dedup_url")
    // URL construction + canonicalization must ride the scan (no
    // shuffle before the group); the group + join-back is dedup_exact's
    // shape — partial+final agg on the canonical key
    assert(nodeIds(p, "HashAggregate").size >= 2,
      "the canonical-key group must be partial+final")
    assert(!p.contains("Window ["), "no window anywhere")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
    assert(nodeIds(p, "Scan parquet").size <= 2,
      "canonicalization adds no extra corpus scan")
  }

  test("tokenizer_unigram: vocab rides as a bounded literal array; no join, no window") {
    val p = plan("tokenizer_unigram")
    // the final segmentation (visible inside segF's InMemoryRelation):
    // the sorted piece array is a LITERAL in the segmentation projection
    // (round 17 — it previously entered as a 1-row collect_list
    // broadcast, one extra aggregation job + BroadcastNestedLoopJoin
    // build per EM round). The word table is never shuffled, joined or
    // cartesian-producted against pieces — there is NO join of any kind
    // in the train loop. (The per-round TakeOrdered keeps ran as
    // driver-collected bounded rows — UnigramSpec pins their semantics.)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Join"),
      "the bounded vocabulary must ride as a literal — no join of any kind")
    assert(p.contains("InMemoryRelation"),
      "the final encodings persist once and feed the usage fold")
    assert(!p.contains("Window ["), "no window anywhere in the train loop")
    assert(!p.contains("CartesianProduct"),
      "the vocabulary is a literal, never a cartesian")
    // the word-table localCheckpoint bounds plan depth: the visible
    // lineage starts from a checkpointed RDD, not the corpus scan
    assert(p.contains("Scan ExistingRDD"),
      "the word table must be cut by localCheckpoint, not accumulated lineage")
  }

  test("mix_doremi: one corpus fold; the step loop runs on the |domains|-row frame") {
    val p = plan("mix_doremi")
    // classifier shape survives: the exactly-8192-row weight table and
    // the 1-row totals broadcast onto the scoring pass
    assert(nodeIds(p, "BroadcastHashJoin").size >= 1,
      "the B-row weight table must broadcast onto the scoring pass")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
    // the reweighting windows DO funnel to a single partition — correct
    // here because their input is the per-domain aggregate (the
    // mix_unimax precedent); the corpus-volume work is the classifier
    // passes, bounded by the train + score scans
    assert(p.contains("Window"), "the EG steps run as windows")
    assert(nodeIds(p, "Scan parquet").size <= 2,
      "train + score are the only corpus scans; steps must not rescan")
  }

  test("prototype_prune: the prune windows BY CELL — one exchange, never a global funnel") {
    val p = plan("prototype_prune")
    // both window functions (hardness rank + cell count) partition by
    // the cell key, so the added shuffle is one cell-keyed exchange and
    // per-task sort volume is cell-bounded (k ~ sqrt(N) at scale)
    assert(p.contains("hashpartitioning(cell"),
      "the prune windows must partition by cell")
    assert(!p.contains("Exchange SinglePartition"),
      "a global rank would funnel the corpus through one task")
    assert(!p.contains("CartesianProduct"),
      "centroid scoring stays broadcast — no all-pairs anywhere")
  }

  test("mix_unimax: one corpus pass; waterfilling windows run on the model-sized source frame") {
    val p = plan("mix_unimax")
    assert(nodeIds(p, "Scan parquet").size == 1,
      "the tokenize+count pass is the only corpus work — one scan")
    assert(nodeIds(p, "HashAggregate").size >= 2,
      "the per-source count must be partial+final")
    // the rank/prefix windows DO funnel to a single partition — that is
    // correct here because their input is the aggregated |sources|-row
    // frame (the ccnet-cutoff precedent), and the windows must sit
    // strictly above the aggregation in the plan
    assert(p.contains("Window"), "waterfilling needs the rank/prefix windows")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 1-row level frame re-enters as a broadcast")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
  }

  test("embedding_pca: corpus never crosses an exchange — folds are partial+final, direction broadcasts") {
    val p = plan("embedding_pca")
    // the mean fold (64 groups) and covariance fold (4096 groups) must
    // both aggregate partial+final so the dim2-per-vector explode is
    // absorbed map-side; the iteration frame and direction re-enter as
    // broadcasts (1-row cross joins)
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "mean and covariance folds must each be partial+final")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "means/direction must broadcast onto the corpus passes")
    assert(!p.contains("Window ["), "no window anywhere")
    assert(!p.contains("CartesianProduct"),
      "the 1-row frames must broadcast, never cartesian")
  }

  test("corpus_diversity: one corpus scan feeds all three n-gram widths; distinct is a two-stage group") {
    val p = plan("corpus_diversity")
    assert(nodeIds(p, "Scan parquet").size == 1,
      "the three n-gram widths must ride ONE tokenize pass (concat of in-array transforms), never three scans")
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "the (source, n, fp) distinct and the per-(source, n) fold must each be partial+final")
    assert(!p.contains("Window ["), "no window anywhere — ratios are aggregates")
    assert(p.contains("graft_token_hashes"),
      "tokenize+hash must be the native codegen'd expression")
  }

  test("tokenizer_apply: trained vocab broadcasts onto the corpus token stream") {
    val p = plan("tokenizer_apply")
    assert(p.contains("BroadcastHashJoin"),
      "the word->encoding table is vocabulary-sized and must broadcast")
    assert(!p.contains("Window ["))
    assert(nodeIds(p, "HashAggregate").size >= 2, "per-doc symbol fold is partial+final")
  }

  test("graph_degree_stats: edge table cached once; both degree folds partial+final") {
    val p = plan("graph_degree_stats")
    assert(p.contains("InMemoryRelation"),
      "the edge table feeds the out-side and in-side folds from cache")
    assert(nodeIds(p, "HashAggregate").size >= 4, "out and in folds each partial+final")
  }

  test("ann_recall_report: truth pass uses the bounded TopK fold, not a window funnel") {
    val p = plan("ann_recall_report")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 8 query vectors broadcast over the corpus for the exact truth scan")
  }

  test("cdc_latest_state: per-key argmax is one aggregate, not a version-window funnel") {
    val p = plan("cdc_latest_state")
    assert(!p.contains("Window ["),
      "latest-per-key must be max(struct(...)) — constant state per key, no all-versions shuffle per reducer")
    val aggs = nodeIds(p, "HashAggregate") ++ nodeIds(p, "ObjectHashAggregate") ++
      nodeIds(p, "SortAggregate")
    assert(aggs.size >= 2, s"partial+final, got $aggs")
  }

  test("incremental_agg_merge: history and delta re-aggregate from cached partials") {
    val p = plan("incremental_agg_merge")
    assert(p.contains("InMemoryRelation"), "the event projection is cached — both branches read it")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the 1-row max-day frame must broadcast into both branch filters")
    assert(!p.contains("Window ["))
  }

  test("embedding_pq: one-row codebook broadcast; encoding is shuffle-free map arithmetic") {
    val p = plan("embedding_pq")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the codebook row must broadcast")
    assert(!p.contains("Window ["))
    // the only exchange allowed is the presentation sort's range partition
    assert(!p.contains("Exchange hashpartitioning"),
      "no hash shuffle anywhere — encoding is map-side")
  }

  test("chunk_dedup: repeated passages via one combiner aggregation, no pairwise join") {
    val p = plan("chunk_dedup")
    assert(!p.contains("Join"), "repeated-passage detection is GROUP BY chunk_md5 — no pair join")
    val aggs = nodeIds(p, "HashAggregate") ++ nodeIds(p, "ObjectHashAggregate")
    assert(aggs.size >= 2, s"chunk grouping must be partial+final, got $aggs")
  }

  test("decontaminate_overlap: benchmark shingle pool broadcasts; corpus side never shuffles text") {
    val p = plan("decontaminate_overlap")
    assert(p.contains("BroadcastHashJoin"), "pool join should broadcast the benchmark grams")
    assert(p.toLowerCase.contains("partial_count"), "overlap count is partial+final")
  }

  test("sample_importance: one persisted token pass, dictionary broadcast, TakeOrdered top-k") {
    val p = plan("sample_importance")
    assert(nodeIds(p, "InMemoryRelation").nonEmpty,
      "the tokenize+explode pass must be persisted (it feeds three consumers)")
    assert(nodeIds(p, "BroadcastHashJoin").size >= 2,
      "the vocab-sized weight table (and the freq-table join) must broadcast")
    assert(nodeIds(p, "HashAggregate").size >= 6,
      "three aggregations (target freq, corpus freq, per-doc score), each partial+final")
    assert(nodeIds(p, "TakeOrderedAndProject").nonEmpty,
      "top-50 must be TakeOrderedAndProject, never a global sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_semantic: centroids broadcast, in-cell pairing is an equi-join, cell frame cached") {
    val p = plan("dedup_semantic")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 4 seed centroids must broadcast for assignment")
    assert(nodeIds(p, "InMemoryRelation").nonEmpty,
      "the cell frame is persisted (feeds both pair sides and the keep join)")
    // the per-cell pairing must plan as an equi-join ON the cell id (SMJ or
    // shuffled/broadcast hash) — a CartesianProduct would mean the id_a <
    // id_b predicate leaked into the join condition as the only key
    assert(!p.contains("CartesianProduct"), "in-cell pairing must join on cell, never all-pairs")
  }

  test("minhash_calibration: banded candidates only — no all-pairs; sorted-merge exact kernel") {
    val p = plan("minhash_calibration")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "calibration pairs come from LSH bands, never an all-pairs product")
    assert(p.contains("InMemoryRelation"),
      "the signature table is the one persisted base dedup_minhash also reads")
    assert(p.contains("graft_sorted_inter"),
      "exact jaccard must ride the zero-allocation sorted-merge kernel")
  }

  test("importance_hashed: B-bounded weight table broadcasts; one persisted feature pass") {
    val p = plan("importance_hashed")
    // the hashed model is <= 8192 rows at ANY corpus size — it must enter
    // as a broadcast, never shuffle the corpus side of the scoring join
    assert(p.contains("BroadcastHashJoin"),
      "the B-bounded weight table must broadcast onto the feature stream")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "no all-pairs shape anywhere in the scoring")
    assert(p.contains("InMemoryRelation"),
      "the slim (doc_id, lang, bkt) stream must persist — the raw/target counts " +
        "and the scoring join-back all read it; without it the tokenize+hash " +
        "pass executes three times")
    assert(p.contains("partial_count"),
      "bucket counting must be partial+final: every map task emits <= B partial rows")
  }

  test("quality_classifier: exactly-B weight table broadcasts; scoring is one pass + partial sum") {
    val p = plan("quality_classifier")
    // the trained model is the GENERATED 8192-bucket domain — it must
    // enter the scoring join as a broadcast, never shuffle the corpus side
    assert(p.contains("BroadcastHashJoin"),
      "the B-row weight table must broadcast onto the feature stream")
    // the ONLY nested-loop join allowed is the 1-row ptot/ntot totals
    // broadcast (mix_epoch_plan's n_src shape); a corpus-side cartesian
    // would be an all-pairs regression
    assert(!p.contains("CartesianProduct"),
      "no cartesian anywhere in train or score")
    assert(nodeIds(p, "BroadcastNestedLoopJoin").size <= 1,
      "only the single-row totals frame may nested-loop join")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-doc scoring must be partial+final aggregation")
  }

  test("corpus_stats: one rollup pass, no join, token arrays never shuffle") {
    val p = plan("corpus_stats")
    assert(!p.contains("Join"), "the data card is a single-input aggregation")
    assert(p.contains("Expand"), "rollup grouping sets expand map-side")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      "the rollup agg must be partial+final — subtotal rows are combiner-merged, " +
        "so only <= (|source x lang| + |source| + 1) x tasks partial rows shuffle")
    // the token ARRAY must die map-side: size() is computed before the
    // Expand/agg, so no exchange in the plan may carry an array column
    val shuffled = "Arguments: hashpartitioning[^\\n]*".r.findAllIn(p).mkString("\n")
    assert(!shuffled.contains("array<"),
      s"token arrays must never shuffle — only their size() crosses the agg: $shuffled")
  }

  test("source_drift: corpus work ends at one combiner agg; model frames broadcast, never all-pairs") {
    val p = plan("source_drift")
    assert(p.contains("partial_count"),
      "the (source, bkt) count must be partial+final — every map task emits <= |sources| x B partial rows")
    assert(!p.contains("CartesianProduct"),
      "the sources x buckets grid must build from broadcast nested-loop over MODEL-sized frames, never a partitioned cartesian")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the <= B-row bucket-totals and 1-row grand-total frames enter the grid as broadcasts")
    assert(p.contains("InMemoryRelation"),
      "the (source, bkt) counts persist — totals, bucket totals, grand total and the grid join all read it; " +
        "without it the corpus tokenize+hash pass executes four times")
  }

  test("minhash_band_sweep: every config's candidates come from equi band joins on the shared sig cache") {
    val p = plan("minhash_band_sweep")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "band-bucket joins are equi-joins at every (bands, width) config — never all-pairs")
    assert(p.contains("InMemoryRelation"),
      "all three configs band over the ONE persisted signature table dedup_minhash materializes")
    assert(p.contains("partial_count"),
      "per-config candidate aggregation must be partial+final: 9 rows leave the final stage")
  }

  test("dedup_cluster_stats: histogram aggregates are combiner-merged; no partitioned cartesian") {
    val p = plan("dedup_cluster_stats")
    assert(!p.contains("CartesianProduct"),
      "the singleton row joins two 1-row aggregates — broadcast nested-loop, never a partitioned cartesian")
    assert(p.contains("partial_count"),
      "cluster sizing and the size histogram must both be partial+final aggs")
  }

  test("pack_efficiency: one corpus count pass; the length sweep is a broadcast over partition totals") {
    val p = plan("pack_efficiency")
    // the corpus contributes ONE partial+final count into the partition-
    // totals frame; the 4-value length sweep joins THAT, never the corpus
    assert(nodeIds(p, "Scan parquet").size == 1,
      "documents must be scanned exactly once — the sweep reprices partition totals, not the corpus")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 4-row seq_len frame must broadcast")
    assert(!p.contains("CartesianProduct"), "the sweep cross join must be the broadcast variant")
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "both the partition-totals agg and the sweep agg must be partial+final")
    assert(!p.contains("Window ["), "no window anywhere — the sweep is pure aggregation")
  }

  test("quality_funnel: map-side gates, one single-row agg, stack unpivot — no window, no cartesian") {
    val p = plan("quality_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("Window ["),
      "the funnel is gates + aggregation only")
    // canonical-digest agg + funnel agg, each partial+final
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "digest canon and the flag rollup must both be partial+final aggregates")
    assert(p.contains("Generate"), "the 5-stage unpivot rides Generate(stack), post-aggregation")
  }

  test("knn_label_probe: in-cell pairing is an equi-join; top-kNN is the bounded aggregator, window-free") {
    val p = plan("knn_label_probe")
    assert(!p.contains("CartesianProduct"),
      "neighbor candidates must come from the cell equi-join, never all-pairs")
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window ["),
      "per-vector top-kNN must ride the bounded TopK aggregator, and the vote argmax is window-free")
    assert(nodeIds(p, "ObjectHashAggregate").size >= 2,
      "TopK must be partial+final — map tasks reduce to <= kNN entries before the shuffle")
    assert(p.contains("InMemoryRelation"),
      "the cell frame persists once and feeds both pair sides and the label join")
  }

  test("mix_epoch_plan: one corpus pass; the budget arithmetic is model-sized broadcast work") {
    val p = plan("mix_epoch_plan")
    assert(nodeIds(p, "Scan parquet").size == 1,
      "documents must be scanned exactly once — one tokenize+count pass")
    assert(p.contains("InMemoryRelation"),
      "the |sources| count frame persists and feeds both n_src and the plan frame")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row source-count frame must broadcast onto the |sources| frame")
    assert(!p.contains("CartesianProduct") && !p.contains("Window ["),
      "budget arithmetic is pure projection over the model frame")
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "per-source count and the n_src count must both be partial+final")
  }

  test("ann_range_search: asymmetric band prefilter is an equi-join; no all-pairs, sig table cached") {
    val p = plan("ann_range_search")
    assert(!p.contains("CartesianProduct"),
      "candidates must come from the band equi-join, never a product")
    assert(p.contains("InMemoryRelation"),
      "the SRP signature table persists once and feeds both band sides")
    assert(!p.contains("Window ["),
      "radius semantics need no ranking — no window anywhere")
  }

  test("hard_negatives: mismatch filter precedes the bounded TopK; equi-join cells, window-free") {
    val p = plan("hard_negatives")
    assert(!p.contains("CartesianProduct") && !p.contains("Window ["),
      "cell equi-join candidates + bounded TopK — never all-pairs or a pair-volume window")
    assert(nodeIds(p, "ObjectHashAggregate").size >= 2,
      "TopK must be partial+final")
    assert(p.contains("InMemoryRelation"),
      "the cell frame persists once for both pair sides")
  }

  test("label_centroid_margin: broadcast centroids, map-side margins, no pair volume") {
    val p = plan("label_centroid_margin")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the |labels|-row centroid frame must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("Window ["),
      "margins are map-side scores + partial+final aggs — no pair join, no window")
    assert(!p.contains("SortMergeJoin"),
      "nothing corpus-sized may shuffle-join — the only join is the broadcast")
  }

  test("c4_span_dedup: span grouping like dedup_paragraph; no corpus window, line frame cached") {
    val p = plan("c4_span_dedup")
    assert(!p.contains("CartesianProduct"), "span matching is a hash group + equi-join, never all-pairs")
    assert(!p.contains("Window ["),
      "the canonical pick is a window-free min-struct agg — no window touches the corpus")
    assert(p.contains("InMemoryRelation"),
      "the line frame persists once and feeds spans AND reconstruction")
    // struct-min (canon) and collect_list (reconstruction) plan as
    // Object/Sort aggregates, not plain HashAggregate — count all kinds
    assert(nodeIds(p, "HashAggregate").size + nodeIds(p, "ObjectHashAggregate").size
      + nodeIds(p, "SortAggregate").size >= 4,
      "span canon and the reconstruction agg must be partial+final")
  }

  test("streaming curation gate: native Bloom probe, no Scala UDF in the per-batch hot path") {
    // the gate runs once per micro-batch over every intake row — the one
    // place a boxed per-row UDF would sit directly in the streaming hot
    // path (round-8 verdict nit; the batch twin bloom_membership was
    // migrated in round 8, this pins the streaming side)
    import graft.streaming.StreamingCuration
    val docs = spark.range(8)
      .selectExpr("id AS doc_id", "concat('gate plan doc number ', id) AS text")
    val bytes = StreamingCuration.serialize(StreamingCuration.historicalFilter(docs))
    val p = StreamingCuration.gate(
      docs.withColumn("digest", graft.functions.Portable.contentDigest), Some(bytes))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.toLowerCase.contains("scalaudf") && !p.contains("BatchEvalPython"),
      "the historical gate must probe via the codegen'd BloomFilterMightContain, not a UDF")
    assert(p.toLowerCase.contains("might_contain"),
      "the native Bloom probe must appear in the gate plan")
    assert("\\[codegen id : \\d+\\]".r.findFirstIn(p).isDefined,
      "the gate must stay inside whole-stage codegen")
  }

  test("pmi_collocations: one cached token pass; pair table pruned before joins; bounded top-k") {
    val p = plan("pmi_collocations")
    assert(p.contains("InMemoryRelation"),
      "the token-array frame is persisted — pair counts, unigram counts and totals all read it")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be TakeOrdered — <= k rows cross the final stage at any corpus size")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
    assert(nodeIds(p, "BroadcastNestedLoopJoin").size <= 1,
      "only the 1-row totals frame may enter as a nested-loop broadcast")
    assert(!p.contains("Window ["), "ranking rides TakeOrdered, never a window")
  }

  test("ts_acf: lead windows partition by segment; stats broadcast onto the cached monthly frame") {
    val p = plan("ts_acf")
    assert("""\], \[seg#\d+\]""".r.findFirstIn(p).isDefined,
      "the lead windows must partition BY SEG — never a global funnel")
    assert(nodeIds(p, "BroadcastHashJoin").size >= 1,
      "the per-segment stats frame must broadcast back")
    assert(p.contains("InMemoryRelation"),
      "the monthly pre-aggregation is persisted — stats and the dev pass both read it")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
  }

  test("dedup_edit_blocked: blocking stays equi; slim length prune precedes the text joins") {
    val p = plan("dedup_edit_blocked")
    assert(p.contains("InMemoryRelation"),
      "the slim doc frame is persisted — blocks, the length prune and the text verify all read it")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "every pairing join keys on the block tuple / doc ids — never all-pairs")
    assert(!p.contains("Window ["), "no window anywhere")
    assert(p.contains("levenshtein"),
      "the exact DP verify must appear (and only after the equi-join candidates)")
  }

  test("chinchilla_plan: one corpus count pass; the ladder is map-side generate arithmetic") {
    val p = plan("chinchilla_plan")
    assert(nodeIds(p, "Scan parquet").size == 1,
      "documents must be scanned exactly once — one tokenize+count pass")
    assert(nodeIds(p, "HashAggregate").size >= 2,
      "the corpus token count must be partial+final")
    assert(p.contains("Generate"),
      "the parameter ladder explodes from the 1-row total — no join at all")
    assert(!p.contains("CartesianProduct") && !p.contains("Window ["),
      "pure projection after the count")
  }

  test("event_path_lift: one per-user lead window; marginals broadcast off the cached transitions") {
    val p = plan("event_path_lift")
    assert("""\], \[user_id#\d+L?\]""".r.findFirstIn(p).isDefined,
      "the lead window must partition BY USER — the sessionize shape, never a global funnel")
    assert(p.contains("InMemoryRelation"),
      "the transition frame persists once — pair counts, both marginals and the total read it")
    assert(nodeIds(p, "BroadcastHashJoin").size >= 2,
      "both event-type-domain marginals must broadcast")
    assert(nodeIds(p, "BroadcastNestedLoopJoin").size <= 1,
      "only the 1-row total frame may enter as a nested-loop broadcast")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
  }

  test("langid_eval: one cached prediction pass; truth totals broadcast; window-free") {
    val p = plan("langid_eval")
    assert(p.contains("InMemoryRelation"),
      "the per-doc prediction pass persists once — the confusion agg and totals both read it")
    assert(nodeIds(p, "BroadcastHashJoin").size >= 1,
      "the |langs|-row totals frame must broadcast back")
    assert(!p.contains("CartesianProduct") && !p.contains("Window ["),
      "two partial+final aggs over the langs domain — no window, no product")
  }

  test("weighted_sample: bounded TopK fold, window-free; priority is map-side arithmetic") {
    val p = plan("weighted_sample")
    assert(nodeIds(p, "ObjectHashAggregate").size >= 2,
      "the per-source pick must be the bounded TopK aggregator, partial+final — " +
        "map tasks reduce to <= k entries before the shuffle")
    assert(!p.contains("Window ["),
      "never the row_number window form — that funnels every row of a source into one task")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "no join anywhere — priority is pure map-side arithmetic")
  }

  test("target_encode_loo: category and global stats broadcast; encoding is map-side") {
    val p = plan("target_encode_loo")
    assert(nodeIds(p, "BroadcastHashJoin").size >= 1,
      "the bounded per-category frame must broadcast onto the row stream")
    assert(nodeIds(p, "BroadcastNestedLoopJoin").size <= 1,
      "only the 1-row global frame may enter as a nested-loop broadcast")
    assert(!p.contains("SortMergeJoin"),
      "nothing corpus-sized may shuffle-join — both joins are broadcasts")
    assert(!p.contains("CartesianProduct") && !p.contains("Window ["),
      "the encoding itself is pure map-side projection")
  }

  test("scd2_history: every window shares ONE per-key exchange; no single-partition funnel") {
    val p = plan("scd2_history")
    assert(!p.contains("Exchange SinglePartition"),
      "version windows must partition by the changelog key, never globally")
    // raw-ordering, change-collapse and interval-closing windows all
    // partition by the bare key, so Catalyst plans exactly one
    // hashpartitioning exchange (the final ORDER BY adds a range exchange)
    val hashEx = "hashpartitioning\\([^\\n]*".r.findAllIn(p).toList
    assert(hashEx.size == 1,
      s"all three windows must reuse one per-key shuffle, got:\n${hashEx.mkString("\n")}")
    assert(hashEx.head.contains("key"), "the one exchange partitions by key")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "the collapse is window arithmetic, not a self-join")
  }

  test("kcore peel: peeled set anti-joins as a pinned broadcast on BOTH endpoints") {
    import spark.implicits._
    // the per-round plan is consumed by localCheckpoint inside kcore, so
    // audit the exposed single-peel builder (pagerank-iteration precedent)
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val p = graft.operators.Graph.kcorePeel(e, 2)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    val anti = "BroadcastHashJoin [\\s\\S]{0,200}?LeftAnti".r.findAllIn(p).size
    assert(anti >= 2 || nodeIds(p, "BroadcastHashJoin").size >= 2,
      s"both endpoint prunes must be broadcast anti-joins, plan:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "nothing edge-sized may shuffle-join against the small peeled set")
    val d = graft.operators.Graph.kcoreDegrees(e)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(nodeIds(d, "HashAggregate").size >= 2,
      "degree sum must be partial+final (map-side combine before the shuffle)")
    assert(!d.contains("Window ["), "degrees are an aggregate, not a window")
  }

  test("closeness bfs round: frontier expands by node-keyed equi join, never a product") {
    import spark.implicits._
    // per-round plan is consumed by localCheckpoint inside harmonicCloseness:
    // audit the exposed single-round builder (the kcorePeel precedent).
    // The frontier is N·W-shaped (packed seed bitmaps), so unlike the
    // single-seed bfs_levels it must NOT require a broadcast to plan —
    // equi joins are the contract; the visited mask is a left join whose
    // projection clears already-reached bits.
    val e = Seq((1L, 2L), (2L, 3L)).flatMap(t => Seq(t, t.swap)).toDF("src", "dst")
    val f = Seq((1L, 0L, 1L)).toDF("node", "widx", "bits")
    val v = Seq((1L, 0L, 1L)).toDF("node", "widx", "bits")
    val p = graft.operators.Graph.bfsRound(e, f, v)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "both joins must stay equi (hash-partitionable at any N)")
    assert(nodeIds(p, "HashAggregate").size >= 2,
      "the per-(node, word) bit_or fold is partial+final")
  }

  test("basket_rules: bounded per-key pair join, pruned before marginals, bounded tail") {
    val p = plan("basket_rules")
    assert(!p.contains("CartesianProduct"),
      "pairing must ride the basket equi-join, never all-pairs")
    assert(!p.contains("Window ["), "counts are aggregates, not windows")
    assert(p.contains("TakeOrderedAndProject"),
      "topK must bound the tail — never a full sort of the rule set")
    assert(p.contains("BroadcastHashJoin"),
      "the mega-basket drop and the 1-row total must broadcast")
    // pair count + marginals + basket sizes each partial+final
    assert(nodeIds(p, "HashAggregate").size >= 6, "aggregates are two-stage")
  }

  test("rfm_segments: one corpus agg; cutoff windows run over distributions; scoring broadcast") {
    val p = plan("rfm_segments")
    assert(nodeIds(p, "BroadcastNestedLoopJoin").size >= 3 || nodeIds(p, "BroadcastExchange").size >= 4,
      "the three 1-row cutoff frames and the max-day frame enter as broadcasts")
    assert(!p.contains("SortMergeJoin"), "nothing customer-sized joins by shuffle")
    // the per-customer base agg is the only corpus-volume shuffle, two-stage
    assert(nodeIds(p, "HashAggregate").size >= 2, "base agg is partial+final")
    // every window's input is a (value, count) distribution behind an
    // aggregate, never raw customer rows: each Window node must sit above
    // a HashAggregate in its subtree — cheap proxy: windows <= dims and
    // no window partitions by cust
    assert(!p.contains("windowspecdefinition(cust"), "no per-customer window")
  }

  test("cohort_ltv: one customer shuffle key; cumulative window over the grid only") {
    val p = plan("cohort_ltv")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "joins stay equi")
    // the cumulative window partitions by cohort month over the
    // (cohort, offset) grid — never by customer, never SinglePartition
    assert(p.contains("windowspecdefinition(cm"), "window partitions by cohort")
    assert(!p.contains("windowspecdefinition(cust"), "no per-customer window")
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "first-month and cell aggs are partial+final")
    assert(p.contains("BroadcastHashJoin"), "cohort sizes broadcast")
  }

  test("attribution_linear: interval join equi on user; k window by conversion") {
    val p = plan("attribution_linear")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the touch join must be equi on user with the range residual, never a product")
    assert(p.contains("windowspecdefinition(conv_id"),
      "the split count partitions by conversion id")
    assert(!p.contains("windowspecdefinition(user_id"), "no per-user window needed")
    assert(nodeIds(p, "HashAggregate").size >= 2, "channel agg is partial+final")
  }

  test("inventory_abc: per-item agg is the only corpus shuffle; cumsum is DECOMPOSED") {
    val p = plan("inventory_abc")
    // the global revenue cumsum is rangeRankCum (range-partitioned local
    // window + broadcast prefix offsets); the grand total re-enters as a
    // 1-row broadcast — neither funnels the catalog through one task
    // the ONE single-partition exchange is the 1-row grand-total fold
    // (<= B partial rows in); the cumsum window partitions by pid
    assert("SinglePartition".r.findAllIn(p).size == 1,
      "only the grand-total fold may funnel — never the cumsum window")
    assert(p.contains("rangepartitioning"),
      "the decomposed cumsum range-partitions on (rev desc, item)")
    assert(p.contains("InMemoryRelation"),
      "the ranked per-item frame is persisted — window and census share one materialization")
    assert("""windowspecdefinition\(_gp_pid""".r.findFirstIn(p).isDefined,
      "the cumsum window partitions by the range-partition id")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "offset census and grand total join back as broadcasts")
    assert(nodeIds(p, "HashAggregate").size >= 2, "revenue agg is partial+final")
    assert("ReadSchema: [^\\n]*l_extendedprice[^\\n]*l_partkey".r.findFirstIn(p).isDefined
        || "ReadSchema: [^\\n]*l_partkey[^\\n]*l_extendedprice".r.findFirstIn(p).isDefined,
      "scan reads only (l_partkey, l_extendedprice)")
  }

  test("k_anonymity: one corpus group count; the profile folds over the size domain") {
    val p = plan("k_anonymity")
    assert(!p.contains("Join") && !p.contains("Window ["),
      "two chained aggregates, nothing else")
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "class count and the profile fold are each partial+final")
  }

  test("classifier_auc: one distribution fold; the rank window never sees corpus rows") {
    val p = plan("classifier_auc")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "weights broadcast into the scoring pass (the quality_classifier shape)")
    // exactly ONE window — the cumulative count over the score
    // DISTRIBUTION; a second would mean per-row ranking crept in
    assert(nodeIds(p, "Window").size == 1,
      "rank over the distribution only — never over the corpus")
    // the accepted SinglePartition stage: exactly one, consuming the
    // (score, cnt, pos) distribution — bounded by the quantized score
    // DOMAIN (ppb scores), not corpus rows; the documented knob when a
    // domain outgrows a task is to coarsen the quantization (scaladoc).
    // two accepted SinglePartition stages: the distribution window and
    // the final 1-row readout fold — both bounded by the quantized score
    // DOMAIN / a single row, never corpus rows
    assert("SinglePartition".r.findAllIn(p).size == 2,
      "distribution window + 1-row readout fold only, never a corpus funnel")
    assert(nodeIds(p, "HashAggregate").size >= 6,
      "scoring, distribution and the one-row fold are each partial+final")
  }

  test("ndcg_eval: bounded TopK folds rank the corpus; NDCG runs on the result list") {
    val p = plan("ndcg_eval")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "the 30-row ranked set broadcasts back for grades")
    assert(p.contains("BroadcastHashJoin"))
    // ranking is the bounded TopK aggregator, never a corpus rank window:
    // the only true Window is the ideal re-rank over the result list
    // (WindowGroupLimit nodes are the NATIVE irank<=k pushdown around it
    // — the same machinery the q7 audit pins — and don't count)
    assert((nodeIds(p, "Window") -- nodeIds(p, "WindowGroupLimit")).size <= 1,
      "no per-row corpus window — TopK folds map-side")
    assert(p.contains("ObjectHashAggregate"),
      "the TopK buffers aggregate partial+final")
  }

  test("map_eval: bounded TopK folds rank the corpus; AP runs on the result list") {
    val p = plan("map_eval")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
    assert(p.contains("BroadcastHashJoin"), "ranked set broadcasts back for judgments")
    assert((nodeIds(p, "Window") -- nodeIds(p, "WindowGroupLimit")).size <= 1,
      "only the cumhits window over the result list")
    assert(p.contains("ObjectHashAggregate"), "TopK buffers aggregate partial+final")
  }

  test("conversion_latency: funnel on one shuffle key; quantiles over the distribution") {
    val p = plan("conversion_latency")
    assert(!p.contains("CartesianProduct"),
      "funnel joins are user_id equi-joins; the 1-row report cross is broadcast")
    // both quantile windows run over the SECOND-quantized latency
    // distribution, never converter rows
    assert(nodeIds(p, "Window").size <= 2,
      "only the n/cum pair over the latency distribution")
    assert(nodeIds(p, "HashAggregate").size >= 6,
      "stage mins, the distribution fold and the report are partial+final")
  }

  test("embedding_anisotropy: the pca substrate plus one projection pass") {
    val p = plan("embedding_anisotropy")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "mean/component rows enter as broadcasts only")
    assert(!p.contains("Window ["), "no window anywhere")
    assert(p.contains("InMemoryRelation"),
      "the centered frame persists — the covariance fold and the "
        + "projection pass both read it")
  }

  test("ann_index_stats: one fold over the assignment; the report is one row") {
    val p = plan("ann_index_stats")
    assert(!p.contains("CartesianProduct"), "no all-pairs anywhere in the build")
    assert(!p.contains("Window ["), "no window — two chained aggregates")
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "cell count and the report fold are each partial+final")
  }

  test("path_topk: native group-limit brackets the per-user window; bounded tail") {
    val p = plan("path_topk")
    // the rank <= depth filter must plan Partial/Final WindowGroupLimitExec
    // around the exchange — each map task forwards <= depth rows per user
    assert(nodeIds(p, "WindowGroupLimit").size >= 2,
      "per-user first-k must push down as partial+final group limits")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-k report is a bounded fold, never a global sort")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("fk_integrity: one anti-join against the key domain; one row out") {
    val p = plan("fk_integrity")
    assert(!p.contains("CartesianProduct"),
      "the 1-row stat frames cross as broadcast nested loops, never a product of data")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"))
    assert("LeftAnti".r.findFirstIn(p).isDefined, "orphan check is ONE left-anti join")
    assert(!p.toLowerCase.contains("expand"),
      "the single-column distinct must not plan an Expand")
  }

  test("row_dupes: one digest fold; the report aggregates the digest domain") {
    val p = plan("row_dupes")
    assert(!p.contains("Join") && !p.contains("Window ["),
      "two chained aggregates, nothing else")
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "digest count and the report fold are each partial+final")
  }

  test("table_profile: one wide agg + one stacked pass; output is column-domain") {
    val p = plan("table_profile")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "the column-domain stats/est frames join broadcast")
    assert(!p.contains("Window ["), "no window anywhere")
    assert(!p.toLowerCase.contains("count(distinct"),
      "distincts come from the bounded aggregator + registers, never Expand")
    // wide agg, register fold, bounded-distinct fold — each partial+final
    assert(nodeIds(p, "HashAggregate").size >= 4)
    assert(p.contains("ObjectHashAggregate"),
      "the BoundedDistinct buffers aggregate partial+final")
  }

  test("classifier_lift: one distribution fold; deciles and capture over the domain") {
    val p = plan("classifier_lift")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
    // the distribution windows (n/np/cp) and the buckets-row capture
    // window — never a per-row NTILE over the corpus
    assert(!p.toLowerCase.contains("ntile"),
      "decile assignment must come from the distribution cumulative")
    assert(nodeIds(p, "HashAggregate").size >= 6,
      "scoring, distribution and decile folds are each partial+final")
  }

  test("mad_outliers: two distribution folds; medians broadcast back map-side") {
    val p = plan("mad_outliers")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "the group-domain median frames must broadcast into the corpus")
    assert(nodeIds(p, "BroadcastHashJoin").size >= 2,
      "median and MAD each join back as a broadcast")
    // value distribution, deviation distribution, and the profile fold
    assert(nodeIds(p, "HashAggregate").size >= 6,
      "each distribution fold and the profile are partial+final")
    // windows only over the aggregated distributions, never corpus rows:
    // each exactQuantilesByGroup contributes its n/cum pair
    assert(nodeIds(p, "Window").size <= 4)
  }

  test("benford_screen: one corpus digit fold; expected-mass joins over the domain") {
    val p = plan("benford_screen")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "the 9-digit expected frame and the group-n frame are domain-sized broadcasts")
    assert(!p.contains("Window ["), "no window anywhere")
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "digit count and the TVD fold are each partial+final")
    assert("ReadSchema: [^\\n]*o_orderpriority[^\\n]*o_totalprice".r.findFirstIn(p).isDefined
        || "ReadSchema: [^\\n]*o_totalprice[^\\n]*o_orderpriority".r.findFirstIn(p).isDefined,
      "scan reads only (o_orderpriority, o_totalprice)")
  }

  test("quantile_sketch: combiner-perfect folds; the release path is join-free") {
    val p = plan("quantile_sketch")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "the est/exact calibration join is domain-sized and must broadcast")
    assert(p.contains("BroadcastHashJoin"))
    // hist fold, value-distribution fold, and the two per-(group, q)
    // min folds — each partial+final
    assert(nodeIds(p, "HashAggregate").size >= 8)
    assert("ReadSchema: [^\\n]*l_extendedprice[^\\n]*l_returnflag".r.findFirstIn(p).isDefined,
      "scan reads only (l_returnflag, l_extendedprice)")
    // the 100 TB path: ONE corpus fold, no join, windows over the bucket domain
    spark.catalog.clearCache()
    val rel = operators.CorpusOps.quantileSketch(
      Tables.load(spark, dir, "lineitem").selectExpr("l_returnflag AS flag",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x"),
      "x", withExact = false)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!rel.contains("Join"), "withExact=false must drop the calibration join")
    assert(nodeIds(rel, "HashAggregate").size <= 4,
      "one corpus histogram fold + the per-(group, q) min — nothing else")
  }

  test("dp_counts: one corpus group count; the noise chain is pure projection") {
    val p = plan("dp_counts")
    assert(!p.contains("Join") && !p.contains("Window ["),
      "hash, decode and clamp are map-side over the group domain")
    assert(nodeIds(p, "HashAggregate").size >= 2,
      "the group count is the only shuffle, partial+final")
    assert(p.contains("graft_polyhash"),
      "the key hash is the native codegen'd expression, not a UDF")
  }

  test("t_closeness: one corpus group count; windows and joins over the class domain") {
    val p = plan("t_closeness")
    // the (QI, sensitive) count is the only corpus-volume exchange; the
    // class-n window runs over THAT frame, never the raw rows
    assert(nodeIds(p, "Window").size == 1,
      "exactly one window — the class-n sum over the class frame")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "the |values|-row marginal and the 1-row total must broadcast")
    assert(nodeIds(p, "BroadcastHashJoin").size >= 1
        && nodeIds(p, "BroadcastNestedLoopJoin").size >= 1,
      "global marginal broadcasts; the 1-row total enters as a broadcast cross")
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "class count and the banded profile are each partial+final")
  }

  test("gini_concentration: per-item agg is the only corpus shuffle; rank is DECOMPOSED") {
    val p = plan("gini_concentration")
    // the global ascending rank is rangeRankCum: range-repartition +
    // per-partition window + broadcast prefix offsets — a 10⁸-item
    // catalog must never sort through one task
    // the ONE single-partition exchange is the final 1-row readout fold
    // (its input is <= B partial-agg rows, never the catalog); the rank
    // window itself must partition by the range-partition id
    assert("SinglePartition".r.findAllIn(p).size == 1,
      "only the 1-row readout fold may funnel — never the rank window")
    assert(p.contains("rangepartitioning"),
      "the decomposed rank range-partitions on the order keys")
    assert(p.contains("InMemoryRelation"),
      "the ranked per-item frame is persisted — window and census share one materialization")
    assert("""windowspecdefinition\(_gp_pid""".r.findFirstIn(p).isDefined,
      "the rank window partitions by the range-partition id")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "the ≤B-row prefix-offset census joins back as a broadcast")
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "revenue agg and the final fold are partial+final")
    assert("ReadSchema: [^\\n]*l_extendedprice[^\\n]*l_partkey".r.findFirstIn(p).isDefined
        || "ReadSchema: [^\\n]*l_partkey[^\\n]*l_extendedprice".r.findFirstIn(p).isDefined,
      "scan reads only (l_partkey, l_extendedprice)")
  }

  test("ab_test_chi2: per-user reduction is the only corpus shuffle; readout is one row") {
    val p = plan("ab_test_chi2")
    assert(!p.contains("Join"), "the readout folds in place — no join anywhere")
    assert(!p.contains("Window ["), "no window")
    // per-user agg AND the 1-row fold, each partial+final
    assert(nodeIds(p, "HashAggregate").size >= 4, "both aggregates are two-stage")
    assert("ReadSchema: [^\\n]*event_type[^\\n]*user_id".r.findFirstIn(p).isDefined
        || "ReadSchema: [^\\n]*user_id[^\\n]*event_type".r.findFirstIn(p).isDefined,
      "scan reads only (user_id, event_type)")
  }

  test("text_readability and code_detect: pure map-side over the scan") {
    for (name <- Seq("text_readability", "code_detect")) {
      val p = plan(name)
      assert(!p.contains("Join") && !p.contains("Window [") &&
        !p.contains("HashAggregate"),
        s"$name must be a projection+filter pipeline, got a shuffle stage")
      assert("ReadSchema: [^\\n]*doc_id[^\\n]*text".r.findFirstIn(p).isDefined,
        s"$name scan reads only (doc_id, text)")
    }
  }

  test("q7_window_rank: the rank filter plans as native Partial+Final WindowGroupLimit") {
    // the rank-filter top-k idiom must ride Spark's InferWindowGroupLimit
    // (3.5+): a Partial group-limit BEFORE the exchange cuts shuffle
    // volume to <= k rows per group per map task, the Final after it
    // bounds the sort. We prototyped a custom heap-based strategy for
    // this exact pattern and DROPPED it as a duplicate of this native
    // machinery — this audit is the regression guard on that decision:
    // if an upstream change (or one of ours) breaks the pushdown, the
    // rank filter silently degrades to whole-group sorts at 100 TB.
    val p = plan("q7_window_rank")
    assert(nodeIds(p, "WindowGroupLimit").size == 2,
      "both the map-side (Partial) and reduce-side (Final) group-limits must fire")
    // structural pin of the Partial's placement: in the tree section the
    // two WindowGroupLimit lines bracket an Exchange — limit, shuffle,
    // limit — which is what makes the shuffle volume <= k per group per task
    val lines = p.split("\n").takeWhile(!_.startsWith("("))
    val wgl = lines.zipWithIndex.filter(_._1.contains("WindowGroupLimit")).map(_._2)
    val ex = lines.zipWithIndex.filter(_._1.contains("Exchange")).map(_._2)
    assert(wgl.size == 2 && ex.exists(i => i > wgl.min && i < wgl.max),
      "an Exchange must sit between the two group-limit stages")
  }

  test("graph_assortativity: degree fold partial+final; node joins stay equi; 1-row fold") {
    val p = plan("graph_assortativity")
    assert(!p.contains("CartesianProduct"), "no all-pairs anywhere")
    assert(!p.contains("Window ["), "sums are aggregates, not windows")
    // degree fold and the final stats fold are each two-stage
    assert(nodeIds(p, "HashAggregate").size >= 4, "aggregates are partial+final")
  }

  test("hll_distinct sketch path: register fold is the only corpus shuffle, combiner-perfect") {
    spark.catalog.clearCache()
    val docs = Tables.load(spark, dir, "documents")
    val p = operators.CorpusOps.hllDistinct(docs, withExact = false)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Join"), "the sketch path must never join")
    assert(!p.contains("Window ["), "registers are an aggregate, not a window")
    // (source, idx) max-fold + per-source sum, each partial+final: each map
    // task ships <= m register rows — the mergeable-sketch contract
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "register max and harmonic fold must both be partial+final")
    assert("ReadSchema: [^\\n]*source[^\\n]*text".r.findFirstIn(p).isDefined
        || "ReadSchema: [^\\n]*text[^\\n]*source".r.findFirstIn(p).isDefined,
      "scan reads only (source, text)")
    assert(p.contains("graft_token_hashes"), "native hash inside the projection")
  }

  test("l_diversity: chained aggregates over the class then diversity domain; no join") {
    val p = plan("l_diversity")
    assert(!p.contains("Join") && !p.contains("Window ["),
      "the distinct-count expansion and both folds are aggregates, nothing else")
    // the (QI, sensitive) distinct rewrite plus the class fold plus the
    // diversity-domain profile: every stage partial+final
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "class diversity and the profile fold are each partial+final")
  }

  test("hll_overlap sketch path: pair expansion touches register rows only") {
    spark.catalog.clearCache()
    val docs = Tables.load(spark, dir, "documents")
    val p = operators.CorpusOps.hllOverlap(docs, withExact = false)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the ONLY corpus-volume stage is the per-source register fold; every
    // join in the plan runs over sketch-sized frames and must broadcast —
    // a sort-merge join or cartesian product would mean corpus rows
    // entered the pair expansion
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "pair-shaped joins must broadcast (they are register-table-sized)")
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "register max-fold and the harmonic folds are partial+final")
    assert("ReadSchema: [^\\n]*source[^\\n]*text".r.findFirstIn(p).isDefined
        || "ReadSchema: [^\\n]*text[^\\n]*source".r.findFirstIn(p).isDefined,
      "scan reads only (source, text)")
  }

  test("corr_matrix: one partial+final pass; correlations are a 1-row projection") {
    val p = plan("corr_matrix")
    assert(!p.contains("Join") && !p.contains("Window ["),
      "one aggregate and an unpivot — nothing else")
    assert(nodeIds(p, "HashAggregate").size >= 2,
      "the sums fold is partial+final (map-side combine ships one row per task)")
    val rs = "ReadSchema: [^\n]*".r.findFirstIn(p).getOrElse("")
    assert(Seq("l_quantity", "l_extendedprice", "l_discount").forall(rs.contains)
        && !rs.contains("l_orderkey") && !rs.contains("l_shipdate"),
      s"scan reads only the three measure columns, got $rs")
  }

  test("feature_chi2: one corpus fold, map-side 2x2 over the bucket domain, bounded tail") {
    val p = plan("feature_chi2")
    assert(!p.contains("Window ["), "the screen is aggregates + a bounded top-k")
    assert(p.contains("TakeOrderedAndProject"),
      "topK must bound the tail, never a full sort")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "only the 1-row margins frame may enter, broadcast")
    assert(nodeIds(p, "HashAggregate").size >= 4,
      "bucket counts and margins are each partial+final")
  }

  test("memorization_spans: eval grams broadcast into the corpus scan; islands window by doc") {
    val p = plan("memorization_spans")
    // the corpus must never shuffle by gram: the eval set semi-filters it
    // map-side (broadcast), and matched grams broadcast back — both legs
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "every gram join must broadcast the benchmark-sized side")
    assert(nodeIds(p, "BroadcastHashJoin").size >= 2,
      "semi filter into the train scan AND the hit flag-back")
    // islands fold over eval positions: bounded per-doc groups, never one task
    assert(!p.contains("SinglePartition"),
      "the islands window partitions by eval doc, not a global sort")
  }

  test("zorder_layout: z-value map-side off a 2-column scan; no global sort of the data") {
    val p = plan("zorder_layout")
    assert("ReadSchema: [^\\n]*l_partkey[^\\n]*l_suppkey".r.findFirstIn(p).isDefined
        || "ReadSchema: [^\\n]*l_suppkey[^\\n]*l_partkey".r.findFirstIn(p).isDefined,
      "the scan must read ONLY the two layout keys")
    assert(nodeIds(p, "BroadcastNestedLoopJoin").size <= 1 && !p.contains("SortMergeJoin"),
      "only the 1-row extents frame may enter as a broadcast")
    assert(!p.contains("Window ["), "bucket ids are map-side integer math, not a ranking window")
    assert(nodeIds(p, "HashAggregate").size >= 2, "skip stats are partial+final")
    // the naive OPTIMIZE pays a full ORDER BY z over the data; here the
    // ONLY rangepartitioning allowed is the post-aggregation presentation
    // sort, which must read the persisted stats (InMemoryTableScan), not
    // corpus rows
    val tree = p.split("\n").takeWhile(!_.startsWith("("))
    val rp = tree.indexWhere(_.contains("rangepartitioning"))
    if (rp >= 0) {
      val below = tree.drop(rp + 1)
      assert(below.exists(_.contains("InMemoryTableScan")) &&
        !below.exists(_.contains("parquet")),
        "a rangepartitioning over the DATA scan would be the global sort this operator exists to avoid")
    }
  }
}
