package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Portable.{MIX, P}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.immutable.ListMap

/** Corpus-curation operators — the composition layer of the LLM-data
  * pipeline: transitive dedup clustering, deterministic stratified
  * sampling, sequence-length bucketing for batch packing, and an
  * end-to-end curation filter chain. All oracle-checked; sampling and
  * bucketing use pure int64 arithmetic shared with DuckDB.
  */
object Curation {

  /** Connected components over an undirected pair graph (columns doc_a,
    * doc_b): Pregel-style min-label propagation. Returns (doc_id,
    * cluster_id = min id in component, cluster_size). Per iteration one
    * join+groupBy shuffle; iterations bounded by component diameter with a
    * hard cap. The driver loop iterates over ROUNDS, not rows. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val sess = pairs.sparkSession
    val edges = pairs.select(col("doc_a"), col("doc_b"))
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // size the per-round shuffles to the graph, not the session default: a
    // near-dup pair graph is typically tiny relative to the corpus, and an
    // iterative loop pays the per-round task-scheduling floor `rounds ×
    // partitions` times. (At 100 TB with a billion-edge graph this keeps
    // the configured parallelism.)
    val spKey = "spark.sql.shuffle.partitions"
    val prevSp = sess.conf.get(spKey)
    try {
      // inside the try: the count is the first job over the persisted edge
      // frame, so its failure (or a non-numeric conf value) must reach the
      // finally and unpersist, same as a failed propagation round
      val nEdges = edges.count()
      val p = math.max(1L, math.min(prevSp.toLong, nEdges / 100000L + 1L)).toInt
      sess.conf.set(spKey, p.toString)
      var labels: DataFrame = edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id"))
      // min-label propagation strictly decreases sum(label) until fixpoint,
      // so the convergence check is one cheap agg on the already-materialized
      // round result — no extra changed-rows join per round.
      // localCheckpoint (eager) per round both materializes the step AND
      // truncates its lineage to a LogicalRDD: without this the logical plan
      // grows one join+agg layer per iteration and analysis/optimization time
      // comes to dominate at high iteration counts (billion-edge graphs).
      // Earlier rounds' blocks are reclaimed by the ContextCleaner once
      // unreferenced — nothing is left registered in the CacheManager.
      // CLUSTER CAVEAT: localCheckpoint truncates lineage to
      // executor-local blocks — an executor lost mid-loop makes the labels
      // unrecoverable (job failure, not recompute). Right trade for this
      // single-JVM harness; on a real cluster set a checkpoint dir and use
      // reliable checkpoint() (or persist with replication) per round.
      // fixpoint metric in DECIMAL(38,0), not int64: a billion-edge graph
      // summing large doc_id labels overflows Long (ANSI throw); 38 digits
      // hold 1e9 rows x 1e10 labels with room to spare. coalesce(0) keeps
      // an EMPTY pair graph (no near-dups found) a clean empty result
      // instead of an NPE on the null aggregate.
      var prevSum: java.math.BigDecimal = null
      var iters = 0
      var done = false
      while (!done && iters < maxIters) {
        val step = labels
          .union(edges.join(labels.withColumnRenamed("id", "src"), "src")
            .select(col("dst").as("id"), col("label")))
          .groupBy(col("id")).agg(min(col("label")).as("label"))
          .localCheckpoint(true)
        val s = step
          .agg(coalesce(sum(col("label").cast("decimal(38,0)")),
            lit(java.math.BigDecimal.ZERO)).as("s"))
          .head().getDecimal(0)
        labels = step
        if (prevSum != null && s.compareTo(prevSum) == 0) done = true else prevSum = s
        iters += 1
      }
      if (!done)
        System.err.println(
          s"[connectedComponents] iteration cap $maxIters reached before the " +
            "sum-fixpoint: returned labels may be NON-CONVERGED (component " +
            "diameter exceeds the cap); raise maxIters")
      val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "label")
        .select(col("id").as("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
    } finally {
      sess.conf.set(spKey, prevSp)
      // in the finally so a failed propagation round (OOM, cancellation)
      // can't strand the edge table in the CacheManager; the returned plan
      // hangs off the checkpointed labels, never off edges
      edges.unpersist()
    }
  }

  val defs: ListMap[String, QueryDef] = ListMap(

    // ---- connected components over the MinHash near-dup graph: the
    // transitive-closure upgrade of dedup_keep_list's greedy pair drop
    // (a~b, b~c => {a,b,c} one cluster even if a,c never collide).
    // Pregel-style min-label propagation: per iteration one join+groupBy
    // shuffle, iterations bounded by component diameter (near-dup clusters
    // are shallow; 25-iteration hard cap). The driver loop iterates over
    // ROUNDS, not rows — each round is fully distributed. --------------------
    "dedup_clusters" -> QueryDef(
      (s, dir) => {
        val pairs = Dedup.defs("dedup_minhash").fn(s, dir).select("doc_a", "doc_b")
        connectedComponents(pairs)
          .transform(graft.Sorted.byNames(_, "doc_id"))
      },
      s"""WITH RECURSIVE ${Dedup.duckPairsCtes},
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |walk(id, label) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id),
         |comp AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY id)
         |SELECT doc_id, cluster_id,
         |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
         |FROM comp ORDER BY doc_id""".stripMargin),

    // ---- duplicate-cluster size histogram + singleton accounting: the
    // dedup REPORT every released corpus publishes (how much of the
    // corpus is duplicated, at what multiplicities, how many docs are
    // unique) — the aggregate view over dedup_clusters' per-doc frame.
    // Scale shape: CC runs on the near-dup pair graph only; the histogram
    // is two combiner-friendly aggs over the cluster frame (≤ one row per
    // cluster, then ≤ one row per DISTINCT SIZE — a frame that fits on a
    // postcard at any corpus scale); the singleton row needs just the
    // 1-row corpus count and the 1-row clustered count, joined by
    // construction-bounded cross joins. ----------------------------------
    "dedup_cluster_stats" -> QueryDef(
      (s, dir) => {
        val pairs = Dedup.defs("dedup_minhash").fn(s, dir).select("doc_a", "doc_b")
        val comp = connectedComponents(pairs)
        val hist = comp.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("csize"))
          .groupBy(col("csize"))
          .agg(count(lit(1)).as("n_clusters"), sum(col("csize")).as("n_docs"))
          .selectExpr("csize AS cluster_size", "n_clusters", "n_docs")
        val totals = Tables.load(s, dir, "documents").agg(count(lit(1)).as("n_total"))
        val clustered = comp.agg(count(lit(1)).as("n_in"))
        val singles = totals.crossJoin(clustered)
          .selectExpr("CAST(1 AS BIGINT) AS cluster_size",
            "n_total - n_in AS n_clusters", "n_total - n_in AS n_docs")
        hist.union(singles).transform(graft.Sorted.byNames(_, "cluster_size"))
      },
      s"""WITH RECURSIVE ${Dedup.duckPairsCtes},
         |sedges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |           UNION ALL SELECT doc_b, doc_a FROM pairs),
         |walk(id, label) AS (
         |  SELECT DISTINCT src, src FROM sedges
         |  UNION
         |  SELECT e.dst, w.label FROM walk w JOIN sedges e ON e.src = w.id),
         |comp AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY id),
         |byc AS (SELECT cluster_id, COUNT(*)::BIGINT AS csize FROM comp GROUP BY cluster_id),
         |hist AS (SELECT csize AS cluster_size, COUNT(*)::BIGINT AS n_clusters,
         |    CAST(SUM(csize) AS BIGINT) AS n_docs FROM byc GROUP BY csize),
         |tot AS (SELECT COUNT(*)::BIGINT AS n_total FROM documents),
         |inc AS (SELECT COUNT(*)::BIGINT AS n_in FROM comp)
         |SELECT * FROM (
         |  SELECT cluster_size, n_clusters, n_docs FROM hist
         |  UNION ALL
         |  SELECT CAST(1 AS BIGINT), n_total - n_in, n_total - n_in
         |  FROM tot CROSS JOIN inc)
         |ORDER BY cluster_size""".stripMargin),

    // ---- cluster-canonical selection: within each near-dup cluster keep
    // the HIGHEST-QUALITY member (text_quality's exact score), not the
    // min-id — the production curation rule (dedup_clusters answers "what
    // is duplicated"; this answers "which copy enters the training mix").
    // Scale shape: clusters (near-dup docs only — orders of magnitude
    // smaller than the corpus) broadcast onto the documents scan, so text
    // stats are computed map-side for cluster MEMBERS only; the winner is
    // a window-free max(struct(quality, -doc_id)) argmax — one
    // partial+final aggregate, ties to the smaller doc_id. Quality formula
    // is shared verbatim with text_quality (TextOps.sparkQualitySql /
    // duckQualitySql): identical IEEE double from identical integers on
    // both engines, so the argmax order is bit-identical. -------------------
    "dedup_keep_best" -> QueryDef(
      (s, dir) => {
        val pairs = Dedup.defs("dedup_minhash").fn(s, dir).select("doc_a", "doc_b")
        val clusters = connectedComponents(pairs)
        Tables.load(s, dir, "documents")
          .join(broadcast(clusters), "doc_id")
          .selectExpr("doc_id", "cluster_id", "cluster_size",
            "graft_text_stats(text) AS st")
          .selectExpr("doc_id", "cluster_id", "cluster_size",
            s"${TextOps.sparkQualitySql} AS quality")
          .groupBy(col("cluster_id"), col("cluster_size"))
          .agg(max(struct(col("quality"), (-col("doc_id")).as("nd"))).as("top"))
          .selectExpr("cluster_id", "cluster_size", "-top.nd AS kept_doc",
            "top.quality AS kept_quality",
            "cluster_size - 1 AS n_dropped")
          .transform(graft.Sorted.byNames(_, "cluster_id"))
      },
      s"""WITH RECURSIVE ${Dedup.duckPairsCtes},
         |cedges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |           UNION ALL SELECT doc_b, doc_a FROM pairs),
         |walk(id, label) AS (
         |  SELECT DISTINCT src, src FROM cedges
         |  UNION
         |  SELECT e.dst, w.label FROM walk w JOIN cedges e ON e.src = w.id),
         |comp AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY id),
         |sized AS (SELECT doc_id, cluster_id,
         |    CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
         |  FROM comp),
         |qt AS (SELECT doc_id,
         |    ${graft.functions.Portable.duckToksSql("text")} AS toks
         |  FROM documents),
         |q AS (SELECT doc_id, ${TextOps.duckQualitySql} AS quality FROM qt),
         |ranked AS (SELECT s.cluster_id, s.cluster_size, s.doc_id, q.quality,
         |    ROW_NUMBER() OVER (PARTITION BY s.cluster_id
         |                       ORDER BY q.quality DESC, s.doc_id) AS rn
         |  FROM sized s JOIN q USING (doc_id))
         |SELECT cluster_id, cluster_size, doc_id AS kept_doc, quality AS kept_quality,
         |  cluster_size - 1 AS n_dropped
         |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin),

    // ---- leakage-safe train/val/test split: the split key is the near-dup
    // CLUSTER canonical id, not the doc id — two near-duplicate documents
    // can never straddle train and test (the eval-contamination failure
    // mode of naive per-doc hashing; singletons canonicalize to
    // themselves). Same overflow-safe portable hash as sample_stratified,
    // 90/5/5. Scale shape: clusters (near-dup docs only) broadcast onto
    // the corpus scan as a left join; split assignment is then map-side
    // integer arithmetic — no corpus shuffle at all. -----------------------
    "split_leakage_safe" -> QueryDef(
      (s, dir) => {
        val pairs = Dedup.defs("dedup_minhash").fn(s, dir).select("doc_a", "doc_b")
        val clusters = connectedComponents(pairs)
          .select(col("doc_id"), col("cluster_id"))
        Tables.load(s, dir, "documents").select(col("doc_id"))
          .join(broadcast(clusters), Seq("doc_id"), "left")
          .selectExpr("doc_id", "coalesce(cluster_id, doc_id) AS canon")
          .selectExpr("doc_id", "canon",
            s"((canon % 999983L) * ${MIX}L + 7919L) % 100 AS b")
          .selectExpr("doc_id", "canon",
            "CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split")
          .transform(graft.Sorted.byNames(_, "doc_id"))
      },
      s"""WITH RECURSIVE ${Dedup.duckPairsCtes},
         |sedges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |           UNION ALL SELECT doc_b, doc_a FROM pairs),
         |swalk(id, label) AS (
         |  SELECT DISTINCT src, src FROM sedges
         |  UNION
         |  SELECT e.dst, w.label FROM swalk w JOIN sedges e ON e.src = w.id),
         |scomp AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM swalk GROUP BY id),
         |canon AS (SELECT d.doc_id, COALESCE(s.cluster_id, d.doc_id) AS canon
         |  FROM documents d LEFT JOIN scomp s ON s.doc_id = d.doc_id),
         |bkt AS (SELECT doc_id, canon,
         |    ((canon % 999983) * $MIX + 7919) % 100 AS b FROM canon)
         |SELECT doc_id, canon,
         |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
         |FROM bkt ORDER BY doc_id""".stripMargin),

    // ---- deterministic stratified sampling: per-language keep rates via
    // portable int64 hashing — reproducible across engines and runs, no RNG
    // state. Map-side only (zero shuffle); at 100 TB this is the shape of
    // training-mix sampling (rate per stratum, hash on a stable key). -------
    "sample_stratified" -> QueryDef(
      (s, dir) => {
        Tables.load(s, dir, "documents")
          // reduce doc_id mod a prime BEFORE the multiply: raw doc_id is
          // unbounded (petabyte corpora pass 3.5e9 ids, where id * MIX
          // overflows int64 — an ANSI-mode throw in Spark and a BIGINT
          // error in DuckDB). 999983 * MIX ≈ 2.7e15 stays in-range forever.
          .filter(expr(s"((doc_id % 999983L) * ${MIX}L + 7919L) % 1000 " +
            "< IF(lang = 'en', 600, 250)"))
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      },
      s"""SELECT doc_id, lang FROM documents
         |WHERE ((doc_id % 999983) * $MIX + 7919) % 1000
         |  < CASE WHEN lang = 'en' THEN 600 ELSE 250 END
         |ORDER BY doc_id""".stripMargin),

    // ---- fixed-size deterministic sample: exactly N docs per language,
    // chosen by smallest portable hash — the fixed-N counterpart of
    // sample_stratified's rate-based form. Reuses the bounded TopK
    // aggregator (score = -hash; hash < P < 2^53 so the double is exact):
    // one partial+final aggregation, ≤ N state per stratum at any corpus
    // size — the scale shape of "give me exactly 10k docs per language
    // from 100 TB" without a global sort. -----------------------------------
    "sample_fixed_per_lang" -> QueryDef(
      (s, dir) => {
        val topk = udaf(new graft.functions.TopK(5),
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaDouble,
            org.apache.spark.sql.Encoders.scalaLong))
        Tables.load(s, dir, "documents")
          .selectExpr("lang", "doc_id",
            // same overflow-safe reduction as sample_stratified
            s"-CAST(((doc_id % 999983L) * ${MIX}L + 999L) % ${P}L AS DOUBLE) AS score")
          .groupBy(col("lang"))
          .agg(topk(col("score"), col("doc_id")).as("top"))
          .select(col("lang"), posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("lang"), col("t._2").as("doc_id"),
            (col("pos") + 1).cast("int").as("pick"))
          .orderBy("lang", "pick")
      },
      s"""WITH h AS (
         |  SELECT lang, doc_id, ((doc_id % 999983) * $MIX + 999) % $P AS hv,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY ((doc_id % 999983) * $MIX + 999) % $P, doc_id) AS rn
         |  FROM documents)
         |SELECT lang, doc_id, rn::INT AS pick FROM h
         |WHERE rn <= 5 ORDER BY lang, pick""".stripMargin),

    // ---- weighted priority sampling (the Efraimidis–Spirakis shape):
    // k docs per source, inclusion biased toward heavier docs —
    // sample_fixed_per_lang's uniform hash pick, made WEIGHT-AWARE:
    // priority = (h·10⁶) div weight with h a deterministic affine hash
    // of doc_id, keep the k SMALLEST per source. Exact E–S keys are
    // u^(1/w) (equivalently −ln(u)/w) — transcendental, banned by the
    // parity rules — so this is the deterministic integer surrogate:
    // monotone in weight (doubling w halves the expected priority, so
    // inclusion probability grows with weight) though not exactly
    // proportional-without-replacement; at 100 TB swap the priority
    // expression for the true −ln(u)/w key if calibrated inclusion
    // matters (same bounded fold either side). Scale shape: map-side
    // hash+priority, then ONE partial+final bounded TopK fold — every
    // map task reduces to ≤ k entries before the shuffle, vs the window
    // form funneling every row of a source into one reducer task. -------
    "weighted_sample" -> QueryDef(
      (s, dir) => weightedSample(Tables.load(s, dir, "documents")),
      s"""WITH w AS (SELECT source, doc_id, n_chars,
         |    ((doc_id % 999983) * $MIX + 17) % $P AS h
         |  FROM documents WHERE n_chars >= 1),
         |p AS (SELECT source, doc_id,
         |    (h * 1000000) // n_chars AS priority FROM w),
         |r AS (SELECT source, doc_id, priority,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY priority, doc_id) AS rn FROM p)
         |SELECT source, doc_id, CAST(rn AS INT) AS smp_rank, priority
         |FROM r WHERE rn <= 20 ORDER BY source, smp_rank""".stripMargin),

    // ---- sequence-length bucketing (power-of-2 token-count bands) — the
    // histogram a batch-packing scheduler needs. Integer CASE bands, no
    // floating log2. Single partial+final aggregation. ----------------------
    "length_buckets" -> QueryDef(
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .selectExpr(
            s"size(${graft.functions.Portable.tokensSql("text")}) AS n_tokens")
          .selectExpr(
            """CASE WHEN n_tokens < 16 THEN 'b000_016'
              |     WHEN n_tokens < 32 THEN 'b016_032'
              |     WHEN n_tokens < 64 THEN 'b032_064'
              |     WHEN n_tokens < 128 THEN 'b064_128'
              |     WHEN n_tokens < 256 THEN 'b128_256'
              |     WHEN n_tokens < 512 THEN 'b256_512'
              |     ELSE 'b512_inf' END AS bucket""".stripMargin,
            "n_tokens")
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).cast("long").as("sum_tokens"))
          .orderBy("bucket")
      },
      """WITH t AS (SELECT len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS n_tokens
        |  FROM documents)
        |SELECT CASE WHEN n_tokens < 16 THEN 'b000_016'
        |            WHEN n_tokens < 32 THEN 'b016_032'
        |            WHEN n_tokens < 64 THEN 'b032_064'
        |            WHEN n_tokens < 128 THEN 'b064_128'
        |            WHEN n_tokens < 256 THEN 'b128_256'
        |            WHEN n_tokens < 512 THEN 'b256_512'
        |            ELSE 'b512_inf' END AS bucket,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        |FROM t GROUP BY 1 ORDER BY bucket""".stripMargin),

    // ---- end-to-end curation: language gate + token-count bounds +
    // uniqueness-ratio floor + exact-dup canonical filter, composed as one
    // declarative plan (filters stay pushed against the scan; the only
    // shuffle is the md5 canonical groupBy). The output is the kept corpus
    // manifest a training pipeline would feed downstream. -------------------
    "curate_corpus" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        // the ONE content-identity digest (Portable.contentDigest) — the
        // dedup family and streaming intake all canonicalize on it, and a
        // future digest change must move every layer together
        val canon = d.groupBy(graft.functions.Portable.contentDigest.as("digest"))
          .agg(min(col("doc_id")).as("canonical_id"))
        d.withColumn("digest", graft.functions.Portable.contentDigest)
          .join(canon, "digest")
          .filter(col("doc_id") === col("canonical_id")) // exact-dup canonical
          .filter(col("lang") === "en")
          .selectExpr("doc_id", s"${graft.functions.Portable.tokensSql("text")} AS toks")
          .selectExpr("doc_id", "size(toks) AS n_tokens", "toks")
          .filter(col("n_tokens").between(20, 5000))
          .selectExpr("doc_id", "n_tokens",
            "CAST(size(array_distinct(toks)) AS DOUBLE) / size(toks) AS uniq_ratio")
          .filter(col("uniq_ratio") >= 0.2)
          .orderBy("doc_id")
      },
      s"""WITH canon AS (
        |  SELECT md5(text) AS digest, MIN(doc_id) AS canonical_id
        |  FROM documents GROUP BY 1),
        |kept AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS n_tokens,
        |    ${graft.functions.Portable.duckToksSql("text")} AS toks
        |  FROM documents JOIN canon ON md5(text) = digest
        |  WHERE doc_id = canonical_id AND lang = 'en')
        |SELECT doc_id, n_tokens,
        |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio
        |FROM kept
        |WHERE n_tokens BETWEEN 20 AND 5000
        |  AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.2
        |ORDER BY doc_id""".stripMargin),

    // ---- domain-mix rebalancing: given a target of uniform per-source
    // shares, compute each source's integer keep-rate (per-mille) and
    // deterministically downsample with the portable hash — the "data
    // mixing" stage between curation and tokenization. All arithmetic is
    // int64 (exact in both engines); the per-source stats table is the
    // output, so the rate computation AND the hash filter outcome are both
    // verified. Scale shape: the counts/rates side is |sources| rows
    // (broadcast); the corpus side is ONE partial+final count plus a
    // map-side filter — no corpus shuffle beyond the group-by. -------------
    "mix_rebalance" -> QueryDef(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        val tot = counts.agg(sum(col("n_docs")).as("total"),
          count(lit(1)).as("n_src"))
        // persisted: rates is |sources| rows but feeds BOTH the keep filter
        // and the final output join — without this the corpus-count agg
        // (a full documents scan) executes twice
        val rates = counts.crossJoin(broadcast(tot))
          .withColumn("keep_m",
            least(lit(1000L), expr("((total div n_src) * 1000L) div n_docs")))
          .select(col("source"), col("n_docs"), col("keep_m"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val kept = docs.join(broadcast(rates.select("source", "keep_m")), "source")
          .filter(expr(s"((doc_id % 999983L) * ${MIX}L + 31L) % 1000 < keep_m"))
          .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        rates.join(kept, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("keep_m"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
          .orderBy("source")
      },
      s"""WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
         |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total, COUNT(*) AS n_src FROM c),
         |r AS (SELECT source, n_docs,
         |    least(1000, ((total // n_src) * 1000) // n_docs) AS keep_m FROM c, t),
         |k AS (SELECT d.source, COUNT(*) AS n_kept
         |  FROM documents d JOIN r USING (source)
         |  WHERE ((doc_id % 999983) * $MIX + 31) % 1000 < keep_m
         |  GROUP BY d.source)
         |SELECT source, n_docs, keep_m, COALESCE(n_kept, 0) AS n_kept
         |FROM r LEFT JOIN k USING (source) ORDER BY source""".stripMargin),

    // ---- temperature-scaled mixture resampling: the multilingual
    // alpha-sampling of mBERT/XLM-R (language l drawn ∝ p_l^alpha) —
    // see [[mixTemperature]]; registered at BOTH exactly-representable
    // exponents (alpha = 0.5 and 0.25), each oracle-verified. ---------------
    "mix_temperature" -> QueryDef(
      (s, dir) => mixTemperature(Tables.load(s, dir, "documents"), 0.5),
      mixTemperatureSql(0.5)),

    "mix_temperature_a25" -> QueryDef(
      (s, dir) => mixTemperature(Tables.load(s, dir, "documents"), 0.25),
      mixTemperatureSql(0.25)),

    // ---- sequence packing for training batches: assign docs to fixed-size
    // context-window packs (4096 chars) by running length sum — the
    // "concatenate until full" packing a dataloader does, made deterministic
    // and distributed. Packing is inherently sequential, so the scale trick
    // is SHARDING: the running sum partitions by (lang, shard = doc_id div
    // 1000), bounding every window partition to ≤ 1000 rows regardless of
    // corpus size — no single-reducer global cumsum at 100 TB. Pure int64
    // window arithmetic, exact in both engines. -----------------------------
    "pack_sequences" -> QueryDef(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        Tables.load(s, dir, "documents")
          .withColumn("shard", expr("doc_id div 1000"))
          .withColumn("cum_chars", sum(col("n_chars")).over(w))
          // subtract the current doc so a doc landing exactly on a pack
          // boundary opens the next pack rather than overflowing this one
          .selectExpr("doc_id", "lang", "shard", "n_chars",
            "(cum_chars - n_chars) div 4096 AS pack_id")
          .orderBy("doc_id")
      },
      // CAST to BIGINT: DuckDB's windowed SUM(int) is HUGEINT, which arrives
      // as decimal128 through Arrow and hash-mismatches Spark's int64 even
      // when every value is equal (driver compare hashes typed values).
      """SELECT doc_id, lang, doc_id // 1000 AS shard, n_chars,
        |  CAST((SUM(n_chars) OVER (PARTITION BY lang, doc_id // 1000 ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars) // 4096 AS BIGINT) AS pack_id
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- deterministic training-shard assignment: the dataloader step
    // after curation (the WebDataset shape) — spread the corpus
    // pseudo-randomly over N fixed shards and give every doc a stable
    // position inside its shard. shard = portable-hash(doc_id) % N
    // decorrelates shard contents from ingest order; pos = rank of the
    // hash within the shard makes the within-shard order a deterministic
    // shuffle too, so a reader streaming one shard file sees hash-order
    // docs, not crawl-order. The within-shard ROW_NUMBER windows BY
    // SHARD: per-partition sort bounded by shard size (at 100 TB pick
    // n_shards ~ corpus/10k docs, the fixture uses 8) — never a global
    // ORDER BY over the hash, which would funnel the whole corpus through
    // ONE window task. Same overflow-safe reduced-id hash as
    // sample_stratified; hash ties (ids >= 999983 collide mod the prime)
    // break deterministically by doc_id. ---------------------------------
    "shard_shuffle" -> QueryDef(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
        Tables.load(s, dir, "documents")
          .selectExpr("doc_id", "lang",
            s"((doc_id % 999983L) * ${MIX}L + 5081L) % ${P}L AS skey")
          .withColumn("shard", expr("CAST(skey % 8 AS INT)"))
          .withColumn("pos", row_number().over(w).cast("long"))
          .select(col("doc_id"), col("lang"), col("shard"), col("skey"), col("pos"))
          .orderBy("shard", "pos")
      },
      s"""WITH h AS (SELECT doc_id, lang,
         |    ((doc_id % 999983) * $MIX + 5081) % $P AS skey FROM documents)
         |SELECT doc_id, lang, CAST(skey % 8 AS INT) AS shard, skey,
         |  ROW_NUMBER() OVER (PARTITION BY skey % 8 ORDER BY skey, doc_id) AS pos
         |FROM h ORDER BY shard, pos""".stripMargin),

    // ---- packing-length sweep: the padding cost of the concat-and-chunk
    // dataloader (GPT-style: concatenate a partition's docs, cut into
    // fixed-L sequences, pad the last) at each candidate context length —
    // the report read BEFORE choosing L and the shard granularity.
    // pack_sequences assigns docs to packs at ONE L; this sweeps L over
    // {1024, 2048, 4096, 8192} and prices the trailing-pad waste that
    // partition granularity (the per-(lang, shard) packing unit) costs at
    // each choice: n_seqs = Σ_partitions ceil(chars/L), pad = n_seqs*L −
    // chars, utilization in per-mille. All int64 (chars*1000 ≈ 1e17 at
    // 100 TB — in range). Scale shape: ONE corpus partial+final count to
    // the partition-totals frame (|langs|·|shards| rows), then a broadcast
    // 4-row cross join and a 4-group agg — the sweep costs one count pass
    // regardless of how many L values it prices. ---------------------------
    "pack_efficiency" -> QueryDef(
      (s, dir) => {
        val parts = Tables.load(s, dir, "documents")
          .withColumn("shard", expr("doc_id div 1000"))
          .groupBy(col("lang"), col("shard"))
          .agg(sum(col("n_chars")).as("part_chars"))
        val lens =
          s.sql("SELECT explode(array(1024L, 2048L, 4096L, 8192L)) AS seq_len")
        parts.crossJoin(broadcast(lens))
          .groupBy(col("seq_len"))
          .agg(count(lit(1)).as("n_partitions"),
            sum(expr("(part_chars + seq_len - 1) div seq_len")).as("n_seqs"),
            sum(col("part_chars")).as("total_chars"))
          .selectExpr("seq_len", "n_partitions", "n_seqs", "total_chars",
            "n_seqs * seq_len - total_chars AS pad_chars",
            "(total_chars * 1000L) div (n_seqs * seq_len) AS util_pm")
          .orderBy("seq_len")
      },
      """WITH parts AS (SELECT lang, doc_id // 1000 AS shard,
        |    CAST(SUM(n_chars) AS BIGINT) AS part_chars
        |  FROM documents GROUP BY 1, 2),
        |lens AS (SELECT CAST(UNNEST([1024, 2048, 4096, 8192]) AS BIGINT) AS seq_len),
        |sw AS (SELECT seq_len, COUNT(*) AS n_partitions,
        |    CAST(SUM((part_chars + seq_len - 1) // seq_len) AS BIGINT) AS n_seqs,
        |    CAST(SUM(part_chars) AS BIGINT) AS total_chars
        |  FROM parts CROSS JOIN lens GROUP BY seq_len)
        |SELECT seq_len, n_partitions, n_seqs, total_chars,
        |  n_seqs * seq_len - total_chars AS pad_chars,
        |  (total_chars * 1000) // (n_seqs * seq_len) AS util_pm
        |FROM sw ORDER BY seq_len""".stripMargin),

    // ---- token-budget epoch plan: given a training token budget and a
    // uniform per-source target (mix_rebalance's target rule), how many
    // EPOCHS over each source does the budget imply, and where does the
    // repeat cap bind? epochs_m = (target_tokens * 1000) div n_tokens in
    // per-mille, capped at 4 epochs — the "repeating data beyond ~4
    // epochs stops helping" rule (Muennighoff et al. 2023, Scaling
    // Data-Constrained Language Models) — with the realized token plan
    // after the cap. The planning table read before a data-constrained
    // run: a source whose epochs_m sits far above the cap is the data
    // bottleneck (buy/crawl more of IT, not more compute). All int64
    // (n_tokens·4000 ≈ 4e16 at 100 TB — in range). Scale shape: ONE
    // corpus-linear tokenize+count pass into a |sources|-row frame; the
    // budget arithmetic is model-sized. ------------------------------------
    "mix_epoch_plan" -> QueryDef(
      (s, dir) => mixEpochPlan(Tables.load(s, dir, "documents"),
        budgetTokens = 1000000L, capMilliEpochs = 4000L),
      s"""WITH c AS (SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(len(${graft.functions.Portable.duckToksSql("coalesce(text, '')")})) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |t AS (SELECT COUNT(*) AS n_src FROM c),
         |r AS (SELECT source, n_docs, n_tokens,
         |    1000000 // n_src AS target_tokens FROM c, t),
         |e AS (SELECT source, n_docs, n_tokens, target_tokens,
         |    CASE WHEN n_tokens = 0 THEN 0
         |         ELSE (target_tokens * 1000) // n_tokens END AS epochs_m
         |  FROM r)
         |SELECT source, n_docs, n_tokens, target_tokens, epochs_m,
         |  least(4000, epochs_m) AS epochs_capped_m,
         |  (n_tokens * least(4000, epochs_m)) // 1000 AS planned_tokens
         |FROM e ORDER BY source""".stripMargin),

    // ---- UniMax allocation (Chung et al. 2023): the budget step
    // mix_epoch_plan deliberately lacks — when a low-resource source hits
    // its epoch cap, its UNUSED share of the budget is redistributed to
    // the sources that still have headroom (waterfilling), instead of
    // silently shrinking the realized token count. Closed form over the
    // ascending-capacity prefix: source i (capacity c_i, prefix sum
    // P_{i-1}, m sources) is capped iff c_i·(m−i+1) + P_{i-1} ≤ B — a
    // monotone predicate, so the capped set is a prefix — everyone else
    // gets the level L = (B − P_t) div (m − t). Pure int64, both
    // engines. See [[mixUnimax]] for the scale shape. ---------------------
    "mix_unimax" -> QueryDef(
      (s, dir) => mixUnimax(Tables.load(s, dir, "documents"),
        budgetTokens = 1000000L, capMilliEpochs = 4000L),
      s"""WITH c AS (SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(len(${graft.functions.Portable.duckToksSql("coalesce(text, '')")})) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |cap AS (SELECT source, n_docs, n_tokens,
         |    (n_tokens * 4000) // 1000 AS capacity FROM c),
         |r AS (SELECT *, COUNT(*) OVER () AS m,
         |    ROW_NUMBER() OVER (ORDER BY capacity, source) AS i,
         |    COALESCE(SUM(capacity) OVER (ORDER BY capacity, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pprev
         |  FROM cap),
         |f AS (SELECT *,
         |    CASE WHEN capacity * (m - i + 1) + pprev <= 1000000 THEN 1 ELSE 0 END AS capped
         |  FROM r),
         |lev AS (SELECT CAST(SUM(capped) AS BIGINT) AS t,
         |    CAST(COALESCE(SUM(CASE WHEN capped = 1 THEN capacity END), 0) AS BIGINT) AS pt,
         |    MAX(m) AS m2 FROM f)
         |SELECT source, n_docs, n_tokens, capacity AS capacity_tokens,
         |  CASE WHEN capped = 1 THEN capacity
         |       ELSE (1000000 - pt) // (m2 - t) END AS alloc_tokens,
         |  CASE WHEN n_tokens = 0 THEN 0
         |       ELSE (CASE WHEN capped = 1 THEN capacity
         |             ELSE (1000000 - pt) // (m2 - t) END) * 1000 // n_tokens
         |       END AS epochs_m,
         |  capped
         |FROM f CROSS JOIN lev ORDER BY source""".stripMargin),

    // ---- DoReMi domain reweighting (Xie et al. 2023): the one published
    // mixing algorithm the family lacked — excess-loss-driven
    // exponentiated-gradient weight updates, smoothed toward uniform,
    // averaged over steps (Algorithm 1). The proxy/reference signal is
    // the learned hashed classifier (quality_classifier's exact model:
    // trained on the doc_id % 2 = 0 half, positive = lang 'en', scored
    // over the whole corpus with source carried through the scoring
    // key), so domains the classifier rates furthest below the corpus
    // mean read as high-excess-loss and get upweighted. See
    // [[mixDoremi]] for the integer surrogates and the scale-shape
    // contract (one corpus fold; the step loop runs entirely on the
    // |domains|-row frame, no driver actions). ---------------------------
    "mix_doremi" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val wts = CorpusOps.trainHashedClassifier(
          d.filter("doc_id % 2 = 0"), posExpr = "lang = 'en'")
        mixDoremi(CorpusOps.hashedClassifierScore(d, wts,
          carryCols = Seq("source")))
      },
      s"""WITH ${doremiOracleCtes()}
         |SELECT source, n_docs, mean_score_ppb, excess_ppb,
         |  acc // $DoremiSteps AS weight_ppm
         |FROM d$DoremiSteps ORDER BY source""".stripMargin),

    // ---- DoReMi plan: the weights REALIZED against a token budget —
    // the step the paper's weights exist for (sample the training mix
    // by alpha). Composes mix_doremi's reweighting with one per-source
    // tokenize+count pass (mix_epoch_plan's first stage):
    // alloc_tokens = budget * weight_ppm div 1e6 and the per-source
    // milli-epoch read alloc * 1000 div n_tokens (an upweighted scarce
    // domain shows epochs_m > 1000 — the repetition cost DoReMi's
    // min-max objective trades against, read beside chinchilla_plan's
    // 4-epoch cap). Scale shape: mix_doremi's one classifier fold + one
    // token-count fold; the join and every downstream stage are
    // |domains|-row. ------------------------------------------------------
    "mix_doremi_plan" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val wts = CorpusOps.trainHashedClassifier(
          d.filter("doc_id % 2 = 0"), posExpr = "lang = 'en'")
        mixDoremiPlan(CorpusOps.hashedClassifierScore(d, wts,
          carryCols = Seq("source")), d, budgetTokens = 5000000L)
      },
      s"""WITH ${doremiOracleCtes()},
         |tok AS (SELECT source, CAST(SUM(len(
         |    ${graft.functions.Portable.duckToksSql("coalesce(text, '')")})) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |wt AS (SELECT source, n_docs, acc // $DoremiSteps AS weight_ppm
         |  FROM d$DoremiSteps)
         |SELECT source, n_docs, weight_ppm,
         |  COALESCE(n_tokens, 0) AS n_tokens,
         |  5000000 * weight_ppm // 1000000 AS alloc_tokens,
         |  CASE WHEN COALESCE(n_tokens, 0) = 0 THEN 0
         |       ELSE (5000000 * weight_ppm // 1000000) * 1000 // n_tokens
         |       END AS epochs_m
         |FROM wt LEFT JOIN tok USING (source) ORDER BY source""".stripMargin),

    // ---- Chinchilla compute-optimal plan (Hoffmann et al. 2022): for a
    // ladder of model sizes, the rule-of-thumb data requirement
    // D_opt = 20·N tokens against THIS corpus — the sizing table read
    // before committing compute: which rungs this corpus can feed
    // compute-optimally, which need repetition (milli-epochs, against
    // mix_epoch_plan's 4-epoch Muennighoff cap where repeated tokens
    // stop paying), and the largest data-bound model (T·cap/20/1000).
    // flops_t is the 6·N·D approximation in TERAFLOPs: 120·N² runs to
    // ~6e23 at the 70B rung, so the product folds in DECIMAL(38,0)/
    // HUGEINT and only the ÷1e12 quotient returns to int64. Scale shape:
    // ONE corpus-linear tokenize+count pass into a 1-row total, cross
    // joined with the |grid|-row broadcast ladder — everything after the
    // count is model-sized map-side arithmetic. --------------------------
    "chinchilla_plan" -> QueryDef(
      (s, dir) => chinchillaPlan(Tables.load(s, dir, "documents")),
      s"""WITH t AS (SELECT CAST(COALESCE(
         |    SUM(len(${graft.functions.Portable.duckToksSql("coalesce(text, '')")})), 0) AS BIGINT) AS corpus_tokens
         |  FROM documents),
         |grid AS (SELECT unnest([125000000, 350000000, 1300000000,
         |    2700000000, 6700000000, 13000000000, 30000000000,
         |    70000000000]) AS params)
         |SELECT params, params * 20 AS d_opt,
         |  CAST(CAST(params AS HUGEINT) * params * 120
         |    // 1000000000000 AS BIGINT) AS flops_t,
         |  corpus_tokens,
         |  CASE WHEN corpus_tokens = 0 THEN -1
         |       ELSE params * 20000 // corpus_tokens END AS epochs_m,
         |  CASE WHEN corpus_tokens > 0
         |        AND params * 20000 // corpus_tokens <= 4000
         |       THEN 1 ELSE 0 END AS fits_cap
         |FROM grid CROSS JOIN t ORDER BY params""".stripMargin),

    // ---- filter-funnel attrition report: per-stage docs-in/kept/dropped
    // for the canonical gate order (exact dedup → length → repetition →
    // stop words) — the pipeline card every released corpus publishes
    // (RefinedWeb Fig. 2 / FineWeb's "macrodata refinement" table). The
    // gates are the engine's OWN: curate_corpus's canonical-digest dedup
    // and uniq-ratio gate, gopher_rules' stop-word rule (fixture
    // instantiation, ≥ 1). Every per-doc flag computes in ONE corpus
    // pass (map-side HOFs + the digest group-join); the funnel itself is
    // a single partial+final agg unpivoted to 5 rows — adding a stage
    // adds a column to the agg, not a pass over the corpus. Null-text
    // docs keep their row (LEFT join; no digest ⇒ trivially canonical)
    // and die at the length gate, so docs_in at ingest is the true
    // corpus count at any decade. -----------------------------------------
    "quality_funnel" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val canon = d.groupBy(graft.functions.Portable.contentDigest.as("digest"))
          .agg(min(col("doc_id")).as("canonical_id"))
        val flags = d.withColumn("digest", graft.functions.Portable.contentDigest)
          .join(canon, Seq("digest"), "left")
          .selectExpr(
            "CASE WHEN digest IS NULL THEN 1 WHEN doc_id = canonical_id THEN 1 ELSE 0 END AS g_dedup",
            s"${graft.functions.Portable.tokensSql("coalesce(text, '')")} AS toks")
          .selectExpr("g_dedup", "size(toks) AS n_toks",
            "size(array_distinct(toks)) AS n_uniq",
            "size(array_intersect(array_distinct(toks), " +
              "array('the','be','to','of','and','that','have','with'))) AS stop_hits")
          .selectExpr("g_dedup",
            "IF(n_toks BETWEEN 20 AND 5000, 1, 0) AS g_len",
            "IF(n_toks > 0 AND CAST(n_uniq AS DOUBLE) / n_toks >= 0.2, 1, 0) AS g_uniq",
            "IF(stop_hits >= 1, 1, 0) AS g_stop")
        flags.agg(count(lit(1)).as("n0"),
            sum(col("g_dedup")).as("n1"),
            sum(expr("g_dedup * g_len")).as("n2"),
            sum(expr("g_dedup * g_len * g_uniq")).as("n3"),
            sum(expr("g_dedup * g_len * g_uniq * g_stop")).as("n4"))
          .selectExpr(
            """stack(5,
              |  1, 'ingest',          n0, n0,
              |  2, 'exact_dedup',     n0, n1,
              |  3, 'length_gate',     n1, n2,
              |  4, 'repetition_gate', n2, n3,
              |  5, 'stopword_gate',   n3, n4) AS (stage_ord, stage, docs_in, docs_kept)""".stripMargin)
          .selectExpr("stage_ord", "stage", "docs_in", "docs_kept",
            "docs_in - docs_kept AS dropped",
            "IF(docs_in = 0, 0L, (docs_in - docs_kept) * 1000L div docs_in) AS drop_pm")
          .orderBy("stage_ord")
      },
      s"""WITH canon AS (SELECT md5(text) AS digest, MIN(doc_id) AS canonical_id
         |  FROM documents GROUP BY 1),
         |fl0 AS (SELECT
         |    CASE WHEN md5(d.text) IS NULL THEN 1
         |         WHEN d.doc_id = canonical_id THEN 1 ELSE 0 END AS g_dedup,
         |    ${graft.functions.Portable.duckToksSql("coalesce(d.text, '')")} AS toks
         |  FROM documents d LEFT JOIN canon ON md5(d.text) = digest),
         |fl1 AS (SELECT g_dedup, len(toks) AS n_toks,
         |    len(list_distinct(toks)) AS n_uniq,
         |    len(list_intersect(list_distinct(toks),
         |      ['the','be','to','of','and','that','have','with'])) AS stop_hits
         |  FROM fl0),
         |fl AS (SELECT g_dedup,
         |    CASE WHEN n_toks BETWEEN 20 AND 5000 THEN 1 ELSE 0 END AS g_len,
         |    CASE WHEN n_toks > 0 AND CAST(n_uniq AS DOUBLE) / n_toks >= 0.2 THEN 1 ELSE 0 END AS g_uniq,
         |    CASE WHEN stop_hits >= 1 THEN 1 ELSE 0 END AS g_stop
         |  FROM fl1),
         |a AS (SELECT COUNT(*) AS n0,
         |    CAST(SUM(g_dedup) AS BIGINT) AS n1,
         |    CAST(SUM(g_dedup * g_len) AS BIGINT) AS n2,
         |    CAST(SUM(g_dedup * g_len * g_uniq) AS BIGINT) AS n3,
         |    CAST(SUM(g_dedup * g_len * g_uniq * g_stop) AS BIGINT) AS n4
         |  FROM fl),
         |st AS (
         |  SELECT 1 AS stage_ord, 'ingest' AS stage, n0 AS docs_in, n0 AS docs_kept FROM a
         |  UNION ALL SELECT 2, 'exact_dedup', n0, n1 FROM a
         |  UNION ALL SELECT 3, 'length_gate', n1, n2 FROM a
         |  UNION ALL SELECT 4, 'repetition_gate', n2, n3 FROM a
         |  UNION ALL SELECT 5, 'stopword_gate', n3, n4 FROM a)
         |SELECT stage_ord, stage, docs_in, docs_kept,
         |  docs_in - docs_kept AS dropped,
         |  CASE WHEN docs_in = 0 THEN 0
         |       ELSE (docs_in - docs_kept) * 1000 // docs_in END AS drop_pm
         |FROM st ORDER BY stage_ord""".stripMargin),

    // ---- curriculum plan (Bengio et al. 2009): assign every doc a
    // training STAGE by difficulty quantile (easy = low score first)
    // and a deterministic within-(stage, shard) position — the data
    // order a curriculum loader consumes stage by stage. Stage cutoffs
    // ride the ccnet_buckets distribution trick: the only window over
    // all scores runs on the (score, count) DISTRIBUTION (distinct
    // score values, bounded), stage = 1 + (cum-1)·S div n off the
    // 1-row total broadcast, assignment a broadcast map-side join.
    // Ordering rides the shard_shuffle shape: per-(stage, shard) rank
    // windows — never a per-stage SinglePartition sort. The fixture's
    // difficulty signal is token length (the canonical short-first
    // curriculum); any score column plugs in via curriculumPlan. ----------
    "curriculum_plan" -> QueryDef(
      (s, dir) => curriculumPlan(
        Tables.load(s, dir, "documents").selectExpr("doc_id",
          s"CAST(size(${graft.functions.Portable.tokensSql("coalesce(text, '')")}) AS BIGINT) AS score")),
      s"""WITH sc AS (SELECT doc_id,
         |    len(${graft.functions.Portable.duckToksSql("coalesce(text, '')")})::BIGINT AS score
         |  FROM documents),
         |tot AS (SELECT COUNT(*) AS n FROM sc),
         |dist AS (SELECT score, COUNT(*) AS c FROM sc GROUP BY score),
         |cums AS (SELECT score,
         |    SUM(c) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM dist),
         |stg AS (SELECT score, (1 + (cum - 1) * 4 // n)::BIGINT AS stage
         |  FROM cums CROSS JOIN tot),
         |keyed AS (SELECT doc_id, score,
         |    ((doc_id % 999983) * $MIX + 5081) % $P AS skey FROM sc)
         |SELECT k.doc_id, g.stage, CAST(k.skey % 8 AS INT) AS shard, k.skey,
         |  ROW_NUMBER() OVER (PARTITION BY g.stage, k.skey % 8
         |    ORDER BY k.skey, k.doc_id) AS pos
         |FROM keyed k JOIN stg g USING (score)
         |ORDER BY stage, shard, pos""".stripMargin),

    // ---- Z-order layout: multi-dimensional clustering + skip stats --------
    // The lakehouse OPTIMIZE ZORDER shape (Delta/Iceberg data layout):
    // interleave the bits of two filter columns into one z-value, range-
    // bucket the z-space, and report per-bucket min/max extents — the
    // file-skipping stats a scan planner prunes on. The contrast is built
    // in: the same rows bucketed LINEARLY (by x alone) leave dim-y
    // unbounded in every bucket, while z-buckets bound BOTH dims — that
    // delta IS the reason z-ordering exists. Scale shape: the z-value and
    // bucket id are pure map-side integer expressions (no global sort —
    // range-bucketing by the occupied z-range replaces the ORDER BY a
    // naive OPTIMIZE pays), one 1-row extents frame broadcasts back, and
    // the stats are one partial+final aggregate over ≤ 2·buckets groups.
    // 16 bits per dim here (the fixture domains); production widens to
    // 31 bits/dim in the same 62-bit headroom. ----------------------------
    "zorder_layout" -> QueryDef(
      (s, dir) => zorderLayout(Tables.load(s, dir, "lineitem")
        .selectExpr("CAST(l_partkey AS BIGINT) & 65535 AS x",
          "CAST(l_suppkey AS BIGINT) & 65535 AS y")),
      s"""WITH r AS (SELECT CAST(l_partkey AS BIGINT) & 65535 AS x,
         |    CAST(l_suppkey AS BIGINT) & 65535 AS y FROM lineitem),
         |z AS (SELECT x, y, ${zInterleaveDuck("x", "y")} AS z FROM r),
         |m AS (SELECT MAX(z) AS mz, MAX(x) AS mx FROM z),
         |b AS (SELECT 'zorder' AS layout, (z * 64) // (mz + 1) AS bucket, x, y
         |    FROM z, m
         |  UNION ALL
         |  SELECT 'linear' AS layout, (x * 64) // (mx + 1) AS bucket, x, y
         |    FROM z, m)
         |SELECT layout, bucket, COUNT(*) AS n,
         |  MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
         |FROM b GROUP BY layout, bucket ORDER BY layout, bucket""".stripMargin)
  )

  /** 16-bit-per-dim Morton interleave as a Spark SQL expression string —
    * bit i of `x` lands at z-bit 2i, bit i of `y` at 2i+1; the 16 terms
    * are disjoint bit positions so plain addition assembles the z-value
    * (codegen-friendly: shifts and masks only, no UDF). */
  private[graft] def zInterleaveSpark(x: String, y: String): String =
    (0 until 16).map { i =>
      s"(shiftleft(shiftright($x, $i) & 1, ${2 * i}) + shiftleft(shiftright($y, $i) & 1, ${2 * i + 1}))"
    }.mkString("(", " + ", ")")

  /** The DuckDB twin of [[zInterleaveSpark]] — same bit algebra, operator
    * syntax. ONE pair of definitions keeps the engines in lockstep. */
  private[graft] def zInterleaveDuck(x: String, y: String): String =
    (0 until 16).map { i =>
      s"(((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1}))"
    }.mkString("(", " + ", ")")

  /** Z-order layout stats of any non-negative `(x, y)` frame (16-bit
    * domains): `buckets` z-range buckets plus the linear-by-x contrast —
    * see the `zorder_layout` registry comment for the clustering, skip
    * and no-global-sort contracts. */
  def zorderLayout(rows: org.apache.spark.sql.DataFrame, buckets: Int = 64): org.apache.spark.sql.DataFrame = {
    require(buckets >= 1 && buckets <= 1000000,
      s"buckets must be in [1, 1e6], got $buckets")
    val zd = rows.selectExpr("x", "y", s"${zInterleaveSpark("x", "y")} AS z")
    val m = zd.agg(max(col("z")).as("mz"), max(col("x")).as("mx"))
    zd.crossJoin(broadcast(m))
      .selectExpr(
        s"stack(2, 'zorder', (z * ${buckets}L) div (mz + 1L), " +
          s"'linear', (x * ${buckets}L) div (mx + 1L)) AS (layout, bucket)",
        "x", "y")
      .groupBy(col("layout"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .transform(graft.Sorted.byNames(_, "layout", "bucket"))
  }

  /** Curriculum staging of any (doc_id, score) frame — see the
    * `curriculum_plan` registry comment. Low score = easy = stage 1;
    * a tie-group of equal scores lands entirely in the stage of its
    * cumulative endpoint (deterministic, the distribution-cutoff rule).
    *
    * Cardinality contract: the cumulative window runs over the (score,
    * count) DISTRIBUTION, and the resulting (score → stage) cutoff
    * frame is BROADCAST back onto the corpus — so the distinct-score
    * domain must stay broadcast-sized (≤ ~10⁶ values). That is a hard
    * structural bound, not a silent funnel: a score domain past the
    * broadcast threshold fails the join LOUDLY, and the documented fix
    * is the classifierAuc knob — coarsen the score quantization (the
    * difficulty signal here is a token count; quantized ppb/ppm scores
    * are already domain-bounded). PlanAuditSpec pins the shape: one
    * SinglePartition exchange, consuming the post-aggregate
    * distribution frame only. */
  def curriculumPlan(scored: DataFrame, stages: Int = 4,
      nShards: Int = 8): DataFrame = {
    require(stages >= 1 && nShards >= 1, s"stages=$stages nShards=$nShards")
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("score"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val dist = scored.groupBy(col("score")).agg(count(lit(1)).as("c"))
    val cums = dist.withColumn("cum", sum(col("c")).over(wCum))
      .select(col("score"), col("cum"))
    val tot = scored.agg(count(lit(1)).as("n"))
    val stg = cums.crossJoin(broadcast(tot))
      .selectExpr("score", s"CAST(1L + (cum - 1L) * ${stages}L div n AS BIGINT) AS stage")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stage"), col("shard")).orderBy(col("skey"), col("doc_id"))
    scored
      .selectExpr("doc_id", "score",
        s"((doc_id % 999983L) * ${MIX}L + 5081L) % ${P}L AS skey")
      .join(broadcast(stg), "score")
      .withColumn("shard", expr(s"CAST(skey % $nShards AS INT)"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("stage"), col("shard"), col("skey"), col("pos"))
      .orderBy("stage", "shard", "pos")
  }

  /** The quantized temperature weight s_l = floor(n^alpha * 1e6) for the
    * two exponents whose cross-engine arithmetic is EXACT: IEEE-754 sqrt
    * is correctly rounded, so alpha = 0.5 is one sqrt and alpha = 0.25 is
    * sqrt∘sqrt — both engines execute the identical op sequence on the
    * identical doubles. Any other exponent needs pow/exp/ln, which the
    * no-transcendentals oracle rule forbids (libm results differ across
    * engines in the last ulp). */
  private def weightSql(nCol: String, alpha: Double): String = {
    require(alpha == 0.5 || alpha == 0.25,
      s"alpha=$alpha: only the sqrt-expressible exponents {0.5, 0.25} are oracle-exact")
    // `sqrt` is spelled identically in Spark SQL and DuckDB — one string
    // serves both engines (the callers differ only in the n_docs cast)
    val pow = if (alpha == 0.5) s"sqrt($nCol)" else s"sqrt(sqrt($nCol))"
    s"CAST(floor($pow * 1000000) AS BIGINT)"
  }

  /** Weighted priority sample of any (source, doc_id, n_chars) frame —
    * see the `weighted_sample` registry comment for the E–S-surrogate
    * and bounded-fold contracts. `k` docs per source; weight = n_chars.
    */
  def weightedSample(docs: DataFrame, k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val topk = udaf(new graft.functions.TopK(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))
    docs.filter("n_chars >= 1")
      .selectExpr("source", "doc_id",
        // same overflow-safe affine reduction as sample_fixed_per_lang;
        // priority < 1e15 so the negated DOUBLE in the fold is exact
        s"(((doc_id % 999983L) * ${MIX}L + 17L) % ${P}L) * 1000000L div n_chars AS priority")
      .groupBy(col("source"))
      .agg(topk(expr("CAST(-priority AS DOUBLE)"), col("doc_id")).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "t")))
      .selectExpr("source", "t._2 AS doc_id",
        "CAST(pos + 1 AS INT) AS smp_rank",
        "CAST(-t._1 AS BIGINT) AS priority")
      .orderBy("source", "smp_rank")
  }

  /** Chinchilla compute-optimal sizing table of any (text) corpus over a
    * model-parameter ladder — see the `chinchilla_plan` registry comment
    * for the arithmetic, headroom and scale-shape contracts. `grid` is
    * the parameter ladder; `tokensPerParam` the D/N rule (20 is the
    * Hoffmann et al. fit); `capMilliEpochs` the repetition ceiling the
    * feasibility flag tests against.
    */
  def chinchillaPlan(docs: DataFrame,
      grid: Seq[Long] = Seq(125000000L, 350000000L, 1300000000L,
        2700000000L, 6700000000L, 13000000000L, 30000000000L, 70000000000L),
      tokensPerParam: Long = 20L,
      capMilliEpochs: Long = 4000L): DataFrame = {
    require(grid.nonEmpty && grid.forall(_ > 0), "grid must be positive")
    require(tokensPerParam > 0 && capMilliEpochs > 0,
      s"rule and cap must be positive, got ($tokensPerParam, $capMilliEpochs)")
    val total = docs.agg(coalesce(sum(expr(
        s"CAST(size(${graft.functions.Portable.tokensSql("coalesce(text, '')")}) AS BIGINT)")),
      lit(0L)).as("corpus_tokens"))
    total
      .selectExpr("corpus_tokens",
        s"explode(array(${grid.map(_ + "L").mkString(", ")})) AS params")
      .selectExpr("params",
        s"params * ${tokensPerParam}L AS d_opt",
        s"CAST(CAST(params AS DECIMAL(38,0)) * params * ${6 * tokensPerParam}L" +
          " div 1000000000000 AS BIGINT) AS flops_t",
        "corpus_tokens",
        s"CASE WHEN corpus_tokens = 0 THEN -1L" +
          s" ELSE params * ${tokensPerParam * 1000}L div corpus_tokens END AS epochs_m",
        s"CASE WHEN corpus_tokens > 0 AND" +
          s" params * ${tokensPerParam * 1000}L div corpus_tokens <= ${capMilliEpochs}L" +
          s" THEN 1 ELSE 0 END AS fits_cap")
      .orderBy("params")
  }

  /** Token-budget epoch plan over a `documents` frame — see the
    * `mix_epoch_plan` registry comment for semantics (Muennighoff et al.
    * 2023's ~4-epoch repeat cap over a uniform per-source target). The
    * knobs are the SIGNATURE per the repo convention: `budgetTokens` is
    * the training token budget split uniformly across sources,
    * `capMilliEpochs` the repeat cap in milli-epochs (4000 = the
    * published 4-epoch rule). All int64: budgetTokens·1000 and
    * n_tokens·capMilliEpochs must stay under 2^63 — at 100 TB
    * (~2.5e13 tokens) a 4000 cap sits at 1e17, comfortably in range.
    * Scale shape: ONE corpus-linear tokenize+count pass into a
    * |sources|-row persisted frame feeding both the n_src count and the
    * plan; the budget arithmetic is model-sized. */
  def mixEpochPlan(docs: DataFrame, budgetTokens: Long = 1000000L,
      capMilliEpochs: Long = 4000L): DataFrame = {
    require(budgetTokens > 0 && capMilliEpochs > 0,
      s"budget and cap must be positive, got ($budgetTokens, $capMilliEpochs)")
    val counts = docs
      .selectExpr("source",
        s"CAST(size(${graft.functions.Portable.tokensSql("coalesce(text, '')")}) AS BIGINT) AS toks")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nsrc = counts.agg(count(lit(1)).as("n_src"))
    counts.crossJoin(broadcast(nsrc))
      .selectExpr("source", "n_docs", "n_tokens",
        s"${budgetTokens}L div n_src AS target_tokens")
      .selectExpr("source", "n_docs", "n_tokens", "target_tokens",
        "CASE WHEN n_tokens = 0 THEN 0L ELSE (target_tokens * 1000L) div n_tokens END AS epochs_m")
      .selectExpr("source", "n_docs", "n_tokens", "target_tokens",
        "epochs_m", s"least(${capMilliEpochs}L, epochs_m) AS epochs_capped_m",
        s"(n_tokens * least(${capMilliEpochs}L, epochs_m)) div 1000 AS planned_tokens")
      .orderBy("source")
  }

  /** UniMax waterfilling — see the `mix_unimax` registry comment
    * (Chung et al. 2023: as uniform an allocation as the per-source
    * epoch caps admit, with capped sources' unused budget flowing to
    * the ones with headroom). Scale shape: the ONLY corpus-volume work
    * is the one tokenize+count pass (identical to [[mixEpochPlan]]'s
    * first stage); everything after operates on the |sources|-row
    * frame, where the ascending-capacity rank/prefix windows and the
    * single-row level aggregate are model-sized by construction — a
    * SinglePartition sort of |sources| rows, the ccnet-cutoff
    * precedent, never a corpus funnel. If the whole corpus fits the
    * budget under the cap (Σ capacity ≤ B), every source is capped and
    * the leftover budget is deliberately unallocated — that is the
    * data-constrained regime where the cap binds globally. int64
    * bound: capacity·m must stay < 2^63 — at 1e3 sources that admits
    * ~9e15 capacity tokens per source, beyond any single source. */
  def mixUnimax(docs: DataFrame, budgetTokens: Long = 1000000L,
      capMilliEpochs: Long = 4000L): DataFrame = {
    require(budgetTokens > 0 && capMilliEpochs > 0,
      s"budget and cap must be positive, got ($budgetTokens, $capMilliEpochs)")
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .selectExpr("source",
        s"CAST(size(${graft.functions.Portable.tokensSql("coalesce(text, '')")}) AS BIGINT) AS toks")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      .selectExpr("source", "n_docs", "n_tokens",
        s"(n_tokens * ${capMilliEpochs}L) div 1000 AS capacity")
    val ord = Window.orderBy(col("capacity").asc, col("source").asc)
    val ranked = counts
      .withColumn("i", row_number().over(ord))
      .withColumn("pprev", coalesce(sum(col("capacity")).over(
        ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
      .withColumn("capped",
        expr(s"CAST(capacity * (m - i + 1) + pprev <= ${budgetTokens}L AS INT)"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val lev = ranked.agg(
      sum(col("capped").cast("long")).as("t"),
      coalesce(sum(expr("IF(capped = 1, capacity, CAST(NULL AS BIGINT))")),
        lit(0L)).as("pt"),
      max(col("m")).as("m2"))
    val alloc =
      s"IF(capped = 1, capacity, (${budgetTokens}L - pt) div (m2 - t))"
    ranked.crossJoin(broadcast(lev))
      .selectExpr("source", "n_docs", "n_tokens", "capacity AS capacity_tokens",
        s"$alloc AS alloc_tokens",
        s"CASE WHEN n_tokens = 0 THEN 0L ELSE $alloc * 1000L div n_tokens END AS epochs_m",
        "capped")
      .transform(graft.Sorted.byNames(_, "source"))
  }

  /** DoReMi steps — 4 reweighting rounds is production-shaped the same
    * way Tokenizer.Steps = 16 is: each round's cost profile (one
    * |domains|-row window pass) is already the steady state, and the
    * oracle unrolls to exactly this depth by construction. (A `def`, not
    * a `val`: the registry `defs` val initializes earlier in this object,
    * and a forward val reference would silently read 0 there.) */
  private[operators] def DoremiSteps = 4

  /** DoReMi EG step size and uniform-smoothing mass (ppm) — ONE
    * definition feeding BOTH [[mixDoremi]]/[[mixDoremiPlan]]'s
    * parameter defaults and the generated oracle step SQL
    * ([[doremiStepSql]] via [[doremiOracleCtes]]), the DoremiSteps
    * pattern: retuning either knob moves engine and oracle together
    * instead of silently desynchronizing them. (`def`s, not `val`s —
    * same forward-reference hazard as DoremiSteps.) */
  private[operators] def DoremiEtaPpm = 500000L
  private[operators] def DoremiSmoothPpm = 1000L

  /** DoReMi domain reweighting (Xie et al. 2023, "DoReMi: Optimizing
    * Data Mixtures Speeds Up Language Model Pretraining"): iterate
    * exponentiated-gradient updates on the domain weights driven by
    * per-domain EXCESS LOSS, smooth each iterate toward uniform, and
    * ship the AVERAGE of the iterates as the final mixture — the
    * published Algorithm 1 shape with the engine's substitutions:
    *
    *   - proxy/reference signal: the hashed linear classifier's
    *     per-document score_ppb ([[CorpusOps.hashedClassifierScore]])
    *     stands in for the proxy-model log-likelihood; the corpus-wide
    *     mean score is the reference. excess_d = max(0, mean_ref −
    *     mean_d) — domains the proxy rates hardest get upweighted,
    *     DoReMi's min-max direction.
    *   - the exp(η·λ) update linearizes to the first-order multiplier
    *     1 + η·λ (the hedge/EG small-step form) with λ normalized to
    *     ppm of the max excess, so every step is exact int64:
    *     w′ = w·(10⁶ + η_ppm·ex_n div 10⁶) div 10⁶, renormalized to
    *     ppm, then smoothed w ← ((10⁶−c_ppm)·w + c_ppm·u) div 10⁶.
    *   - final weight_ppm = (Σ_t w_t) div steps.
    *
    * Input: a SCORED frame carrying `domainCol` and integer `scoreCol`
    * (the registry wires hashedClassifierScore with carryCols = source;
    * a production caller brings real proxy/reference losses). Scale
    * shape: ONE corpus-volume fold (the per-domain count/sum agg);
    * every window after it runs over the |domains|-row frame — a
    * SinglePartition sort of model-sized rows (the mix_unimax
    * precedent), and the steps loop composes |domains|-row stages with
    * NO driver action. int64 headroom: |score_ppb| ≤ ~2e9 ⇒
    * excess·10⁶ ≤ 2e15; w ≤ 10⁶ and multiplier ≤ 10⁶+η_ppm keep every
    * product ≤ ~1e13. Domain-count contract: the uniform weight is
    * u = 10⁶ div k, so k must stay below 10⁶ domains (past that u
    * floors to 0 and the normalizing sum degenerates) — mixing plans
    * operate on tens-to-thousands of sources, far inside the bound. */
  def mixDoremi(scored: DataFrame, domainCol: String = "source",
      scoreCol: String = "score_ppb", etaPpm: Long = DoremiEtaPpm,
      smoothPpm: Long = DoremiSmoothPpm, steps: Int = DoremiSteps): DataFrame = {
    require(etaPpm >= 0 && etaPpm <= 10000000L,
      s"etaPpm must be in [0, 1e7], got $etaPpm")
    require(smoothPpm >= 0 && smoothPpm < 1000000L,
      s"smoothPpm must be in [0, 1e6), got $smoothPpm")
    require(steps >= 1 && steps <= 64, s"steps must be in [1, 64], got $steps")
    require(scored.columns.contains(domainCol) && scored.columns.contains(scoreCol),
      s"need $domainCol and $scoreCol in ${scored.columns.mkString(",")}")
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
    val base = scored.groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"), sum(col(scoreCol)).as("ssum"))
      .withColumn("tot_s", sum(col("ssum")).over(wAll))
      .withColumn("tot_n", sum(col("n_docs")).over(wAll))
      .withColumn("mean_score_ppb", expr("ssum div n_docs"))
      .withColumn("excess_ppb",
        expr("GREATEST(0L, tot_s div tot_n - mean_score_ppb)"))
      .withColumn("emax", max(col("excess_ppb")).over(wAll))
      .withColumn("k", count(lit(1)).over(wAll))
      .withColumn("ex_n", expr("IF(emax = 0, 0L, excess_ppb * 1000000L div emax)"))
      .withColumn("u", expr("1000000L div k"))
      .withColumn("w", col("u"))
      .withColumn("acc", lit(0L))
      .drop("tot_s", "tot_n", "emax", "k", "ssum")
    val after = (1 to steps).foldLeft(base) { (df, _) =>
      df.withColumn("wp",
          expr(s"(w * (1000000L + (${etaPpm}L * ex_n) div 1000000L)) div 1000000L"))
        .withColumn("tw", sum(col("wp")).over(wAll))
        .withColumn("wn", expr("wp * 1000000L div tw"))
        .withColumn("w",
          expr(s"(${1000000L - smoothPpm}L * wn + ${smoothPpm}L * u) div 1000000L"))
        .withColumn("acc", expr("acc + w"))
        .drop("wp", "tw", "wn")
    }
    after.selectExpr(domainCol, "n_docs", "mean_score_ppb", "excess_ppb",
        s"acc div ${steps}L AS weight_ppm")
      .transform(graft.Sorted.byNames(_, domainCol))
  }

  /** One generated mix_doremi oracle step — the Spark loop body's three
    * floor stages (update, renormalize, smooth) mirrored layer for
    * layer, GENERATED so oracle depth always equals the steps knob. */
  private def doremiStepSql(n: Int, etaPpm: Long, smoothPpm: Long): String =
    s"""p$n AS (SELECT source, n_docs, mean_score_ppb, excess_ppb, ex_n, u, acc,
       |    (w * (1000000 + ($etaPpm * ex_n) // 1000000)) // 1000000 AS wp FROM d${n - 1}),
       |q$n AS (SELECT source, n_docs, mean_score_ppb, excess_ppb, ex_n, u, acc,
       |    CAST(wp * 1000000 // SUM(wp) OVER () AS BIGINT) AS wn FROM p$n),
       |d$n AS (SELECT source, n_docs, mean_score_ppb, excess_ppb, ex_n, u,
       |    (${1000000L - smoothPpm} * wn + $smoothPpm * u) // 1000000 AS w,
       |    acc + (${1000000L - smoothPpm} * wn + $smoothPpm * u) // 1000000 AS acc
       |  FROM q$n)""".stripMargin

  /** The shared mix_doremi oracle CTE chain (classifier train/score with
    * source carried, per-domain fold, generated EG steps) — ONE
    * definition for the mix_doremi and mix_doremi_plan oracles and the
    * pretrain_prep capstone (which reweights the CLEANED corpus, so the
    * scored source is a parameter; d-prefixed CTE names so the chain
    * composes beside the gopher/LM/shingle fragments). */
  private[operators] def doremiOracleCtes(src: String = "documents"): String =
    s"""dth AS (SELECT doc_id, lang, source,
         |    ${graft.functions.Portable.duckHashTokensSql(
               graft.functions.Portable.duckToksSql("text"))} AS th
         |  FROM $src),
         |dfx AS (SELECT doc_id, lang, source,
         |    unnest(${CorpusOps.duckBigramBkt}) AS bkt FROM dth),
         |dtr AS (SELECT lang, bkt FROM dfx WHERE doc_id % 2 = 0),
         |dpos AS (SELECT bkt, COUNT(*)::BIGINT AS pc FROM dtr WHERE lang = 'en' GROUP BY bkt),
         |dneg AS (SELECT bkt, COUNT(*)::BIGINT AS nc FROM dtr WHERE NOT (lang = 'en') GROUP BY bkt),
         |dpt AS (SELECT COALESCE((SELECT SUM(pc) FROM dpos), 0)::BIGINT AS ptot),
         |dnt AS (SELECT COALESCE((SELECT SUM(nc) FROM dneg), 0)::BIGINT AS ntot),
         |ddom AS (SELECT UNNEST(range(0, 8192)) AS bkt),
         |dwt AS (SELECT ddom.bkt,
         |    ((COALESCE(pc, 0) + 1) * 1000000000) // (ptot + 8192)
         |      - ((COALESCE(nc, 0) + 1) * 1000000000) // (ntot + 8192) AS w
         |  FROM ddom CROSS JOIN dpt CROSS JOIN dnt
         |  LEFT JOIN dpos ON dpos.bkt = ddom.bkt
         |  LEFT JOIN dneg ON dneg.bkt = ddom.bkt),
         |dscored AS (SELECT doc_id, source,
         |    CAST(SUM(dwt.w) AS BIGINT) // COUNT(*) AS score_ppb
         |  FROM dfx JOIN dwt USING (bkt) GROUP BY doc_id, lang, source),
         |dm AS (SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(score_ppb) AS BIGINT) AS ssum FROM dscored GROUP BY source),
         |b0 AS (SELECT source, n_docs, ssum // n_docs AS mean_score_ppb,
         |    GREATEST(0, CAST(SUM(ssum) OVER () // SUM(n_docs) OVER () AS BIGINT)
         |      - ssum // n_docs) AS excess_ppb
         |  FROM dm),
         |b1 AS (SELECT source, n_docs, mean_score_ppb, excess_ppb,
         |    CASE WHEN MAX(excess_ppb) OVER () = 0 THEN 0
         |         ELSE CAST(excess_ppb * 1000000 // MAX(excess_ppb) OVER () AS BIGINT)
         |         END AS ex_n,
         |    CAST(1000000 // COUNT(*) OVER () AS BIGINT) AS u
         |  FROM b0),
         |d0 AS (SELECT source, n_docs, mean_score_ppb, excess_ppb, ex_n, u,
         |    u AS w, CAST(0 AS BIGINT) AS acc FROM b1),
         |${(1 to DoremiSteps).map(doremiStepSql(_, DoremiEtaPpm, DoremiSmoothPpm)).mkString(",\n")}"""
      .stripMargin

  /** [[mixDoremi]] realized against a token budget — see the
    * `mix_doremi_plan` registry comment. `docs` supplies the per-source
    * token counts (one corpus pass); sources absent from the scored
    * frame (no classifier features) get no allocation, sources absent
    * from `docs` read n_tokens 0 with epochs guarded. */
  def mixDoremiPlan(scored: DataFrame, docs: DataFrame,
      budgetTokens: Long = 1000000L, domainCol: String = "source",
      scoreCol: String = "score_ppb", etaPpm: Long = DoremiEtaPpm,
      smoothPpm: Long = DoremiSmoothPpm, steps: Int = DoremiSteps): DataFrame = {
    require(budgetTokens > 0, s"budget must be positive, got $budgetTokens")
    val w = mixDoremi(scored, domainCol, scoreCol, etaPpm, smoothPpm, steps)
      .select(domainCol, "n_docs", "weight_ppm")
    val toks = docs
      .selectExpr(domainCol,
        s"CAST(size(${graft.functions.Portable.tokensSql("coalesce(text, '')")}) AS BIGINT) AS t")
      .groupBy(col(domainCol)).agg(sum(col("t")).as("n_tokens"))
    w.join(toks, Seq(domainCol), "left")
      .selectExpr(domainCol, "n_docs", "weight_ppm",
        "coalesce(n_tokens, 0L) AS n_tokens",
        s"${budgetTokens}L * weight_ppm div 1000000L AS alloc_tokens",
        s"""CASE WHEN coalesce(n_tokens, 0L) = 0 THEN 0L
           |     ELSE (${budgetTokens}L * weight_ppm div 1000000L) * 1000L div n_tokens
           |     END AS epochs_m""".stripMargin)
      .transform(graft.Sorted.byNames(_, domainCol))
  }

  /** Temperature-scaled mixture resampling: language l drawn ∝ p_l^alpha
    * (the multilingual alpha-sampling of mBERT/XLM-R). Head languages
    * flatten, tail languages boost: each doc receives base = floor(r_l)
    * copies plus one more with probability frac(r_l), decided by the
    * portable hash — deterministic and replay-safe, with the per-lang
    * rate table AND the realized per-lang copy totals both
    * oracle-verified. The repeat factor r_l = (s_l/ssum)/(n_l/total) is
    * held as the exact fraction (s_l*total)/(ssum*n_l), multiplied in
    * DECIMAL(18,0)→(37,0) (HUGEINT on the DuckDB side): in int64 the
    * numerator is ~total^1.5 * 1e6, overflowing past ~4e8 total docs —
    * far beyond the fixtures, but exactly the scale this engine
    * advertises, and Spark would WRAP silently where DuckDB raises, so
    * the engines would diverge rather than fail loudly. The quotients
    * (base_copies, extra_m) return to int64. Scale shape: rates are
    * |langs| rows (broadcast); the corpus side is one partial+final count
    * plus a map-side copy computation — no corpus shuffle beyond the
    * group-by (plan-pinned). */
  def mixTemperature(docs: DataFrame, alpha: Double = 0.5): DataFrame = {
    val w = weightSql("CAST(n_docs AS DOUBLE)", alpha)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    // integer sums are order-independent, so ssum is exact in both engines
    val tot = counts.agg(sum(col("n_docs")).as("total"),
      sum(expr(w)).as("ssum"))
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("s_l", expr(w))
      .withColumn("num", expr(
        "CAST(s_l AS DECIMAL(18,0)) * CAST(total AS DECIMAL(18,0))"))
      .withColumn("den", expr(
        "CAST(ssum AS DECIMAL(18,0)) * CAST(n_docs AS DECIMAL(18,0))"))
      .withColumn("base_copies", expr("num div den"))
      .withColumn("extra_m", expr("((num % den) * 1000) div den"))
      .select(col("lang"), col("n_docs"), col("base_copies"), col("extra_m"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val realized = docs.join(broadcast(rates), "lang")
      .selectExpr("lang",
        s"base_copies + IF(((doc_id % 999983L) * ${MIX}L + 31L) % 1000 < extra_m, 1L, 0L) AS copies")
      .groupBy(col("lang"))
      .agg(sum(col("copies")).as("n_copies_total"))
    rates.join(realized, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("base_copies"), col("extra_m"),
        coalesce(col("n_copies_total"), lit(0L)).as("n_copies_total"))
      .orderBy("lang")
  }

  /** DuckDB oracle twin of [[mixTemperature]] — identical op sequence,
    * HUGEINT where Spark multiplies in DECIMAL. */
  private def mixTemperatureSql(alpha: Double): String = {
    val w = weightSql("n_docs::DOUBLE", alpha)
    s"""WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
       |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
       |    CAST(SUM($w) AS BIGINT) AS ssum
       |  FROM c),
       |r AS (SELECT lang, n_docs, $w AS s_l FROM c),
       |r2 AS (SELECT lang, n_docs,
       |    CAST((s_l::HUGEINT * total) // (ssum::HUGEINT * n_docs) AS BIGINT) AS base_copies,
       |    CAST((((s_l::HUGEINT * total) % (ssum::HUGEINT * n_docs)) * 1000)
       |      // (ssum::HUGEINT * n_docs) AS BIGINT) AS extra_m
       |  FROM r, t),
       |k AS (SELECT d.lang,
       |    CAST(SUM(base_copies +
       |      CASE WHEN ((doc_id % 999983) * $MIX + 31) % 1000 < extra_m
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_copies_total
       |  FROM documents d JOIN r2 USING (lang) GROUP BY d.lang)
       |SELECT lang, n_docs, base_copies, extra_m,
       |  COALESCE(n_copies_total, 0) AS n_copies_total
       |FROM r2 LEFT JOIN k USING (lang) ORDER BY lang""".stripMargin
  }
}
