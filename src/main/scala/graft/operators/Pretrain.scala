package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Portable.{MIX, P}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.immutable.ListMap

/** The pretraining-data capstone: the published curate→dedup→
  * decontaminate→mix→pack→shard pipeline composed as ONE Spark plan —
  * the query a 100 TB corpus owner actually runs, built entirely from
  * the engine's own stage operators (each separately oracle-checked in
  * its registry entry; THIS entry checks the composition).
  *
  * Stage order is the published one (RefinedWeb Fig. 2 / FineWeb's
  * refinement table; CCNet for the LM gate; Gopher §A1.1 for the rule
  * gate; Lee et al. 2022 for dedup-before-training; DoReMi for the
  * mixture):
  *
  *  1. QUALITY GATE — [[TextOps.gopherFlags]] composite rules AND the
  *     CCNet perplexity gate: the held-out trigram LM
  *     ([[TextOps.lmTrigramScoreRaw]], trained on the doc_id % 2 = 0
  *     half, scoring EVERYONE) bucketed per-language by
  *     [[TextOps.ccnetBucketsRaw]]; the per-language tail third drops
  *     (CCNet's "train on the head" frame).
  *  2. EXACT DEDUP — content-digest grouping, keep the canonical
  *     min-id doc (dedup_exact's rule, keep-side).
  *  3. NEAR DEDUP — [[Dedup.minhashPairsOf]] over the exact-dedup
  *     survivors (16-perm MinHash, 4×4 band LSH, Jaccard ≥ 0.8
  *     verify); keep-first policy drops the higher id of every
  *     verified pair (dedup_keep_list's rule).
  *  4. DECONTAMINATION — drop the eval pool itself (doc_id % 97 = 0,
  *     the decontaminate_overlap stand-in benchmark) AND any survivor
  *     sharing ≥ 3 distinct 3-token shingles with it; the pool's gram
  *     set is benchmark-sized and BROADCASTS into the survivor scan.
  *  5. MIX REALIZATION — [[Curation.mixDoremiPlan]] reweights the
  *     CLEANED corpus (DoReMi EG loop on the hashed-classifier signal)
  *     and realizes the weights against `budgetTokens`: keep_ppm =
  *     min(10⁶, alloc·10⁶ div n_tokens) hash-sampling for
  *     under-allocated domains, epochs_m > 1000 carried per doc as the
  *     repetition instruction for over-allocated ones.
  *  6. PACK — pack_sequences' sharded running-length rule assigns the
  *     sampled docs to 4096-char context packs per (lang, doc_id div
  *     1000) — every window partition ≤ 1000 rows at any corpus size.
  *  7. SHARD — shard_shuffle's deterministic hash spread over 8 output
  *     shards with a within-shard hash-order position.
  *
  * Output: one row per doc in the REALIZED training corpus —
  * (doc_id, lang, source, n_chars, epochs_m, pack_id, shard, pos).
  *
  * Scale shape (the plan audit in PretrainPrepSpec pins this): the
  * corpus never funnels through a driver action or an unbounded window
  * — the LM model joins are pair/triple-keyed shuffles with
  * vocab-bounded broadcasts, both dedup stages are banded/blocked
  * (never all-pairs), the decontamination and mix joins BROADCAST
  * (benchmark-sized grams, |domains|-row plan), the pack window is
  * shard-bounded, and the shard window partitions by shard. `gated`
  * and `clean` materialize (localCheckpoint) because each feeds ≥ 3
  * downstream stages — at 100 TB those boundaries become temp-parquet
  * materializations, same shape. The
  * stages FUSE: dedup/decontam/mix all read the one cached `gated`
  * projection rather than re-scanning the corpus per stage (the only
  * raw-corpus scans are the gate folds themselves and the full-corpus
  * eval-pool shingle pass).
  */
object Pretrain {

  /** Token budget the DoReMi weights are realized against — sized to
    * the fixture so BOTH realization directions discriminate (some
    * domains sample down with keep_m < 1000, some carry epochs_m >
    * 1000 repetition — at 2M every domain repeated and the sampling
    * path was invisible); a production caller passes their real
    * budget. */
  private val BudgetTokens = 20000L

  /** doc_id stride between salted copies in tools/build_salted_corpus.py
    * (each decade copy i shifts ids by i·10M, so `doc_id < SaltStride`
    * selects exactly the base copy on ANY salted decade corpus). Shared
    * so the [[FixedEvalPool]] bound and the corpus builder cannot drift
    * apart silently — the builder asserts the id domain stays below it. */
  val SaltStride = 10000000L

  /** The corpus-fraction eval-pool stand-in (decontaminate_overlap's
    * benchmark selector): simple, but it grows WITH the corpus. */
  val DefaultEvalPool = "doc_id % 97 = 0"

  /** The production-shaped pool: base-stride-bounded, so its size is
    * FIXED regardless of corpus scale — the direction a 100 TB caller
    * actually runs (a real benchmark does not grow with the crawl).
    * Valid Spark SQL and DuckDB SQL alike (both sides of the oracle
    * compare take the expression verbatim). */
  val FixedEvalPool = s"$DefaultEvalPool AND doc_id < $SaltStride"

  /** `evalPoolExpr` selects the decontamination benchmark. The
    * [[DefaultEvalPool]] stand-in is fine at a fixed SF, but it grows
    * WITH the corpus, and on the salted decade corpora a 10× pool's
    * shingle set saturates the synthetic trigram space and marks EVERY
    * survivor contaminated (measured: clean=0 at 10×). A real benchmark
    * is fixed-size and independent of corpus scale — [[FixedEvalPool]]
    * bounds the pool to the base stride so all seven stages do
    * production-shaped work at every decade; the `pretrain_prep_fixed`
    * registry entry oracle-checks that direction.
    *
    * `dedupEmitter` selects stage 3's candidate emitter:
    *  - `"all"` (default) — the exact all-pairs emitter
    *    ([[Dedup.minhashPairsOf]]; quadratic in bucket occupancy, fine
    *    on natural corpora);
    *  - `"star"` — [[Dedup.minhashPairsStarOf]] (canonical-star,
    *    Σ(n−1) linear candidates): the rung that completes the K=1000
    *    decade a box cannot pay all-pairs on (16.6 B vs ~20 M —
    *    SCALE.md round 13); oracle-checked by `pretrain_prep_star`
    *    with the star CTE spliced into the same DuckDB twin;
    *  - `"capped"` — [[Dedup.minhashPairsCappedOf]] (maxPerBucket =
    *    DefaultBucketCap in batch, O(cap·n) volume with measured EXACT
    *    all-pairs drop-set agreement at mid-saturation — SCALE.md
    *    round 14);
    *  - `"auto"` — the profile-before-pairing discipline AS CODE:
    *    [[Dedup.emitterPolicy]]'s O(n) bucket-load profile over the
    *    exact-dedup survivors picks the rung (one linear aggregation,
    *    one driver-side row — the AQE-stats shape; thresholds
    *    documented there: max_bucket ≤ cap → all; capped candidates ≤
    *    `autoCappedBudget` → capped; else star). Natural corpora pay
    *    nothing for the guard but the profile pass, whose persisted
    *    sig table the chosen emitter reuses from cache.
    *
    *    NOTE `"auto"` makes this call EAGER: the profile (gates →
    *    exact dedup → signatures → one aggregate row) runs at
    *    plan-construction time, not at the returned frame's first
    *    action. The sig table it persists is the cache the chosen
    *    emitter reuses, so it is deliberately NOT unpersisted here —
    *    its lifetime is the session cache's (drop it with
    *    `spark.catalog.clearCache()` between corpora; repeated auto
    *    calls over DIFFERENT inputs otherwise accumulate one cached
    *    sig table each, ~128 B/doc). */
  def pretrainPrep(s: SparkSession, dir: String,
      budgetTokens: Long = BudgetTokens,
      evalPoolExpr: String = DefaultEvalPool,
      dedupEmitter: String = "all",
      autoCappedBudget: Long = Dedup.AutoCappedBudget): DataFrame = {
    val d = Tables.load(s, dir, "documents")

    // ---- 1. quality gates ------------------------------------------------
    val gop = TextOps.gopherFlags(d, minStopHits = 1)
      .filter("keep = 1").select("doc_id")
    val lm = TextOps.lmTrigramScoreRaw(d,
        trainExpr = "doc_id % 2 = 0", scoreExpr = "doc_id IS NOT NULL",
        carryCols = Seq("lang"))
      .select(col("doc_id"), col("lang"), col("lm_score"))
    val keepBuck = TextOps.ccnetBucketsRaw(lm, scoreCol = "lm_score")
      .filter("bucket != 'tail'").select("doc_id")
    // localCheckpoint, not persist: `gated` feeds stages 2/3/4/5, several
    // of which reference it MORE than once (self-joins, sig+shingle
    // pairs), so keeping the full gate lineage under every consumer
    // nests the LM-chain subtree ~12x — planning/codegen memory blows up
    // before any data moves (measured: 54k-line physical plan, driver
    // OOM at 8g on the 50-doc fixture). The checkpoint truncates lineage
    // to a leaf scan; at 100 TB this boundary is the temp-parquet
    // materialization between pipeline stages (the dedup_clusters
    // precedent — same single-JVM caveat documented there).
    val gated = d.join(gop, "doc_id").join(keepBuck, "doc_id")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .localCheckpoint()

    // ---- 2. exact dedup (keep canonical = min doc_id per digest) ---------
    // The canonical set IS the per-digest minimum: one partial+final
    // aggregation. (Round 16, guide §2.4: the old shape joined the
    // digest frame back against its own groupBy to filter doc_id = cid —
    // a second corpus-sized shuffle of `dg` that the aggregation's output
    // already contains; the join subtree was also re-executed under every
    // downstream consumer of `ek`/`ekDocs` — sig table, both verify
    // shingle sides, the survivor filter.)
    val dg = gated.select(col("doc_id"),
      graft.functions.Portable.contentDigest.as("dg"))
    val ek = dg.groupBy("dg").agg(min("doc_id").as("doc_id")).select("doc_id")
    // NOT persisted (round 16, measured): caching the text-carrying
    // survivor frame costs more than the 2 extra digest+agg+join
    // recomputes it saves (1.15-1.27× on the capstone family — the
    // columnar string cache build is the dominant term; the same
    // economics as the minhashSigTable slim-cache rule).
    val ekDocs = gated.join(ek, "doc_id")

    // ---- 3. MinHash near-dedup, keep-first -------------------------------
    val volume =
      if (dedupEmitter == "auto")
        Dedup.emitterPolicy(ekDocs.select("doc_id", "text"),
          cappedBudget = autoCappedBudget)
      else Dedup.emitterLadder.find(_.label == dedupEmitter).getOrElse(
        throw new IllegalArgumentException(
          s"dedupEmitter must be all|star|capped|auto, got '$dedupEmitter'"))
    val drops = Dedup.minhashPairsVia(ekDocs.select("doc_id", "text"), volume)
      .select(col("doc_b").as("doc_id")).distinct()
    val ndIds = ek.join(drops, Seq("doc_id"), "left_anti")

    // ---- 4. eval-set decontamination --------------------------------------
    val poolGrams = Dedup.shinglesOf(d.filter(evalPoolExpr))
      .select(explode(col("sh")).as("g")).distinct()
    val ndDocs = gated.join(ndIds, "doc_id").filter(s"NOT ($evalPoolExpr)")
    val contam = Dedup.shinglesOf(ndDocs.select("doc_id", "text"))
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .join(broadcast(poolGrams), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      .filter("n_overlap >= 3").select("doc_id")
    // same lineage cut: `clean` feeds classifier train + score, the
    // token-count fold and the sampling join (4 consumers)
    val clean = ndDocs.join(contam, Seq("doc_id"), "left_anti")
      .localCheckpoint()

    // ---- 5. DoReMi mixture realized against the token budget -------------
    val wts = CorpusOps.trainHashedClassifier(
      clean.filter("doc_id % 2 = 0"), posExpr = "lang = 'en'")
    // keep rate in PPM, not the mix_rebalance per-mille: when budget ≪
    // corpus (the realistic direction at 100 TB — the decade probe's 10×
    // corpus pushed every domain's per-mille rate to floor 0 and emptied
    // the output), per-mille quantization floors sub-0.1% domains to
    // zero; ppm keeps the realization faithful for two more decades
    val plan = Curation.mixDoremiPlan(
        CorpusOps.hashedClassifierScore(clean, wts, carryCols = Seq("source")),
        clean, budgetTokens = budgetTokens)
      .selectExpr("source", "epochs_m",
        """CASE WHEN n_tokens = 0 THEN 0L
          |     ELSE least(1000000L, alloc_tokens * 1000000L div n_tokens)
          |     END AS keep_ppm""".stripMargin)
    val sampled = clean.join(broadcast(plan), "source")
      .filter(s"((doc_id % 999983L) * ${MIX}L + 31L) % 1000000 < keep_ppm")
      .select("doc_id", "lang", "source", "n_chars", "epochs_m")

    // ---- 6. pack into 4096-char context windows --------------------------
    val wp = Window.partitionBy(col("lang"), expr("doc_id div 1000"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = sampled
      .withColumn("cum_chars", sum(col("n_chars")).over(wp))
      .selectExpr("doc_id", "lang", "source", "n_chars", "epochs_m",
        "(cum_chars - n_chars) div 4096 AS pack_id")

    // ---- 7. deterministic shard assignment -------------------------------
    val ws = Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
    packed
      .withColumn("skey", expr(s"((doc_id % 999983L) * ${MIX}L + 5081L) % ${P}L"))
      .withColumn("shard", expr("CAST(skey % 8 AS INT)"))
      .withColumn("pos", row_number().over(ws).cast("long"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("epochs_m"), col("pack_id"), col("shard"), col("pos"))
      .transform(graft.Sorted.byNames(_, "shard", "pos"))
  }

  /** The DuckDB twin: the SAME stage chain assembled from the shared
    * per-stage fragments (gopher flags, LM buckets, shingles+signature,
    * DoReMi steps) — a fragment retune moves engine and oracle
    * together. */
  private def pretrainPrepSql(budgetTokens: Long,
      evalPoolExpr: String = DefaultEvalPool,
      dedupEmitter: String = "all"): String =
    s"""WITH ${TextOps.duckGopherCtes("documents", minStopHits = 1)},
       |${TextOps.duckLmBucketCtes("documents", "doc_id % 2 = 0", "TRUE")},
       |gated AS (SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
       |  FROM documents d
       |  JOIN gflags g ON d.doc_id = g.doc_id
       |  JOIN lmbuck b ON d.doc_id = b.doc_id
       |  WHERE g.keep = 1 AND b.bucket <> 'tail'),
       |exd AS (SELECT doc_id, md5(text) AS dg FROM gated),
       |ecan AS (SELECT dg, MIN(doc_id) AS cid FROM exd GROUP BY dg),
       |ek AS (SELECT doc_id FROM exd JOIN ecan USING (dg) WHERE doc_id = cid),
       |${Dedup.duckShingles},
       |shk AS (SELECT sh.doc_id, sh.sh FROM sh JOIN ek USING (doc_id)),
       |${Dedup.duckSigCte("shk")},
       |${Dedup.duckBandsCte},
       |${dedupEmitter match {
           case "star" => Dedup.duckStarCandCte
           case "capped" => Dedup.duckCappedCandCte()
           case _ => Dedup.duckCandCte
         }},
       |mdup AS (SELECT DISTINCT doc_b AS doc_id
       |  FROM cand JOIN shk sa ON sa.doc_id = doc_a JOIN shk sb ON sb.doc_id = doc_b
       |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |     / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.8),
       |nd AS (SELECT ek.doc_id FROM ek
       |  LEFT JOIN mdup ON ek.doc_id = mdup.doc_id WHERE mdup.doc_id IS NULL),
       |bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE $evalPoolExpr),
       |ndd AS (SELECT doc_id FROM nd WHERE NOT ($evalPoolExpr)),
       |tgr AS (SELECT t.doc_id, unnest(t.sh) AS g FROM sh t JOIN ndd USING (doc_id)),
       |contam AS (SELECT doc_id FROM tgr JOIN bench USING (g)
       |  GROUP BY doc_id HAVING COUNT(*) >= 3),
       |cdocs AS (SELECT g.doc_id, g.text, g.lang, g.source, g.n_chars
       |  FROM gated g JOIN ndd ON g.doc_id = ndd.doc_id
       |  LEFT JOIN contam c ON g.doc_id = c.doc_id WHERE c.doc_id IS NULL),
       |${Curation.doremiOracleCtes("cdocs")},
       |dtok AS (SELECT source, CAST(SUM(len(
       |    ${graft.functions.Portable.duckToksSql("coalesce(text, '')")})) AS BIGINT) AS n_tokens
       |  FROM cdocs GROUP BY source),
       |dwts AS (SELECT source, acc // ${Curation.DoremiSteps} AS weight_ppm
       |  FROM d${Curation.DoremiSteps}),
       |dplan AS (SELECT source, weight_ppm, COALESCE(n_tokens, 0) AS n_tokens,
       |    $budgetTokens * weight_ppm // 1000000 AS alloc_tokens
       |  FROM dwts LEFT JOIN dtok USING (source)),
       |dreal AS (SELECT source,
       |    CASE WHEN n_tokens = 0 THEN 0 ELSE alloc_tokens * 1000 // n_tokens END AS epochs_m,
       |    CASE WHEN n_tokens = 0 THEN 0
       |         ELSE LEAST(1000000, alloc_tokens * 1000000 // n_tokens) END AS keep_ppm
       |  FROM dplan),
       |sampled AS (SELECT c.doc_id, c.lang, c.source, c.n_chars, r.epochs_m
       |  FROM cdocs c JOIN dreal r ON c.source = r.source
       |  WHERE ((c.doc_id % 999983) * $MIX + 31) % 1000000 < r.keep_ppm),
       |packed AS (SELECT doc_id, lang, source, n_chars, epochs_m,
       |    CAST((SUM(n_chars) OVER (PARTITION BY lang, doc_id // 1000 ORDER BY doc_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars) // 4096 AS BIGINT) AS pack_id
       |  FROM sampled),
       |sharded AS (SELECT *, ((doc_id % 999983) * $MIX + 5081) % $P AS skey FROM packed)
       |SELECT doc_id, lang, source, n_chars, epochs_m, pack_id,
       |  CAST(skey % 8 AS INT) AS shard,
       |  ROW_NUMBER() OVER (PARTITION BY skey % 8 ORDER BY skey, doc_id) AS pos
       |FROM sharded ORDER BY shard, pos""".stripMargin

  val defs: ListMap[String, QueryDef] = ListMap(
    "pretrain_prep" -> QueryDef(
      (s, dir) => pretrainPrep(s, dir),
      pretrainPrepSql(BudgetTokens)),
    // the production direction: a FIXED-size eval pool (bounded to the
    // base stride), so decontamination does real work at every decade
    // instead of saturating to clean=0 beyond 1× — the same seven-stage
    // plan, oracle-checked with the pool expression shared verbatim
    // between engine and DuckDB twin
    "pretrain_prep_fixed" -> QueryDef(
      (s, dir) => pretrainPrep(s, dir, evalPoolExpr = FixedEvalPool),
      pretrainPrepSql(BudgetTokens, FixedEvalPool)),
    // the saturated-corpus direction: fixed pool AND the canonical-star
    // near-dedup emitter — exactly the configuration a duplicate-heavy
    // 100 TB caller runs (the only emitter whose K=1000 decade fits on a
    // box: SCALE.md, "Round-12: pretrain_prep"). Oracle-checked with
    // duckStarCandCte spliced into the SAME seven-stage DuckDB twin, so the star
    // emitter's keep-first semantics are pinned end-to-end, not just at
    // the pair level (dedup_minhash_star)
    "pretrain_prep_star" -> QueryDef(
      (s, dir) => pretrainPrep(s, dir, evalPoolExpr = FixedEvalPool,
        dedupEmitter = "star"),
      pretrainPrepSql(BudgetTokens, FixedEvalPool, dedupEmitter = "star")),
    // the middle rung, oracle-checked end-to-end too: fixed pool + the
    // capped emitter (the rung `auto` selects at mid-saturation, where
    // it reproduces all-pairs' drop set exactly — SCALE.md round 14);
    // duckCappedCandCte spliced into the same seven-stage twin
    "pretrain_prep_capped" -> QueryDef(
      (s, dir) => pretrainPrep(s, dir, evalPoolExpr = FixedEvalPool,
        dedupEmitter = "capped"),
      pretrainPrepSql(BudgetTokens, FixedEvalPool, dedupEmitter = "capped")),
    // the DISPATCH itself, oracle-pinned end-to-end: "auto" profiles the
    // exact-dedup survivors and picks the rung inside the capstone. At
    // fixture scale the profile's max_bucket sits far under the cap
    // (sf0.1 measures 18 on the RAW corpus; survivors bucket smaller), so
    // chooseEmitter returns "all" and the expected rung's oracle IS the
    // fixed-pool all-pairs twin — this entry must hash-equal
    // pretrain_prep_fixed, proving the auto wiring through the driver
    // (PretrainPrepSpec drives the other two rungs suite-side)
    "pretrain_prep_auto" -> QueryDef(
      (s, dir) => pretrainPrep(s, dir, evalPoolExpr = FixedEvalPool,
        dedupEmitter = "auto"),
      pretrainPrepSql(BudgetTokens, FixedEvalPool, dedupEmitter = "all"))
  )
}
