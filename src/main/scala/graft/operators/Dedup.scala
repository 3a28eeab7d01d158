package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Portable.{P, P61, MIX, tokensSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.immutable.ListMap

import BucketPairs.{All, Capped, DefaultBucketCap, DepthCap, Star, Tiered, Volume}

/** Deduplication operators over `documents` (the LLM-data north star):
  * exact (content hash), MinHash+LSH banding, SimHash, and char-n-gram
  * Jaccard with length-band blocking.
  *
  * Scale design: every variant is candidate-generation-by-key (hash group /
  * LSH band bucket / length band) followed by pairwise verification *only
  * inside buckets* — never an all-pairs product. At 100 TB the band
  * explode+shuffle is linear in corpus size and the verify join touches only
  * colliding candidates; skewed buckets are bounded because band keys are
  * 4-minhash tuples (collision probability ≈ j^4).
  *
  * All hashing is the portable int64 arithmetic from [[graft.functions.Portable]]
  * so the DuckDB oracle replays it exactly.
  */
object Dedup {

  /** Affine permutations for the ngram-jaccard min-gram LSH: 4 bands × 2
    * rows (r = 2). One shared table generates BOTH engines' arithmetic,
    * so the Spark expressions and the DuckDB oracle cannot drift. Gram
    * hashes are < P ≈ 2^30 and a ≤ MIX + 55433 ≈ 2.66e9, so x*a + b
    * ≤ 2.7e18 < 2^63 on both engines.
    *
    * The permuted value is reduced mod P (NOT P61): with x < P the
    * product a*x ≤ 2.7e18 wraps P61 ≈ 2.3e18 at most once, leaving the
    * map near-MONOTONE in x — every "independent" permutation then picks
    * the same minimal gram, bands collide identically, and r = 2 silently
    * degenerates to a single-min match (measured: candidate counts
    * identical to the digit across schemes). Mod P the product wraps
    * ~2.6e9 times, so per-band minima are genuinely independent. */
  private val ngramPerms: IndexedSeq[(Long, Long)] =
    (0 until 8).map(j => (MIX + 7919L * j, 12345L + 999331L * j))

  /** doc_id + 16-permutation MinHash signature, computed ONCE and persisted.
    * The tokenize→shingle→16-permutation chain is the expensive part of every
    * MinHash query; without persistence the band self-join re-derives it
    * twice from the scan. Deliberately SLIM — 16 longs per doc (~128 B), not
    * the shingle arrays: columnar-caching heavy array<long> columns costs
    * more than recomputing them map-side (measured on dedup_ngram_jaccard),
    * while the signature cache is effectively free and saves the worst
    * recompute. Docs with no shingles carry the Long.MaxValue sentinel in
    * every signature slot and are filtered without materializing shingles.
    * `dedup_keep_list` builds the identical logical plan, so Spark's
    * CacheManager serves it the same InMemoryRelation — sharing, not
    * re-running. At 100 TB the same shape holds: materialize the signature
    * table once (cache/temp parquet), derive bands from it, verify from a
    * recomputed map-side shingle projection. */
  private def minhashSigTable(s: SparkSession, dir: String): DataFrame =
    minhashSigOf(Tables.load(s, dir, "documents"))

  /** The signature table over an arbitrary `(doc_id, text)` frame — the
    * composition form (pretrain_prep signs the exact-dedup survivors). */
  private[operators] def minhashSigOf(docs: DataFrame): DataFrame = {
    docs
      .selectExpr("doc_id", "graft_minhash_sig(text) AS sig")
      .filter(s"element_at(sig, 1) != ${Long.MaxValue}L")
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** doc_id → (band, key) rows for an arbitrary (bands × width) split of
    * the 16 lanes — ONE explode definition behind every banding consumer
    * (all three pair emitters AND the bucket-load profiler), so a band
    * retune cannot silently desynchronize the profile from the buckets
    * the emitters actually pair on. */
  private[operators] def bandsOf(sig: DataFrame, nb: Int = 4, w: Int = 4): DataFrame = {
    require(nb * w == 16, s"band split must cover the 16 lanes: $nb x $w")
    sig.selectExpr("doc_id",
        s"explode(transform(sequence(0, ${nb - 1}), b -> struct(b AS band, concat_ws('_', slice(sig, b * $w + 1, $w)) AS key))) AS bk")
      .selectExpr("doc_id", "bk.band AS band", "bk.key AS key")
  }

  /** Banded candidate pairs (doc_a < doc_b) over a signature table for an
    * arbitrary (bands × width) split of the 16 lanes, under one volume
    * policy — the LSH recall knob (minhash_band_sweep measures the
    * alternatives; 4 × 4 is the operating point) composes with the
    * volume knob:
    *  - `All`: the in-bucket self-join, quadratic in bucket occupancy;
    *  - `Star`: every resident against the bucket's canonical (min
    *    doc_id) only — Σ(n − 1), LINEAR in corpus (measured: 16.6 B
    *    all-pairs vs ~20 M star candidates on the K=1000
    *    duplicate-saturated corpus — SCALE.md round 13). The semantic
    *    trade, stated exactly: a doc is dropped iff VERIFIED similar to
    *    one of its band canonicals, so an A~B, B~C, A≁C chain sharing
    *    one bucket keeps C where all-pairs (which emits (B, C)) would
    *    drop it — the keep-first approximation production-scale dedup
    *    pipelines run when clusters are huge; the 4 independent bands
    *    give C four chances to meet a canonical it IS similar to;
    *  - `Capped(cap)`: exactly StreamingNearDup's `maxPerBucket`
    *    semantics in batch — the first `cap` residents of each bucket
    *    (by doc_id, the streaming twin's deterministic arrival order)
    *    pair among themselves AND against every overflow doc; overflow
    *    docs never pair with each other. O(cap·n) at any saturation,
    *    with full all-pairs recall inside the resident set (cap = 1
    *    pairs like star; cap = ∞ like all-pairs). */
  private def bandedCandidates(sig: DataFrame, volume: Volume,
      nb: Int = 4, w: Int = 4): DataFrame =
    BucketPairs(bandsOf(sig, nb, w), Seq("band", "key"), "doc_id", volume).distinct()

  /** The ngram and winnow families' depth tiers: all pairs up to `dfCap`,
    * then the hub (midCap = 1) or the first midCap residents. */
  private def tiered(dfCap: Int, midCap: Int): Volume =
    Tiered(dfCap, Some(if (midCap == 1) Star else Capped(midCap)))

  /** Exact shingle-Jaccard verification (≥ 0.8) of a candidate pair set
    * on the zero-allocation sorted-merge kernel — ONE verify definition
    * behind all three pair emitters (all-pairs / star / capped). */
  private def verifyPairs(sh: DataFrame, cand: DataFrame): DataFrame = {
    val shA = sh.selectExpr("doc_id AS doc_a", "sort_array(sh) AS sh_a")
    val shB = sh.selectExpr("doc_id AS doc_b", "sort_array(sh) AS sh_b")
    cand.join(shA, "doc_a").join(shB, "doc_b")
      .selectExpr("doc_a", "doc_b",
        "graft_sorted_inter(sh_a, sh_b) AS inter", "size(sh_a) AS sa", "size(sh_b) AS sb")
      .selectExpr("doc_a", "doc_b",
        "CAST(inter AS DOUBLE) / (sa + sb - inter) AS jaccard")
      .filter("jaccard >= 0.8")
  }

  /** Verified near-dup pairs of `docs` under one candidate volume
    * policy: the same signature/shingle/Jaccard fragments for every
    * rung, and the (nb × w) band split a parameter so the recall knob
    * composes with the volume knob (a caller who retunes bands keeps
    * the bounded emitter instead of the quadratic all-pairs path). */
  private[graft] def minhashPairsVia(docs: DataFrame, volume: Volume,
      nb: Int = 4, w: Int = 4): DataFrame =
    verifyPairs(shinglesOf(docs), bandedCandidates(minhashSigOf(docs), volume, nb, w))

  /** Verified star near-dup pairs — [[minhashPairsOf]]'s linear twin. */
  private[graft] def minhashPairsStarOf(docs: DataFrame,
      nb: Int = 4, w: Int = 4): DataFrame =
    minhashPairsVia(docs, Star, nb, w)

  /** Verified capped near-dup pairs — [[minhashPairsOf]]'s O(cap·n)
    * variant; both bound knobs (volume: `cap`; recall: `nb × w`). */
  private[graft] def minhashPairsCappedOf(docs: DataFrame,
      cap: Int = DefaultBucketCap, nb: Int = 4, w: Int = 4): DataFrame =
    minhashPairsVia(docs, Capped(cap), nb, w)

  /** DuckDB star-candidate CTE over an arbitrary banding CTE — ONE
    * canonical-min rule for every instantiation (the operating point
    * below AND the sweep's per-config copies). */
  private[operators] def duckStarCandCteOn(bands: String = "bands",
      cand: String = "cand"): String =
    s"""${cand}_canon AS (SELECT band, key, MIN(doc_id) AS doc_a FROM $bands GROUP BY band, key),
       |$cand AS (SELECT DISTINCT c.doc_a, b.doc_id AS doc_b
       |  FROM $bands b JOIN ${cand}_canon c USING (band, key) WHERE b.doc_id > c.doc_a)""".stripMargin

  /** The operating point (expects [[duckBandsCte]]'s `bands`). */
  private[operators] val duckStarCandCte: String = duckStarCandCteOn()

  /** Bucket-occupancy profile of a signature table: ONE linear map +
    * aggregation, never a pair — (n_buckets, max_bucket, cand_pairs
    * where cand_pairs is the pre-distinct volume the all-pairs emitter
    * would pay). The frame behind the dedup_minhash_profile registry
    * entry, factored so [[starRegime]] can profile COMPOSED inputs
    * (pretrain_prep's exact-dedup survivors), not just the raw table. */
  private[operators] def bucketProfileOf(sig: DataFrame,
      cap: Int = DefaultBucketCap, nb: Int = 4, w: Int = 4): DataFrame = {
    bandsOf(sig, nb, w)
      .groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("n")).as("max_bucket"),
        sum(expr("n * (n - 1) div 2")).as("cand_pairs"),
        // what each BOUNDED emitter would pay on the same buckets — the
        // verdict becomes a direct three-way cost comparison, not just a
        // danger flag: star = Σ(n−1); capped = all-pairs below the cap,
        // cap·n − cap(cap+1)/2 above it
        sum(expr("n - 1")).as("cand_pairs_star"),
        sum(expr(s"IF(n <= $cap, n * (n - 1) div 2, " +
          s"$cap * n - $cap * ${cap + 1} div 2)")).as("cand_pairs_capped"))
  }

  /** The adversarial-regime flag: TRUE when the all-pairs emitter's
    * bucket load exceeds the cap — [[emitterPolicy]]'s "not all"
    * verdict (one definition; this is the boolean view the specs pin). */
  private[operators] def starRegime(docs: DataFrame,
      cap: Int = DefaultBucketCap): Boolean =
    emitterPolicy(docs, cap) != All

  /** Default capped-candidate budget for [[emitterPolicy]]'s middle
    * rung, derived from the round-14 decade measurements: 85.4 M capped
    * candidates (salt-100×) verified comfortably on one 32-thread box
    * (65.6 s) while 1.14 B (salt-1000×) exceeded its disk — 200 M sits
    * 2.4× above the measured-good point and 5.7× below the measured
    * death.
    *
    * Cluster sizing formula (the knob is injectable through
    * [[graft.operators.Pretrain.pretrainPrep]]'s `autoCappedBudget`):
    *
    *   budget ≈ Comfortable_per_unit × executor_units
    *
    * where an "executor unit" is the measured shape (32 cores / 128 GiB
    * RAM / local SSD) and Comfortable_per_unit = 85 M candidate pairs —
    * the verified-comfortable single-unit anchor. The cost being
    * budgeted is the verify join's shuffle: each candidate row ships
    * both docs' sorted shingle arrays (~8 B × |sh| each, |sh| ≈ doc
    * tokens), so bytes ≈ budget × 2 × 8 × avg_shingles must fit the
    * cluster's aggregate shuffle-spill capacity with headroom — the
    * single-unit FATAL anchor is 1.14 B rows (71 GB spill, killed), so
    * keep budget / executor_units at least 5× under ~1.1 B. A
    * 1000-executor cluster thus runs budget ≈ 85 B comfortably — the
    * K=1000 decade's 1.14 B capped candidates, fatal on one box, are an
    * ordinary shuffle there. The default (200 M) is the ONE-unit
    * setting this repo benches on. */
  private[operators] val AutoCappedBudget = 200000000L

  /** The MinHash emitter ladder at the default cap, in sweep order. */
  private[graft] val emitterLadder: Seq[Volume] = Seq(All, Capped(DefaultBucketCap), Star)

  /** Profile-gated three-rung emitter choice — the measured ladder
    * (SCALE.md round 14) as one decision function:
    *  - `max_bucket ≤ cap` → `All`: the cap would not bind, the exact
    *    emitter is free (natural corpora — sf0.1 max_bucket 18);
    *  - else if `cand_pairs_capped ≤ cappedBudget` → `Capped(cap)`:
    *    full all-pairs recall inside the resident set at O(cap·n)
    *    volume — measured EXACT drop-set agreement at mid-saturation
    *    where star loses 3.7% of drops and splits clusters;
    *  - else → `Star`: the only linear-volume rung (Σ(n−1)) when even
    *    O(cap·n) is billions of rows (K=1000: capped owes 1.14 B,
    *    star 18.4 M).
    * ONE driver-side profile row (the `cap` used to decide is the cap
    * threaded into the profile's capped-volume estimate, so the verdict
    * prices the emitter the caller will actually run); the persisted
    * sig table is reused from cache by whichever emitter runs. An empty
    * corpus (nothing shingles) profiles as max_bucket 0 → `All`. */
  private[graft] def emitterPolicy(docs: DataFrame,
      cap: Int = DefaultBucketCap,
      cappedBudget: Long = AutoCappedBudget,
      nb: Int = 4, w: Int = 4): Volume = {
    // profile at the SAME (nb × w) split the chosen emitter will band on,
    // so a recall retune reprices the ladder instead of reading 4×4 stats
    val row = bucketProfileOf(minhashSigOf(docs), cap, nb, w).collect()(0)
    def l(c: String): Long =
      Option(row.getAs[java.lang.Long](c)).map(_.longValue).getOrElse(0L)
    if (l("max_bucket") <= cap) All
    else if (l("cand_pairs_capped") <= cappedBudget) Capped(cap)
    else Star
  }

  /** [[emitterPolicy]]'s label: "all", "capped" or "star". */
  private[graft] def chooseEmitter(docs: DataFrame,
      cap: Int = DefaultBucketCap,
      cappedBudget: Long = AutoCappedBudget,
      nb: Int = 4, w: Int = 4): String =
    emitterPolicy(docs, cap, cappedBudget, nb, w).label

  /** DuckDB capped-candidate CTE over an arbitrary banding CTE — ONE
    * rank rule shared with the Spark emitter above, instantiable per
    * band config for the sweep. */
  private[operators] def duckCappedCandCteOn(cap: Int = DefaultBucketCap,
      bands: String = "bands", cand: String = "cand"): String =
    s"""${cand}_rk AS (SELECT doc_id, band, key,
       |    ROW_NUMBER() OVER (PARTITION BY band, key ORDER BY doc_id) AS rk
       |  FROM $bands),
       |$cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ${cand}_rk a JOIN $bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |  WHERE a.rk <= $cap)""".stripMargin

  /** The operating point (expects [[duckBandsCte]]'s `bands`). */
  private[operators] def duckCappedCandCte(cap: Int = DefaultBucketCap): String =
    duckCappedCandCteOn(cap)

  /** The sweep grid minhash_band_sweep measures — the realistic retune
    * range around the 4×4 operating point. (16, 1) is deliberately
    * excluded: width-1 buckets key on a SINGLE min-hash value, whose
    * distribution is skewed toward small hashes (shared common shingles),
    * so its bucket occupancy — and the candidate set — degenerates
    * toward all-pairs on any corpus with shared boilerplate. ONE Scala
    * list drives both engines' sweep SQL AND the grid the containment
    * spec pins (star ⊆ capped ⊆ all-pairs at every point). */
  private[graft] val bandSweepCfgs: Seq[(Int, Int)] = Seq((2, 8), (4, 4), (8, 2))

  /** doc_id + distinct 3-token shingle hashes (guarded for short docs),
    * recomputed map-side per use — cheap native expression, poor cache
    * economics (see [[minhashSigTable]]). */
  private def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.load(s, dir, "documents"))

  /** Shingles over an arbitrary `(doc_id, text)` frame — the composition
    * form (pretrain_prep shingles the eval pool and the dedup
    * survivors). */
  private[operators] def shinglesOf(docs: DataFrame): DataFrame = {
    docs
      .selectExpr("doc_id", "graft_shingles(text) AS sh")
      .filter("size(sh) > 0")
  }

  /** Asymmetric containment (excerpt/quote) detection over `docs` plus a
    * caller-supplied `excerpts` side — both (doc_id, text), doc_ids
    * disjoint. In production the excerpt side is a real quote/excerpt
    * corpus (or the corpus itself, for intra-corpus containment); the
    * `dedup_containment` QueryDef supplies the deterministic fixture pool.
    *
    * Doc A is CONTAINED in doc B when >= 80% of A's informative 8-token
    * windows (df in [2, DepthCap] — boilerplate windows excluded) appear in
    * B, and A is properly smaller (|W(A)| <= 0.8 |W(B)|). Same candidate
    * machinery as dedup_substring: group-by-window-hash with the
    * stop-window cap, one corpus-linear explode, bounded self-join; per-doc
    * window counts come off the same cached frame. */
  def containment(docs: DataFrame, excerpts: DataFrame): DataFrame = {
    val corpus = docs.selectExpr("doc_id", "text")
      .unionAll(excerpts.selectExpr("doc_id", "text"))
    val ex = corpus
      .selectExpr("doc_id", "explode(graft_winhash8(text)) AS h")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val hot = BucketPairs.shallow(ex, Seq("h"), "doc_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // denominators from the UNFILTERED window sets: the df >= 2 cut
    // deletes source-unique windows, which would collapse the excerpt/
    // source size asymmetry (wa == wb) and bias containment to 1.0 for
    // both sides; with true counts the metric is a conservative lower
    // bound (boilerplate windows count against, never for)
    val wc = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("w"))
    val shared = BucketPairs(hot, Seq("h"), "doc_id", All)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    // lazy result — both caches feed the executed plan
    shared
      .join(wc.selectExpr("doc_id AS doc_a", "w AS wa"), "doc_a")
      .join(wc.selectExpr("doc_id AS doc_b", "w AS wb"), "doc_b")
      .filter("least(wa, wb) * 10 <= greatest(wa, wb) * 8")
      .selectExpr(
        "IF(wa <= wb, doc_a, doc_b) AS contained_doc",
        "IF(wa <= wb, doc_b, doc_a) AS container_doc",
        "n_shared",
        "CAST(n_shared AS DOUBLE) / least(wa, wb) AS containment")
      .filter("containment >= 0.8")
      .transform(graft.Sorted.byNames(_, "contained_doc", "container_doc"))
  }

  /** doc_id + 60-bit SimHash, persisted so the block-LSH self-join reads the
    * fingerprint from cache instead of deriving it twice. */
  private[operators] def simhashFp(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents")
      .selectExpr("doc_id", "graft_simhash(text) AS simhash")
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Shingles + 16-lane MinHash signature CTEs ending in `sig(doc_id, sh,
    * sig)` — shared by [[duckPairsCtes]] and Multimodal's b-bit pHash. */
  private[operators] def duckSigCtes: String =
    s"""$duckShingles,
       |${duckSigCte()}""".stripMargin

  /** The signature CTE alone over an arbitrary `(doc_id, sh)` source —
    * pretrain_prep signs the exact-dedup SURVIVORS (the full-corpus `sh`
    * restricted by join), so the sh source is a parameter. ONE lane
    * arithmetic definition for every consumer. */
  private[operators] def duckSigCte(shSrc: String = "sh"): String =
    s"""sig AS (SELECT doc_id, sh, list_transform(range(0, 16), j -> list_min(list_transform(sh,
       |  x -> (x * ($MIX + ${graft.functions.Portable.LANE} * j) + 98765432 + 1234577 * j) % $P61))) AS sig
       |  FROM $shSrc)""".stripMargin

  /** Banding CTE over `sig` for an arbitrary (bands × width) split —
    * the DuckDB twin of [[bandsOf]], ONE definition: a band-count/width
    * retune (the dae9541 class of change) must move every oracle that
    * bands, or a stale copy silently desynchronizes an oracle from the
    * Spark plan it checks. Instantiable under a per-config name for the
    * sweep. */
  private[operators] def duckBandsCteCfg(nb: Int = 4, w: Int = 4,
      name: String = "bands"): String =
    s"""$name AS (SELECT doc_id, b.band AS band,
       |   array_to_string(sig[b.band * $w + 1 : b.band * $w + $w], '_') AS key
       |  FROM sig, (SELECT unnest(range(0, $nb)) AS band) b)""".stripMargin

  /** The 4 × 4 operating point every non-sweep oracle bands on. */
  private[operators] val duckBandsCte: String = duckBandsCteCfg()

  /** In-bucket all-pairs candidates over an arbitrary banding CTE. */
  private[operators] def duckCandCteOn(bands: String = "bands",
      cand: String = "cand"): String =
    s"""$cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM $bands a JOIN $bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin

  /** In-bucket candidate pairs (doc_a < doc_b) from [[duckBandsCte]]. */
  private[operators] val duckCandCte: String = duckCandCteOn()

  /** Shared DuckDB CTE chain ending in `pairs(doc_a, doc_b, jaccard)` — the
    * verified MinHash near-dup pair set; composed by dedup_minhash,
    * dedup_keep_list and Curation.dedup_clusters oracles. */
  private[operators] def duckPairsCtes: String =
    s"""$duckSigCtes,
       |$duckBandsCte,
       |$duckCandCte,
       |pairs AS (SELECT doc_a, doc_b,
       |  ${duckJaccard("   ")} AS jaccard
       |  ${duckVerified("  ", "   ")})""".stripMargin

  /** THE shingle-Jaccard of a candidate pair over `sh` (aliases sa, sb),
    * continuation lines indented by `ind`. */
  private def duckJaccard(ind: String): String =
    s"""CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |$ind/ (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))""".stripMargin

  /** THE verify step every MinHash-pair oracle shares: `cand` pairs
    * joined to their shingle sets and kept at Jaccard >= 0.8 — the
    * DuckDB twin of [[verifyPairs]]. `ind` indents the WHERE line,
    * `cont` the Jaccard continuation. */
  private def duckVerified(ind: String, cont: String): String =
    s"""FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b
       |${ind}WHERE ${duckJaccard(cont)} >= 0.8""".stripMargin

  /** The verified `(doc_a, doc_b, jaccard)` SELECT closing the
    * dedup_minhash, _star and _capped oracles. */
  private lazy val duckJaccardSelect: String =
    s"""SELECT doc_a, doc_b,
       |  ${duckJaccard("   ")} AS jaccard
       |${duckVerified("", "   ")}
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Full-corpus shingle CTE chain `toks -> th -> sh(doc_id, sh)` —
    * private[operators] so the pretrain_prep capstone chain can compose
    * it (restricting by id joins) beside the other fragments. */
  private[operators] val duckShingles: String =
    s"""toks AS (SELECT doc_id,
       |  ${graft.functions.Portable.duckToksSql("text")} AS toks
       |  FROM documents),
       |th AS (SELECT doc_id,
       |  ${graft.functions.Portable.duckHashTokensSql("toks")} AS th
       |  FROM toks),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(th) - 1, 1)),
       |  i -> ((th[i] * 31 + th[i + 1]) % ${P} * 31 + th[i + 2]) % ${P})) AS sh
       |  FROM th WHERE len(th) >= 3)""".stripMargin


  /** The dedup_ngram_jaccard pipeline over an arbitrary
    * `(doc_id, lang, n_chars, text)` frame: the verified
    * `(doc_a, doc_b, jaccard)` pairs; its per-stage candidate volumes
    * are recorded in SCALE.md, "Measured scaling, 1× → 10× corpus".
    * `midCap` selects the deep-bucket (df > DepthCap) pairing tier:
    * 1 = hub pairing (the default, each member witnessed by the bucket
    * min — O(df) per bucket); k > 1 = CAPPED pairing (the
    * dedup_minhash_capped semantics: first k residents by doc_id pair
    * fully and against every member — O(k·df), recovering the
    * resident-resident recall hub pairing trades away; see
    * [[winnowPairs]] for the same knob on the winnow family). */
  private[graft] def ngramPipelineOf(docs: DataFrame,
      midCap: Int = 1): DataFrame = {
      require(midCap >= 1, s"midCap must be >= 1, got $midCap")
      // gram arrays are recomputed per use — the native graft_gram5 is a
      // cheap map-side loop, and columnar-caching the heavy array<long>
      // column measured SLOWER than recomputation (cache build + decode
      // dominate). Candidate generation stays on slim rows.
      val d = docs
        .filter("length(text) >= 5")
        .selectExpr("doc_id", "lang", "n_chars", "graft_gram5(text) AS g")
      // candidate pairs stay slim (ids only) through the dedup shuffle;
      // the heavy gram arrays are joined back only for surviving pairs.
      // Block key = (lang, length band, min-gram LSH) with r = 2
      // banding: each of 4 bands keys on the PAIR of set-minima under
      // two independent affine permutations, OR'd across bands.
      // Collision probability at jaccard j is 1 - (1 - j^2)^4: 93% at
      // the 0.7 threshold (miss 6.8%) — and the reason for r = 2 is
      // candidate VOLUME, the scale knob for verify cost: the old
      // single-min OR-of-2 admitted half of all j = 0.3 pairs
      // (1-(1-j)^2 = 0.51; measured 3.8M size-pruned candidates for
      // 4.5k true pairs on a 500k-doc corpus), while pairing minima
      // drops j = 0.3 admission to 0.31 and j = 0.1 noise to 0.04.
      val sigExprs = ngramPerms.zipWithIndex.map { case ((a, b), j) =>
        s"array_min(transform(g, x -> (x * ${a}L + ${b}L) % ${P}L)) AS mv$j"
      }
      val bandStructs = (0 until 4).map(bq =>
        s"struct(${bq + 1} AS tag, mv${2 * bq} AS mva, mv${2 * bq + 1} AS mvb)").mkString(", ")
      val bucketed = d
        .selectExpr(Seq("doc_id", "lang", "n_chars") ++ sigExprs: _*)
        .selectExpr(Seq("doc_id", "lang") ++ (0 until 8).map(j => s"mv$j") :+
          "explode(array(CAST(n_chars / 100 AS BIGINT), CAST((n_chars + 50) / 100 AS BIGINT))) AS band": _*)
        .selectExpr("doc_id", "lang", "band", s"explode(array($bandStructs)) AS k")
        .selectExpr("doc_id", "lang", "band", "k.tag AS tag", "k.mva AS mva", "k.mvb AS mvb")
        .distinct()
      // Two-tier bucket-depth policy, the min-gram analogue of the
      // substring family's stop-window guard: a globally-small
      // boilerplate gram hash becomes the min of a large doc
      // population, and that one bucket's self-join is df^2/2
      // verify-and-discard work (measured: a corpus whose copies share
      // word-internal grams pushed the verify stage to 208 s at 10x —
      // pure false-positive volume, every candidate below threshold).
      // Buckets of 2..DepthCap docs pair fully; deeper ones pair through
      // the hub (or the first midCap residents), never dropped: a plain
      // drop would be a recall CLIFF — a near-identical cluster of more
      // than DepthCap docs shares ALL its bucket keys (identical minima
      // under every permutation, same length band), so every witness
      // would vanish at once (review find, round 7). Hub pairs keep
      // every member witnessed, while a 10^7-doc boilerplate bucket
      // emits 10^7 candidates, not 10^14. The census, the depth join and
      // the candidate self-join all key on (lang, band, tag, mva, mvb) —
      // one shuffle partitioning, reused.
      val cand = BucketPairs(bucketed, Seq("lang", "band", "tag", "mva", "mvb"), "doc_id",
        tiered(DepthCap, midCap)).distinct()
      // size-compatibility prefilter: jaccard >= 0.7 forces
      // min(|A|,|B|) >= 0.7/1.7*(|A|+|B|), i.e. sizes within ~0.7 ratio —
      // sound pruning, applied on slim rows before shipping gram arrays.
      val sizes = d.selectExpr("doc_id", "size(g) AS sz")
      val pruned = cand
        .join(sizes.selectExpr("doc_id AS doc_a", "sz AS sz_a"), "doc_a")
        .join(sizes.selectExpr("doc_id AS doc_b", "sz AS sz_b"), "doc_b")
        .filter("least(sz_a, sz_b) * 1.7 >= 0.7 * (sz_a + sz_b)")
        .select(col("doc_a"), col("doc_b"))
      // gram hashes are < P < 2^31, so the verify join-back ships them
      // as INT32 — an injective cast that halves the per-pair shuffle
      // bytes (a hot doc's array is replicated into every one of its
      // candidate pairs, so array width is THE verify-cost constant) —
      // and SORTED once per doc, so the per-pair intersection is a
      // zero-allocation merge COUNT (graft_sorted_inter) instead of
      // array_intersect's per-pair hash set + materialized intersection
      // array. gram5 output is distinct by construction, so the distinct
      // count equals set intersection exactly (oracle unchanged).
      val slim = d.selectExpr("doc_id",
        "sort_array(transform(g, x -> CAST(x AS INT))) AS g")
      pruned
        .join(slim.selectExpr("doc_id AS doc_a", "g AS g_a"), "doc_a")
        .join(slim.selectExpr("doc_id AS doc_b", "g AS g_b"), "doc_b")
        .selectExpr("doc_a", "doc_b",
          "graft_sorted_inter(g_a, g_b) AS inter", "size(g_a) AS sa", "size(g_b) AS sb")
        .selectExpr("doc_a", "doc_b",
          "CAST(inter AS DOUBLE) / (sa + sb - inter) AS jaccard")
        .filter("jaccard >= 0.7")
  }

  /** Verified MinHash near-dup pairs (doc_a < doc_b, jaccard >= 0.8)
    * over an arbitrary `(doc_id, text)` frame: persisted slim signature
    * table -> 4x4 banded candidates -> exact shingle-Jaccard verify on
    * the zero-allocation sorted-merge kernel (shingles are distinct by
    * construction, so the merge count equals set intersection exactly).
    * ONE definition behind dedup_minhash, dedup_keep_list (via the
    * registry), and the pretrain_prep near-dedup stage. Band split
    * parameterized like the bounded emitters (default = the 4×4
    * operating point). */
  private[graft] def minhashPairsOf(docs: DataFrame,
      nb: Int = 4, w: Int = 4): DataFrame =
    // persisted slim sig: computed once, shared across consumers via cache
    minhashPairsVia(docs, All, nb, w)

  val defs: ListMap[String, QueryDef] = ListMap(

    // ---- exact dedup: content-hash grouping, canonical = min doc_id -------
    "dedup_exact" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val canon = d.groupBy(graft.functions.Portable.contentDigest.as("digest"))
          .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("group_size"))
        d.select(col("doc_id"), graft.functions.Portable.contentDigest.as("digest"))
          .join(canon, "digest")
          .selectExpr("doc_id", "digest", "canonical_id",
            "CAST(doc_id != canonical_id AS INT) AS is_dup", "group_size")
          .orderBy("doc_id")
      },
      """WITH canon AS (
        |  SELECT md5(text) AS digest, MIN(doc_id) AS canonical_id, COUNT(*) AS group_size
        |  FROM documents GROUP BY 1)
        |SELECT doc_id, md5(text) AS digest, canonical_id,
        |  CAST(doc_id != canonical_id AS INT) AS is_dup, group_size
        |FROM documents JOIN canon ON md5(text) = digest
        |ORDER BY doc_id""".stripMargin),

    // ---- MinHash + LSH near-dup pairs: 16 permutations, 4 bands × 4 rows;
    // candidates share a band, verified by exact shingle Jaccard ≥ 0.8 ------
    "dedup_minhash" -> QueryDef(
      (s, dir) => minhashPairsOf(Tables.load(s, dir, "documents"))
        .transform(graft.Sorted.byNames(_, "doc_a", "doc_b")),
      s"""WITH $duckSigCtes,
         |$duckBandsCte,
         |$duckCandCte
         |$duckJaccardSelect""".stripMargin),

    // ---- canonical-star MinHash pairs: the BOUNDED pair emitter the
    // bucket-load profiler's verdict engages. Candidates are (bucket
    // canonical, resident) — linear in corpus at ANY duplicate-cluster
    // size, where dedup_minhash's in-bucket self-join is quadratic (the
    // K=1000 salted corpus: 16.6 B vs ~20 M candidates). Verified by the
    // SAME verifyPairs / duckJaccardSelect; semantics documented on
    // bandedCandidates (keep-first approximation: chains sharing one
    // bucket may keep a middle-linked doc all-pairs would drop). --------
    "dedup_minhash_star" -> QueryDef(
      (s, dir) => minhashPairsStarOf(Tables.load(s, dir, "documents"))
        .transform(graft.Sorted.byNames(_, "doc_a", "doc_b")),
      s"""WITH $duckSigCtes,
         |$duckBandsCte,
         |$duckStarCandCte
         |$duckJaccardSelect""".stripMargin),

    // ---- capped MinHash pairs: the recall-preserving middle ground the
    // dedup_minhash_profile verdict engages when max_bucket exceeds the
    // cap but full in-resident recall still matters — StreamingNearDup's
    // maxPerBucket semantics in batch (first DefaultBucketCap residents by
    // doc_id pair fully; overflow docs pair against residents only), so
    // per-bucket volume is O(cap·n) at any saturation. cap=1 is the star
    // emitter; cap=∞ is dedup_minhash. Verified by the SAME verifyPairs /
    // duckJaccardSelect. ----------------------------------------------------
    "dedup_minhash_capped" -> QueryDef(
      (s, dir) => minhashPairsCappedOf(Tables.load(s, dir, "documents"))
        .transform(graft.Sorted.byNames(_, "doc_a", "doc_b")),
      s"""WITH $duckSigCtes,
         |$duckBandsCte,
         |${duckCappedCandCte()}
         |$duckJaccardSelect""".stripMargin),

    // ---- LSH bucket-load profiler: the "know before you pay" diagnostic
    // for the pair emitter. bandedCandidates' in-bucket self-join is
    // QUADRATIC in bucket occupancy by construction — fine when buckets
    // track true-duplicate clusters (natural corpora), catastrophic on a
    // duplicate-saturated one (measured, SCALE.md round 13: the K=1000
    // salted corpus puts ~1000 near-twins in every bucket; the capstone's
    // dedup stage then owes billions of candidate rows and the
    // verify-join spill exceeds a single box's disk). This operator
    // computes the exact candidate volume the emitter WOULD pay — one
    // linear map + aggregation, never a pair — so a 100 TB caller
    // profiles bucket skew BEFORE running dedup_minhash and engages a
    // per-bucket cap / canonical-star pairing when max_bucket explodes.
    // cand_pairs is the PRE-distinct per-band sum (the join volume
    // actually paid; the emitter's cross-band distinct only collapses
    // afterwards). -----------------------------------------------------------
    "dedup_minhash_profile" -> QueryDef(
      (s, dir) => bucketProfileOf(minhashSigOf(Tables.load(s, dir, "documents"))),
      s"""WITH $duckSigCtes,
         |$duckBandsCte,
         |occ AS (SELECT band, key, COUNT(*) AS n FROM bands GROUP BY band, key)
         |SELECT COUNT(*) AS n_buckets, CAST(MAX(n) AS BIGINT) AS max_bucket,
         |  CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS cand_pairs,
         |  CAST(SUM(n - 1) AS BIGINT) AS cand_pairs_star,
         |  CAST(SUM(CASE WHEN n <= $DefaultBucketCap THEN n * (n - 1) // 2
         |    ELSE $DefaultBucketCap * n - $DefaultBucketCap * ${DefaultBucketCap + 1} // 2
         |    END) AS BIGINT) AS cand_pairs_capped
         |FROM occ""".stripMargin),

    // ---- SimHash fingerprint per document (60-bit, token-vote) ------------
    "simhash_fingerprint" -> QueryDef(
      (s, dir) => simhashFp(s, dir).orderBy("doc_id"),
      s"""WITH toks AS (SELECT doc_id,
         |  ${graft.functions.Portable.duckToksSql("text")} AS toks
         |  FROM documents),
         |th AS (SELECT doc_id,
         |  ${graft.functions.Portable.duckHashTokensSql("toks")} AS th
         |  FROM toks)
         |SELECT doc_id,
         |  list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 60), b ->
         |    CASE WHEN list_reduce(list_prepend(0::BIGINT, list_transform(th,
         |        t -> CASE WHEN ((t * $MIX) % $P61 >> b) & 1 = 1 THEN 1::BIGINT ELSE -1::BIGINT END)),
         |        (x, y) -> x + y) > 0
         |    THEN (1::BIGINT << b) ELSE 0::BIGINT END)), (x, y) -> x + y) AS simhash
         |FROM th ORDER BY doc_id""".stripMargin),

    // ---- SimHash near-dup pairs: 4×15-bit block LSH, Hamming ≤ 3 ----------
    "dedup_simhash_pairs" -> QueryDef(
      (s, dir) => {
        val fp = simhashFp(s, dir) // persisted: fingerprint computed once
        val blocks = fp.selectExpr("doc_id", "simhash",
          "explode(transform(sequence(0, 3), i -> struct(i AS blk, shiftright(simhash, i * 15) % 32768 AS bkey))) AS b")
          .selectExpr("doc_id", "simhash", "b.blk AS blk", "b.bkey AS bkey")
        blocks.alias("a").join(blocks.alias("b"),
            expr("a.blk = b.blk AND a.bkey = b.bkey AND a.doc_id < b.doc_id"))
          .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b",
            "bit_count(a.simhash ^ b.simhash) AS hamming")
          .distinct()
          .filter("hamming <= 3")
          .transform(graft.Sorted.byNames(_, "doc_a", "doc_b"))
      },
      s"""WITH toks AS (SELECT doc_id,
         |  ${graft.functions.Portable.duckToksSql("text")} AS toks
         |  FROM documents),
         |th AS (SELECT doc_id,
         |  ${graft.functions.Portable.duckHashTokensSql("toks")} AS th
         |  FROM toks),
         |fp AS (SELECT doc_id,
         |  list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 60), b ->
         |    CASE WHEN list_reduce(list_prepend(0::BIGINT, list_transform(th,
         |        t -> CASE WHEN ((t * $MIX) % $P61 >> b) & 1 = 1 THEN 1::BIGINT ELSE -1::BIGINT END)),
         |        (x, y) -> x + y) > 0
         |    THEN (1::BIGINT << b) ELSE 0::BIGINT END)), (x, y) -> x + y) AS simhash
         |  FROM th),
         |blocks AS (SELECT doc_id, simhash, i.blk AS blk, (simhash >> (i.blk * 15)) % 32768 AS bkey
         |  FROM fp, (SELECT unnest(range(0, 4)) AS blk) i)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin),

    // ---- end-to-end dedup decision: drop any doc that near-duplicates a
    // lower-id doc (greedy by id — the classic keep-first policy over the
    // MinHash pair set); corpus shrink factor is the headline dedup metric -
    "dedup_keep_list" -> QueryDef(
      (s, dir) => {
        // Builds the same logical plan as dedup_minhash, so the persisted
        // (doc_id, sh, sig) base is served from cache — shared, not re-run.
        val pairs = defs("dedup_minhash").fn(s, dir) // (doc_a < doc_b, jaccard)
        val drops = pairs.selectExpr("doc_b AS doc_id").distinct()
        Tables.load(s, dir, "documents")
          .join(drops.withColumn("dropped", lit(1)), Seq("doc_id"), "left")
          .selectExpr("doc_id", "CAST(dropped IS NULL AS INT) AS keep")
          .transform(graft.Sorted.byNames(_, "doc_id"))
      },
      s"""WITH $duckSigCtes,
         |$duckBandsCte,
         |$duckCandCte,
         |dup AS (SELECT DISTINCT doc_b AS doc_id
         |  ${duckVerified("  ", "     ")})
         |SELECT d.doc_id, CAST(dup.doc_id IS NULL AS INT) AS keep
         |FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // ---- MinHash sketch calibration: estimated vs exact Jaccard over the
    // banded candidate pairs — the text-side analog of ann_recall_report
    // ("measure the sketch in-engine, don't guess"). Per candidate pair
    // the 16-lane signature agreement gives the estimator est =
    // lanes/16 (per-mille, integer-exact); the exact Jaccard rides the
    // same zero-allocation sorted-merge kernel as the verify stage. At
    // 100 TB this is the calibration report run on a sample before
    // trusting a band/width retune: the pair set is the BANDED candidates
    // (bounded by bucket sizes, never all-pairs) and both signature
    // columns come off the ONE persisted sig table dedup_minhash already
    // materializes — the plans share the cache by construction. -----------
    "minhash_calibration" -> QueryDef(
      (s, dir) => {
        val sig = minhashSigTable(s, dir)
        val sh = shingles(s, dir)
        bandedCandidates(sig, All)
          .join(sig.selectExpr("doc_id AS doc_a", "sig AS sig_a"), "doc_a")
          .join(sig.selectExpr("doc_id AS doc_b", "sig AS sig_b"), "doc_b")
          .join(sh.selectExpr("doc_id AS doc_a", "sort_array(sh) AS sh_a"), "doc_a")
          .join(sh.selectExpr("doc_id AS doc_b", "sort_array(sh) AS sh_b"), "doc_b")
          .selectExpr("doc_a", "doc_b",
            "CAST(aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (a, e) -> a + e) AS BIGINT) AS lanes",
            "CAST(graft_sorted_inter(sh_a, sh_b) AS BIGINT) AS inter",
            "CAST(size(sh_a) AS BIGINT) AS na", "CAST(size(sh_b) AS BIGINT) AS nb")
          .selectExpr("doc_a", "doc_b", "lanes",
            "(lanes * 1000L) div 16 AS est_mille",
            "(inter * 1000L) div (na + nb - inter) AS exact_mille")
          .selectExpr("doc_a", "doc_b", "lanes", "est_mille", "exact_mille",
            "abs(est_mille - exact_mille) AS err_mille")
          .transform(graft.Sorted.byNames(_, "doc_a", "doc_b"))
      },
      s"""WITH $duckSigCtes,
         |$duckBandsCte,
         |$duckCandCte,
         |j AS (SELECT doc_a, doc_b,
         |    CAST(list_sum(list_transform(range(1, 17),
         |      li -> CASE WHEN sa.sig[li] = sb.sig[li] THEN 1 ELSE 0 END)) AS BIGINT) AS lanes,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
         |    CAST(len(sa.sh) AS BIGINT) AS na, CAST(len(sb.sh) AS BIGINT) AS nb
         |  FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, lanes,
         |  (lanes * 1000) // 16 AS est_mille,
         |  (inter * 1000) // (na + nb - inter) AS exact_mille,
         |  abs((lanes * 1000) // 16 - (inter * 1000) // (na + nb - inter)) AS err_mille
         |FROM j ORDER BY doc_a, doc_b""".stripMargin),

    // ---- LSH band-shape × emitter sweep: candidate volume + estimated-
    // similarity profile at each realistic (bands × width) split of the
    // 16 lanes, FOR EACH of the three pair emitters (all-pairs / capped
    // / star) — the retune report run BEFORE committing a band change on
    // a 100 TB corpus. More bands/narrower keys = higher recall but more
    // candidates, and the VOLUME knob must stay available at any recall
    // setting: the sweep prices the full (recall × volume) grid on the
    // corpus itself, so retuning bands never forces the caller back to
    // the quadratic emitter (round-14 verdict gap, closed). Per config:
    // banded candidates off the ONE persisted sig table (shared by every
    // config/emitter AND dedup_minhash via the cache), lane-agreement
    // per pair, then a 1-row aggregate — 9 rows total leave the final
    // stage. All per-mille arithmetic is integer floor-division,
    // engine-identical; the per-config DuckDB CTEs instantiate the SAME
    // banding/star/capped rules as the operating point (duckBandsCteCfg
    // / duckStarCandCteOn / duckCappedCandCteOn — one definition each). -
    "minhash_band_sweep" -> QueryDef(
      (s, dir) => {
        val sig = minhashSigTable(s, dir)
        (for { (nb, w) <- bandSweepCfgs; v <- emitterLadder } yield {
          bandedCandidates(sig, v, nb, w)
            .join(sig.selectExpr("doc_id AS doc_a", "sig AS sig_a"), "doc_a")
            .join(sig.selectExpr("doc_id AS doc_b", "sig AS sig_b"), "doc_b")
            .selectExpr(
              "CAST(aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (a, e) -> a + e) AS BIGINT) AS lanes")
            .agg(count(lit(1)).as("n_candidates"),
              coalesce(sum(expr("(lanes * 1000L) div 16")), lit(0L)).as("sum_est"),
              coalesce(sum(expr("IF((lanes * 1000L) div 16 >= 500, 1L, 0L)")), lit(0L)).as("n_est_ge_500"))
            .selectExpr(s"CAST($nb AS BIGINT) AS bands", s"CAST($w AS BIGINT) AS width",
              s"'${v.label}' AS emitter", "n_candidates",
              "IF(n_candidates = 0, 0L, sum_est div n_candidates) AS mean_est_mille",
              "n_est_ge_500")
        }).reduce(_.union(_)).transform(graft.Sorted.byNames(_, "bands", "emitter"))
      },
      s"""WITH $duckSigCtes,
         |${bandSweepCfgs.map { case (nb, w) =>
             val cands = emitterLadder.map(v => (v.label, v match {
               case Capped(cap) => duckCappedCandCteOn(cap, s"bands_$nb", s"cand_capped_$nb")
               case Star => duckStarCandCteOn(s"bands_$nb", s"cand_star_$nb")
               case _ => duckCandCteOn(s"bands_$nb", s"cand_all_$nb")
             }))
             (Seq(duckBandsCteCfg(nb, w, s"bands_$nb")) ++ cands.map(_._2) ++
               cands.map { case (em, _) =>
                 s"""l_${em}_$nb AS (SELECT CAST(list_sum(list_transform(range(1, 17),
                    |      li -> CASE WHEN sa.sig[li] = sb.sig[li] THEN 1 ELSE 0 END)) AS BIGINT) AS lanes
                    |  FROM cand_${em}_$nb JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b),
                    |r_${em}_$nb AS (SELECT CAST($nb AS BIGINT) AS bands, CAST($w AS BIGINT) AS width,
                    |    '$em' AS emitter, COUNT(*) AS n_candidates,
                    |    COALESCE(CAST(SUM((lanes * 1000) // 16) AS BIGINT), 0) AS sum_est,
                    |    COALESCE(CAST(SUM(CASE WHEN (lanes * 1000) // 16 >= 500 THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_est_ge_500
                    |  FROM l_${em}_$nb)""".stripMargin
               }).mkString(",\n")
           }.mkString(",\n")}
         |SELECT bands, width, emitter, n_candidates,
         |  CASE WHEN n_candidates = 0 THEN 0 ELSE sum_est // n_candidates END AS mean_est_mille,
         |  n_est_ge_500
         |FROM (${(for { (nb, _) <- bandSweepCfgs; v <- emitterLadder }
             yield s"SELECT * FROM r_${v.label}_$nb").mkString(" UNION ALL ")})
         |ORDER BY bands, emitter""".stripMargin),

    // ---- char-5-gram Jaccard near-dups with (lang, length-band) blocking --
    "dedup_ngram_jaccard" -> QueryDef(
      (s, dir) => {
        ngramPipelineOf(Tables.load(s, dir, "documents"))
          .transform(graft.Sorted.byNames(_, "doc_a", "doc_b"))
      },
      s"""WITH d AS (SELECT doc_id, lang, n_chars,
         |  list_transform(range(1, length(lower(text)) + 1), i -> ascii(substr(lower(text), i, 1))::BIGINT) AS ch
         |  FROM documents WHERE length(lower(text)) >= 5),
         |g AS (SELECT doc_id, lang, n_chars,
         |  list_distinct(list_transform(range(1, len(ch) - 3),
         |   i -> ((((ch[i] * 31 + ch[i + 1]) % $P * 31 + ch[i + 2]) % $P * 31
         |     + ch[i + 3]) % $P * 31 + ch[i + 4]) % $P)) AS g
         |  FROM d),
         |b1 AS (SELECT doc_id, lang, g, unnest([n_chars // 100, (n_chars + 50) // 100]) AS band
         |  FROM g),
         |b2 AS (SELECT doc_id, lang, band, unnest([
         |   ${(0 until 4).map { bq =>
              val (a1, c1) = ngramPerms(2 * bq); val (a2, c2) = ngramPerms(2 * bq + 1)
              s"{'tag': ${bq + 1}, " +
                s"'mva': list_min(list_transform(g, x -> (x * $a1 + $c1) % $P)), " +
                s"'mvb': list_min(list_transform(g, x -> (x * $a2 + $c2) % $P))}"
            }.mkString(",\n   ")}]) AS k
         |  FROM b1),
         |bucketed AS (SELECT DISTINCT doc_id, lang, band,
         |  k.tag AS tag, k.mva AS mva, k.mvb AS mvb FROM b2),
         |bc AS (SELECT lang, band, tag, mva, mvb, count(*) AS df, min(doc_id) AS hub
         |  FROM bucketed GROUP BY lang, band, tag, mva, mvb),
         |capped AS (SELECT b.* FROM bucketed b
         |  JOIN (SELECT lang, band, tag, mva, mvb FROM bc WHERE df BETWEEN 2 AND $DepthCap)
         |  USING (lang, band, tag, mva, mvb)),
         |cand AS (SELECT DISTINCT doc_a, doc_b, ga.g AS g_a, gb.g AS g_b FROM (
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |    FROM capped a JOIN capped b
         |      ON a.lang = b.lang AND a.band = b.band AND a.tag = b.tag
         |     AND a.mva = b.mva AND a.mvb = b.mvb
         |     AND a.doc_id < b.doc_id
         |    UNION
         |    SELECT c.hub AS doc_a, b.doc_id AS doc_b
         |    FROM bucketed b
         |    JOIN (SELECT * FROM bc WHERE df > $DepthCap) c
         |      USING (lang, band, tag, mva, mvb)
         |    WHERE b.doc_id != c.hub)
         |  JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b)
         |SELECT doc_a, doc_b,
         |  CAST(len(list_intersect(g_a, g_b)) AS DOUBLE)
         |   / (len(g_a) + len(g_b) - len(list_intersect(g_a, g_b))) AS jaccard
         |FROM cand
         |WHERE CAST(len(list_intersect(g_a, g_b)) AS DOUBLE)
         |   / (len(g_a) + len(g_b) - len(list_intersect(g_a, g_b))) >= 0.7
         |ORDER BY doc_a, doc_b""".stripMargin),

    // ---- exact-substring dedup (Lee et al. "Deduplicating Training Data"
    // shape): two docs are substring-duplicates when they share ANY exact
    // 8-token span. Span identity = rolling 8-token window hash
    // (graft_winhash8, native codegen'd); candidate generation is
    // group-by-window-hash, NOT all-pairs. Two scale guards on the window
    // frequency: df >= 2 keeps only windows that can witness a pair at
    // all, and df <= DepthCap drops boilerplate windows whose bucket would fan
    // out quadratically (the standard stop-window cap — at 100 TB a
    // navigation header shared by 10^7 docs must not emit 10^14 pairs;
    // pairs lost to the cap are re-witnessed by their rarer neighbors).
    // Cost: one corpus-linear explode, one count by hash, one bounded
    // (<= df^2/2 per bucket) self-join. ------------------------------------
    "dedup_substring" -> QueryDef(
      (s, dir) => {
        // distinct within doc by construction (LinkedHashSet in the expr)
        val ex = Tables.load(s, dir, "documents")
          .selectExpr("doc_id", "explode(graft_winhash8(text)) AS h")
          .persist(StorageLevel.MEMORY_AND_DISK)
        // NO unpersist here: the returned frame is lazy, so dropping the
        // cache now would make the df-filter and both join sides re-derive
        // the explode at execution. The harness clears cache per query.
        BucketPairs(ex, Seq("h"), "doc_id", Tiered(DepthCap, None))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_shared"))
          .transform(graft.Sorted.byNames(_, "doc_a", "doc_b"))
      },
      s"""WITH toks AS (SELECT doc_id,
         |  ${graft.functions.Portable.duckToksSql("text")} AS toks
         |  FROM documents),
         |th AS (SELECT doc_id,
         |  ${graft.functions.Portable.duckHashTokensSql("toks")} AS th
         |  FROM toks),
         |wins AS (SELECT doc_id, list_distinct(list_transform(range(1, len(th) - 6),
         |  i -> list_reduce(list_prepend(0::BIGINT, th[i:i+7]), (h, x) -> (h * 31 + x) % $P))) AS w
         |  FROM th WHERE len(th) >= 8),
         |ex AS (SELECT doc_id, unnest(w) AS h FROM wins),
         |df AS (SELECT h FROM ex GROUP BY h HAVING COUNT(*) BETWEEN 2 AND $DepthCap)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
         |FROM ex a JOIN df USING (h) JOIN ex b USING (h)
         |WHERE a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin),

    // ---- asymmetric containment dedup (excerpt/quote detection): doc A is
    // CONTAINED in doc B when >= 80% of A's informative 8-token windows
    // (df ∈ [2, DepthCap] — boilerplate windows excluded from numerator AND
    // denominator) also appear in B, and A is properly smaller
    // (|W(A)| <= 0.8 |W(B)|), so near-dups stay dedup_minhash's business
    // and this op reports true excerpts. Jaccard misses these pairs by
    // construction (an excerpt in a 100× larger doc has jaccard ~0.01).
    // The fixture's near-dups are all FULL salted copies (verified: every
    // containment>=0.8 pair is similar-size), so the wrapper below feeds
    // [[containment]] a deterministic excerpt pool — docs with
    // doc_id % 37 == 0 donate a 300-char middle slice as doc_id + 10^7
    // (the decontaminate_overlap stand-in precedent; in production the
    // caller passes a real excerpt corpus, or the corpus itself). The 0.8
    // threshold absorbs the <= 2 boundary windows a mid-token slice
    // mints. ----------------------------------------------------------------
    "dedup_containment" -> QueryDef(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        // the synthetic excerpt pool lives HERE in the fixture wrapper,
        // not in the operator: containment() takes the excerpt side as a
        // DataFrame, so a real deployment passes its actual excerpt/quote
        // corpus (or the corpus itself) without touching the operator
        containment(docs.selectExpr("doc_id", "text"),
          docs.filter("doc_id % 37 = 0 AND n_chars >= 400")
            .selectExpr("doc_id + 10000000 AS doc_id", "substring(text, 101, 300) AS text"))
      },
      s"""WITH corpus AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 10000000, substr(text, 101, 300)
         |  FROM documents WHERE doc_id % 37 = 0 AND n_chars >= 400),
         |toks AS (SELECT doc_id,
         |  ${graft.functions.Portable.duckToksSql("text")} AS toks
         |  FROM corpus),
         |th AS (SELECT doc_id,
         |  ${graft.functions.Portable.duckHashTokensSql("toks")} AS th
         |  FROM toks),
         |wins AS (SELECT doc_id, list_distinct(list_transform(range(1, len(th) - 6),
         |  i -> list_reduce(list_prepend(0::BIGINT, th[i:i+7]), (h, x) -> (h * 31 + x) % $P))) AS w
         |  FROM th WHERE len(th) >= 8),
         |ex AS (SELECT doc_id, unnest(w) AS h FROM wins),
         |hot AS (SELECT ex.doc_id, ex.h FROM ex
         |  JOIN (SELECT h FROM ex GROUP BY h HAVING COUNT(*) BETWEEN 2 AND $DepthCap) df USING (h)),
         |wc AS (SELECT doc_id, COUNT(*) AS w FROM ex GROUP BY doc_id),
         |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
         |  FROM hot a JOIN hot b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sized AS (SELECT doc_a, doc_b, n_shared, ca.w AS wa, cb.w AS wb
         |  FROM shared JOIN wc ca ON ca.doc_id = doc_a JOIN wc cb ON cb.doc_id = doc_b
         |  WHERE least(ca.w, cb.w) * 10 <= greatest(ca.w, cb.w) * 8)
         |SELECT CASE WHEN wa <= wb THEN doc_a ELSE doc_b END AS contained_doc,
         |  CASE WHEN wa <= wb THEN doc_b ELSE doc_a END AS container_doc,
         |  n_shared,
         |  CAST(n_shared AS DOUBLE) / least(wa, wb) AS containment
         |FROM sized
         |WHERE CAST(n_shared AS DOUBLE) / least(wa, wb) >= 0.8
         |ORDER BY contained_doc, container_doc""".stripMargin),

    // ---- benchmark decontamination: flag training docs sharing >= 3
    // distinct 3-token shingles with a held-out evaluation pool (stand-in
    // pool: doc_id % 97 == 0, ~1% of the corpus — in production the pool is
    // the benchmark suite's n-grams). The scale shape is the point: the
    // pool's distinct shingle set is benchmark-sized (millions of grams,
    // not corpus-sized), so it BROADCASTS, and the corpus side is one
    // map-side explode + broadcast-hash-join + partial/final count — no
    // shuffle of corpus text, linear in corpus size. ------------------------
    "decontaminate_overlap" -> QueryDef(
      (s, dir) => {
        val sh = shingles(s, dir)
        val bench = sh.filter(col("doc_id") % 97 === 0)
          .select(explode(col("sh")).as("g")).distinct()
        val train = sh.filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"), explode(col("sh")).as("g"))
        train.join(broadcast(bench), "g")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
          .filter(col("n_overlap") >= 3)
          .orderBy("doc_id")
      },
      s"""WITH $duckShingles,
         |bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0),
         |train AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 97 <> 0)
         |SELECT doc_id, COUNT(*) AS n_overlap
         |FROM train JOIN bench USING (g)
         |GROUP BY doc_id HAVING COUNT(*) >= 3 ORDER BY doc_id""".stripMargin),

    // ---- verbatim memorization spans: decontaminate_overlap counts how
    // MANY distinct shingles a doc shares with the eval pool; the
    // memorization audit (Lee et al. 2022, Carlini et al. 2023) asks how
    // LONG the shared runs are — a benchmark answer leaked verbatim is a
    // contiguous span, not a bag of grams. For each eval-pool doc: its
    // k-token windows in position order, flagged present-in-training,
    // folded into maximal CONSECUTIVE runs (islands: pos − row_number);
    // max_span_tokens = longest run + k − 1 is the longest verbatim
    // training substring, n_spans counts runs ≥ minRun windows. Scale
    // shape: the eval pool is BENCHMARK-sized, so its gram set broadcasts
    // INTO the one training-corpus scan (map-side semi filter — the
    // decontaminate shape); the surviving matched-gram stream is
    // eval-bounded before its distinct; matched grams broadcast back to
    // the eval positions; the islands window partitions by EVAL doc
    // (bounded by doc length). The corpus never shuffles. -------------------
    // The eval pool below is the % 97 stand-in benchmark PLUS deterministic
    // leaked excerpts — 200-char middle slices of training docs (donors
    // % 53, excluded from the % 97 pool so every donor stays in training)
    // re-keyed to doc_id + 2·10⁷: the containment-fixture precedent. The
    // slices ARE the memorization signal (interior windows match the donor
    // verbatim, so max_span ≈ the slice's token count), while the % 97
    // docs pin the near-zero background. In production the caller passes
    // the real benchmark corpus as `evalDocs`.
    "memorization_spans" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val evalPool = d.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id"), col("text"))
          .unionAll(d
            .filter("doc_id % 53 = 0 AND doc_id % 97 <> 0 AND n_chars >= 300")
            .selectExpr("doc_id + 20000000 AS doc_id",
              "substring(text, 51, 200) AS text"))
        memorizationSpans(
          d.filter(col("doc_id") % 97 =!= 0).select(col("doc_id"), col("text")),
          evalPool)
      },
      s"""WITH corpus AS (
         |  SELECT doc_id, text, FALSE AS is_eval FROM documents WHERE doc_id % 97 <> 0
         |  UNION ALL
         |  SELECT doc_id, text, TRUE FROM documents WHERE doc_id % 97 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000000, substr(text, 51, 200), TRUE FROM documents
         |  WHERE doc_id % 53 = 0 AND doc_id % 97 <> 0 AND n_chars >= 300),
         |toks AS (SELECT doc_id, is_eval,
         |  ${graft.functions.Portable.duckToksSql("text")} AS toks
         |  FROM corpus),
         |th AS (SELECT doc_id, is_eval,
         |  ${graft.functions.Portable.duckHashTokensSql("toks")} AS th
         |  FROM toks),
         |ei AS (SELECT doc_id, is_eval, unnest(range(5, len(th) + 1)) AS i, th
         |  FROM th WHERE len(th) >= 5),
         |ev AS (SELECT doc_id, is_eval, i - 4 AS pos,
         |    list_reduce(list_prepend(0::BIGINT, th[i-4:i]), (h, x) -> (h * 31 + x) % $P) AS g
         |  FROM ei),
         |e AS (SELECT * FROM ev WHERE is_eval),
         |tg AS (SELECT DISTINCT g FROM ev WHERE NOT is_eval),
         |mg AS (SELECT DISTINCT ee.g FROM (SELECT DISTINCT g FROM e) ee
         |  JOIN tg USING (g)),
         |mh AS (SELECT e.doc_id, e.pos FROM e JOIN mg ON e.g = mg.g),
         |runs AS (SELECT doc_id, pos,
         |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rid
         |  FROM mh),
         |rl AS (SELECT doc_id, rid, COUNT(*) AS len FROM runs GROUP BY 1, 2),
         |sp AS (SELECT doc_id, MAX(len) AS max_run,
         |    SUM(CAST(len >= 3 AS INT))::BIGINT AS n_spans,
         |    SUM(len)::BIGINT AS n_matched
         |  FROM rl GROUP BY doc_id),
         |tot AS (SELECT doc_id, COUNT(*) AS n_windows FROM e GROUP BY doc_id)
         |SELECT tot.doc_id, n_windows, COALESCE(n_matched, 0) AS n_matched,
         |  CASE WHEN max_run IS NULL THEN 0 ELSE max_run + 4 END AS max_span_tokens,
         |  COALESCE(n_spans, 0) AS n_spans
         |FROM tot LEFT JOIN sp USING (doc_id) ORDER BY doc_id""".stripMargin),

    // ---- incremental dedup: the PRODUCTION shape of deduplication — a new
    // ingest batch (doc_id % 10 = 0 here) deduped AGAINST the historical
    // corpus, not all-pairs within it. Exact layer: flag-join on content
    // digest (a shuffle join — the historical digest set does not broadcast
    // at 100 TB; a Bloom prefilter, bloom_membership's shape, would cut the
    // shuffled batch side first). Near layer: the same MinHash 4×4 banding
    // as dedup_minhash but ONE-SIDED (batch bands ⋈ historical bands), so
    // candidate count tracks the batch size, not the corpus pair space;
    // verification computes exact shingle Jaccard only for colliding
    // candidates. Per batch doc: exact_dup / near_dup / keep flags. -------
    "dedup_incremental" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val histDig = d.filter(col("doc_id") % 10 =!= 0)
          .select(graft.functions.Portable.contentDigest.as("digest")).distinct()
        val exact = d.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), graft.functions.Portable.contentDigest.as("digest"))
          .join(histDig.withColumn("hit", lit(1)), Seq("digest"), "left")
          .select(col("doc_id"), coalesce(col("hit"), lit(0)).as("exact_dup"))
        val bands = bandsOf(minhashSigTable(s, dir)) // persisted slim sig, shared plan
        val cand = bands.filter(col("doc_id") % 10 === 0).alias("a")
          .join(bands.filter(col("doc_id") % 10 =!= 0).alias("b"),
            expr("a.band = b.band AND a.key = b.key"))
          .selectExpr("a.doc_id AS b_id", "b.doc_id AS h_id").distinct()
        val sh = shingles(s, dir)
        val near = cand
          .join(sh.selectExpr("doc_id AS b_id", "sort_array(sh) AS sh_a"), "b_id")
          .join(sh.selectExpr("doc_id AS h_id", "sort_array(sh) AS sh_b"), "h_id")
          .selectExpr("b_id",
            "graft_sorted_inter(sh_a, sh_b) AS inter", "size(sh_a) AS sa", "size(sh_b) AS sb")
          .filter("CAST(inter AS DOUBLE) / (sa + sb - inter) >= 0.8")
          .select(col("b_id")).distinct()
          .withColumn("near_dup", lit(1))
        exact.join(near, exact("doc_id") === near("b_id"), "left")
          .select(exact("doc_id"), col("exact_dup"),
            coalesce(col("near_dup"), lit(0)).as("near_dup"))
          .withColumn("keep",
            (col("exact_dup") === 0 && col("near_dup") === 0).cast("int"))
          .transform(graft.Sorted.byNames(_, "doc_id"))
      },
      s"""WITH $duckSigCtes,
         |$duckBandsCte,
         |cand AS (SELECT DISTINCT a.doc_id AS b_id, b.doc_id AS h_id
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
         |near AS (SELECT b_id, 1 AS near_dup
         |  FROM cand JOIN sh sa ON sa.doc_id = b_id JOIN sh sb ON sb.doc_id = h_id
         |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |   / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.8
         |  GROUP BY b_id),
         |hd AS (SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id % 10 <> 0),
         |ex AS (SELECT doc_id,
         |    CASE WHEN hd.digest IS NOT NULL THEN 1 ELSE 0 END AS exact_dup
         |  FROM (SELECT doc_id, md5(text) AS digest FROM documents WHERE doc_id % 10 = 0) b
         |  LEFT JOIN hd USING (digest))
         |SELECT e.doc_id, e.exact_dup, COALESCE(n.near_dup, 0) AS near_dup,
         |  CAST(e.exact_dup = 0 AND COALESCE(n.near_dup, 0) = 0 AS INT) AS keep
         |FROM ex e LEFT JOIN near n ON n.b_id = e.doc_id
         |ORDER BY e.doc_id""".stripMargin),

    // ---- Bloom-filter membership probe: the sketch form of the pool
    // broadcast above — when even the pool's digest set is too big to ship
    // raw (a billion-document blocklist), a Bloom filter at 1% fpp is
    // ~1.2 GB/1e9 keys and broadcasts where the exact set cannot. Built
    // entirely inside the engine: Spark's own runtime-filter
    // BloomFilterAggregate (surfaced as graft_bloom_agg) assembles the
    // sketch in a scalar subquery — partial per-partition filters OR-merged
    // at the final agg, exactly how InjectRuntimeFilter builds its own —
    // and the probe side is the codegen'd BloomFilterMightContain
    // predicate. No Scala UDF, no driver-side `stat.bloomFilter` collect,
    // and no sizing `count()` job: a production blocklist's cardinality is
    // known a priori (it IS the shipped blocklist), so capacity is a
    // provisioned parameter, not a measurement. The per-row might_contain
    // bits are sketch-internal (not portable), so the oracle checks the
    // sketch's DETERMINISTIC guarantees instead: exact corpus/pool counts,
    // ZERO false negatives (a Bloom filter never misses a true member),
    // and a false-positive count under 5x the configured 1% fpp. Same
    // style as approx_distinct's HLL check — the sketch IS verified, not
    // just row-counted. -----------------------------------------------------
    "bloom_membership" -> QueryDef(
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .withColumn("digest", graft.functions.Portable.contentDigest)
          .createOrReplaceTempView("graft_bloom_docs")
        // capacity 2^17 keys at ~1% fpp -> n * ln(0.01)/ln(2)^2 = 9.59
        // bits/key, rounded up for headroom (well under Spark's
        // runtime-filter maxNumBits cap). xxhash64 maps NULL to the seed
        // rather than to NULL, so null digests are excluded explicitly on
        // BOTH sides — a null-text pool doc is absent from the filter, and
        // a null-text probe doc is never a member — preserving the
        // oracle's zero-false-negative guarantee.
        s.sql(
          """WITH pool AS (SELECT xxhash64(digest) AS h FROM graft_bloom_docs
            |  WHERE doc_id % 97 = 0 AND digest IS NOT NULL),
            |probed AS (SELECT
            |    CAST(doc_id % 97 = 0 AND digest IS NOT NULL AS INT) AS in_pool,
            |    CAST(digest IS NOT NULL AND graft_might_contain(
            |      (SELECT graft_bloom_agg(h, 131072L, 1300000L) FROM pool),
            |      xxhash64(digest)) AS INT) AS bloom_hit
            |  FROM graft_bloom_docs)
            |SELECT COUNT(*) AS n_docs,
            |  CAST(COALESCE(SUM(in_pool), 0) AS BIGINT) AS n_true_members,
            |  CAST(COALESCE(SUM(CAST(in_pool = 1 AND bloom_hit = 0 AS INT)), 0) AS BIGINT) AS false_negatives,
            |  CAST(COALESCE(SUM(CAST(in_pool = 0 AND bloom_hit = 1 AS INT)), 0) <= 0.05 * COUNT(*) AS INT) AS fp_ok
            |FROM probed""".stripMargin)
      },
      """SELECT COUNT(*) AS n_docs,
        |  CAST(COALESCE(SUM(CAST(doc_id % 97 = 0 AND text IS NOT NULL AS INT)), 0) AS BIGINT) AS n_true_members,
        |  CAST(0 AS BIGINT) AS false_negatives,
        |  1 AS fp_ok
        |FROM documents""".stripMargin),

    // ---- winnowing fingerprints + overlap pairs (Schleimer, Wilkerson
    // & Aiken, SIGMOD 2003 — the MOSS algorithm): per doc, hash every
    // token 3-gram, slide a w = 4 window over the hash sequence and
    // select the RIGHTMOST minimum of each window; the selected
    // (pos, hash) set is the fingerprint. The guarantee the
    // rolling-prefix doc_fingerprint can't give: any shared run of
    // >= w + k - 1 = 6 tokens is caught by at least one shared
    // fingerprint, at expected density 2/(w+1) of positions — LOCAL
    // document fingerprinting, robust to reordering and partial overlap
    // where whole-doc hashes see nothing. Selection is pure map-side
    // higher-order-function work over the ONE native token-hash array
    // (O(len) per doc — see winnowSelect for why NOT char grams);
    // the only corpus-volume shuffle is the fingerprint hash-group, and
    // pairing rides the ngram-jaccard two-tier bucket policy (df <= DepthCap
    // full in-bucket pairing, hub pairing beyond) so a boilerplate
    // fingerprint can never go quadratic. ---------------------------------
    "dedup_winnow" -> QueryDef(
      (s, dir) => {
        winnowPairs(Tables.load(s, dir, "documents"))
      },
      duckWinnowSql()),

    // ---- winnowing with the CAPPED deep tier: the MinHash emitter
    // ladder's middle rung applied to the fingerprint family — deep
    // (df > dfCap) buckets pair their first midCap residents fully and
    // against every member instead of hub-only, recovering the
    // resident-resident witnesses hub pairing trades away at O(midCap·df)
    // per bucket. dfCap is LOWERED here (DepthCap → 3) so the deep tier — and
    // therefore the capped rank rule — actually ENGAGES on the natural
    // sf0.01 gate fixture (max fingerprint df there is 7; 147 buckets sit
    // past 3), making this a real cross-engine check of the tier, not a
    // hash-equal twin of dedup_winnow. WinnowCappedSpec pins hub ⊆
    // capped ⊆ full containment on a saturated fixture. ---------------------
    "dedup_winnow_capped" -> QueryDef(
      (s, dir) => {
        winnowPairs(Tables.load(s, dir, "documents"), dfCap = 3, midCap = 4)
      },
      duckWinnowSql(dfCap = 3, midCap = 4)),

    // ---- edit-distance near-dup with record-linkage blocking (the
    // Fellegi–Sunter blocking shape): candidates from a cheap block key
    // (lang, FIRST TOKEN, overlapping length band), verified by exact
    // Levenshtein — the character-level complement to the set-based
    // families: token-set jaccard is blind to ORDER (a shuffled
    // boilerplate page scores 1.0) while edit similarity is exactly the
    // per-character rewrite cost a plagiarism/revision detector wants.
    // Both engines run their built-in levenshtein (unit-cost DP — same
    // definition) on candidates only. Two sound prunes precede the
    // O(len²) DP: the block join itself, and |len_a − len_b| ≤
    // (1000−simPm)/1000 · max_len (length difference lower-bounds edit
    // distance), applied on slim rows BEFORE any text ships. Blocks ride
    // the ngram-jaccard two-tier depth policy (df ≤ DepthCap full in-bucket
    // pairing, hub pairing beyond) so a boilerplate first token can
    // never go quadratic. Production note at 100 TB: swap the full DP
    // for the threshold-banded variant (levenshtein(a, b, k) — O(len·k))
    // once simPm fixes k; the full DP here keeps the oracle contract
    // engine-identical. First-token blocking misses near-dups whose
    // leading token differs — the standard blocking tradeoff; add a
    // second blocking pass (e.g. last token) to tighten recall. ----------
    "dedup_edit_blocked" -> QueryDef(
      (s, dir) => editBlockedPairs(Tables.load(s, dir, "documents")),
      s"""WITH d2 AS (SELECT doc_id, lang, text, length(text) AS len,
         |    ${graft.functions.Portable.duckToksSql("text")}[1] AS tok1
         |  FROM documents
         |  WHERE text IS NOT NULL
         |    AND len(${graft.functions.Portable.duckToksSql("text")}) >= 1),
         |blocks AS (SELECT DISTINCT doc_id, lang, tok1, band FROM
         |  (SELECT doc_id, lang, tok1,
         |     unnest([len // 100, (len + 50) // 100]) AS band FROM d2)),
         |depth AS (SELECT lang, tok1, band, COUNT(*) AS df,
         |    MIN(doc_id) AS hub
         |  FROM blocks GROUP BY 1, 2, 3),
         |self_pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM blocks a
         |  JOIN blocks b ON a.lang = b.lang AND a.tok1 = b.tok1
         |    AND a.band = b.band AND a.doc_id < b.doc_id
         |  JOIN depth t ON t.lang = a.lang AND t.tok1 = a.tok1
         |    AND t.band = a.band
         |  WHERE t.df BETWEEN 2 AND $DepthCap),
         |hub_pairs AS (SELECT t.hub AS doc_a, f.doc_id AS doc_b
         |  FROM blocks f JOIN depth t USING (lang, tok1, band)
         |  WHERE t.df > $DepthCap AND f.doc_id <> t.hub),
         |cand AS (SELECT DISTINCT doc_a, doc_b FROM
         |  (SELECT * FROM self_pairs UNION ALL SELECT * FROM hub_pairs)),
         |pruned AS (SELECT doc_a, doc_b, ta.text AS text_a,
         |    tb.text AS text_b, greatest(ta.len, tb.len) AS max_len
         |  FROM cand JOIN d2 ta ON ta.doc_id = doc_a
         |  JOIN d2 tb ON tb.doc_id = doc_b
         |  WHERE greatest(ta.len, tb.len) > 0
         |    AND abs(ta.len - tb.len) * 1000 <= 200 * greatest(ta.len, tb.len)),
         |v AS (SELECT doc_a, doc_b,
         |    CAST(levenshtein(text_a, text_b) AS BIGINT) AS dist, max_len
         |  FROM pruned)
         |SELECT doc_a, doc_b, dist,
         |  (max_len - dist) * 1000 // max_len AS sim_pm
         |FROM v WHERE (max_len - dist) * 1000 // max_len >= 800
         |ORDER BY doc_a, doc_b""".stripMargin),

    // ---- URL-canonicalization dedup (the C4 §2.2 / CCNet crawl-prep
    // step dedup_exact does NOT cover: C4 deduplicates pages BY URL
    // before any content hashing, because the same page is crawled
    // under https/http, with/without www., with tracking parameters,
    // trailing slashes and fragments). The fixture has no URL column,
    // so (the pii_redact/c4_rules trick) a deterministic raw URL is
    // constructed per document and mirrored op-for-op in the oracle:
    // host from `source`, path from the doc_id div 7 page group, with
    // doc_id-driven noise covering every rule — scheme case + https,
    // www., host case, trailing slash, utm_* params in both positions,
    // param-free variants (which canonicalize to a DIFFERENT group —
    // the query string is content-bearing), and fragments.
    // Canonicalization = [[urlCanonExpr]]: strip fragment, lowercase
    // (fixture paths carry no case signal; production callers lowercase
    // scheme+host only), strip www., https->http, split query, drop
    // utm_* params, SORT surviving params, strip trailing slashes.
    // Scale shape: canonicalization is pure map-side string algebra
    // (codegen'd, zero shuffles); the dedup itself is dedup_exact's
    // exact shape — one hash-group on the canonical key + the
    // key-grouped join-back. -----------------------------------------------
    "dedup_url" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .selectExpr("doc_id", s"$fixtureUrlExpr AS url")
        val canon = urlCanonicalize(d)
        val groups = canon.groupBy(col("url_canon"))
          .agg(min(col("doc_id")).as("canonical_id"),
            count(lit(1)).as("group_size"))
        canon.join(groups, "url_canon")
          .selectExpr("doc_id", "url_canon", "canonical_id",
            "CAST(doc_id != canonical_id AS INT) AS is_dup", "group_size")
          .orderBy("doc_id")
      },
      s"""WITH u AS (SELECT doc_id, $duckFixtureUrl AS url FROM documents),
         |c AS (SELECT doc_id, $duckUrlCanon AS url_canon FROM u),
         |g AS (SELECT url_canon, MIN(doc_id) AS canonical_id,
         |    COUNT(*) AS group_size FROM c GROUP BY url_canon)
         |SELECT doc_id, url_canon, canonical_id,
         |  CAST(doc_id != canonical_id AS INT) AS is_dup, group_size
         |FROM c JOIN g USING (url_canon)
         |ORDER BY doc_id""".stripMargin)
  )

  /** Deterministic fixture URL — every canonicalization rule gets a
    * discriminating population (scheme case/https %2, www. %3, host
    * case %5, trailing slash %11, utm params %4 in both positions and
    * a param-free class, fragment %13); docs in the same (source,
    * doc_id div 7) page group collide after canonicalization. */
  private def fixtureUrlExpr: String =
    """concat(
      |  IF(doc_id % 2 = 0, 'https://', 'HTTP://'),
      |  IF(doc_id % 3 = 0, 'www.', ''),
      |  IF(doc_id % 5 = 0, upper(concat(source, '.example.com')),
      |     concat(source, '.example.com')),
      |  '/p/', CAST(doc_id div 7 AS STRING),
      |  IF(doc_id % 11 = 0, '/', ''),
      |  CASE CAST(doc_id % 4 AS INT)
      |    WHEN 0 THEN concat('?id=', CAST(doc_id div 7 AS STRING))
      |    WHEN 1 THEN concat('?utm_source=x&id=', CAST(doc_id div 7 AS STRING))
      |    WHEN 2 THEN concat('?id=', CAST(doc_id div 7 AS STRING), '&utm_campaign=y')
      |    ELSE '' END,
      |  IF(doc_id % 13 = 0, '#sec2', ''))""".stripMargin

  private def duckFixtureUrl: String =
    """(CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END ||
      |  CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||
      |  CASE WHEN doc_id % 5 = 0 THEN upper(source || '.example.com')
      |       ELSE source || '.example.com' END ||
      |  '/p/' || CAST(doc_id // 7 AS VARCHAR) ||
      |  CASE WHEN doc_id % 11 = 0 THEN '/' ELSE '' END ||
      |  CASE CAST(doc_id % 4 AS INT)
      |    WHEN 0 THEN '?id=' || CAST(doc_id // 7 AS VARCHAR)
      |    WHEN 1 THEN '?utm_source=x&id=' || CAST(doc_id // 7 AS VARCHAR)
      |    WHEN 2 THEN '?id=' || CAST(doc_id // 7 AS VARCHAR) || '&utm_campaign=y'
      |    ELSE '' END ||
      |  CASE WHEN doc_id % 13 = 0 THEN '#sec2' ELSE '' END)""".stripMargin

  /** Canonical form of a `url` column — the reusable rule set behind
    * `dedup_url` (a production caller brings real crawl URLs): strip
    * fragment, lowercase the SCHEME AND HOST only, strip a leading
    * www. from the host, normalize https->http in the scheme, drop
    * utm_* tracking parameters, sort the surviving query parameters,
    * strip trailing path slashes. The scheme/www/case rewrites are
    * scoped to the authority prefix (everything before the first '/'
    * or '?' after '://'): paths and parameter VALUES are case- and
    * content-significant on real sites, so a whole-string lowercase
    * over-merges distinct pages and a whole-string replace rewrites an
    * embedded URL in a query value (?redirect=https://x). Pure
    * map-side string algebra; substring positions via instr (literal,
    * not regex) so both engines agree on every metacharacter; the
    * nested transform(array(..)) calls are let-bindings so each
    * intermediate (strip point, authority end) computes once. */
  private[operators] def urlCanonExpr(u: String): String = {
    val nofrag = s"IF(instr($u, '#') > 0, substring($u, 1, instr($u, '#') - 1), $u)"
    s"""element_at(transform(array($nofrag), a ->
       |element_at(transform(array(instr(a, '://')), m ->
       |element_at(transform(array(named_struct(
       |    'pre', IF(m > 0, replace(lower(substring(a, 1, m + 2)), 'https://', 'http://'), ''),
       |    'rest', IF(m > 0, substring(a, m + 3), a))), r ->
       |element_at(transform(array(CASE
       |    WHEN m = 0 THEN 0
       |    WHEN instr(r.rest, '/') > 0 AND (instr(r.rest, '?') = 0 OR instr(r.rest, '/') < instr(r.rest, '?'))
       |      THEN instr(r.rest, '/')
       |    WHEN instr(r.rest, '?') > 0 THEN instr(r.rest, '?')
       |    ELSE length(r.rest) + 1 END), ae ->
       |element_at(transform(array(named_struct(
       |    'hp', IF(m = 0, '', concat(r.pre,
       |        IF(startswith(lower(substring(r.rest, 1, ae - 1)), 'www.'),
       |           substring(lower(substring(r.rest, 1, ae - 1)), 5),
       |           lower(substring(r.rest, 1, ae - 1))))),
       |    'tail', IF(m = 0, r.rest, substring(r.rest, ae)))), t ->
       |concat(t.hp,
       |  regexp_replace(IF(instr(t.tail, '?') > 0, substring(t.tail, 1, instr(t.tail, '?') - 1), t.tail), '/+$$', ''),
       |  element_at(transform(array(array_join(array_sort(filter(
       |      split(IF(instr(t.tail, '?') > 0, substring(t.tail, instr(t.tail, '?') + 1), ''), '&'),
       |      p -> p != '' AND NOT startswith(p, 'utm_'))), '&')),
       |    q -> IF(q = '', '', concat('?', q))), 1))
       |), 1)), 1)), 1)), 1)), 1)""".stripMargin
  }

  /** [[urlCanonExpr]] applied to a `(…, url)` frame, appending `url_canon`. */
  def urlCanonicalize(urls: DataFrame, urlCol: String = "url"): DataFrame = {
    require(urls.columns.contains(urlCol),
      s"url column '$urlCol' not in ${urls.columns.mkString(",")}")
    urls.withColumn("url_canon", expr(urlCanonExpr(urlCol)))
  }

  /** DuckDB twin of [[urlCanonExpr]] over a column named `url` — the
    * same rules layered through scalar subqueries as let-bindings
    * (DuckDB lambdas only where Spark uses them: the param
    * filter/sort), authority-scoped exactly like the Spark side. */
  private def duckUrlCanon: String = {
    val nofrag = "CASE WHEN strpos(url, '#') > 0 THEN substr(url, 1, strpos(url, '#') - 1) ELSE url END"
    s"""(SELECT hp ||
       |   regexp_replace(CASE WHEN strpos(tail, '?') > 0 THEN substr(tail, 1, strpos(tail, '?') - 1) ELSE tail END, '/+$$', '') ||
       |   (SELECT CASE WHEN q = '' THEN '' ELSE '?' || q END FROM (SELECT
       |      COALESCE(array_to_string(list_sort(list_filter(
       |        string_split(CASE WHEN strpos(tail, '?') > 0 THEN substr(tail, strpos(tail, '?') + 1) ELSE '' END, '&'),
       |        p -> p != '' AND NOT starts_with(p, 'utm_'))), '&'), '') AS q))
       | FROM (SELECT
       |     CASE WHEN m = 0 THEN '' ELSE pre ||
       |       (SELECT CASE WHEN starts_with(h, 'www.') THEN substr(h, 5) ELSE h END
       |        FROM (SELECT lower(substr(rest, 1, ae - 1)) AS h)) END AS hp,
       |     CASE WHEN m = 0 THEN rest ELSE substr(rest, ae) END AS tail
       |   FROM (SELECT m, pre, rest,
       |       CASE WHEN m = 0 THEN 0
       |            WHEN strpos(rest, '/') > 0 AND (strpos(rest, '?') = 0 OR strpos(rest, '/') < strpos(rest, '?'))
       |              THEN strpos(rest, '/')
       |            WHEN strpos(rest, '?') > 0 THEN strpos(rest, '?')
       |            ELSE length(rest) + 1 END AS ae
       |     FROM (SELECT m,
       |         CASE WHEN m > 0 THEN replace(lower(substr(a, 1, m + 2)), 'https://', 'http://') ELSE '' END AS pre,
       |         CASE WHEN m > 0 THEN substr(a, m + 3) ELSE a END AS rest
       |       FROM (SELECT a, strpos(a, '://') AS m
       |         FROM (SELECT $nofrag AS a))))))""".stripMargin
  }

  /** Winnowing selection (see the `dedup_winnow` registry comment):
    * (doc_id, pos, fp) rows — the rightmost window minimum per w-window
    * over token k-gram hashes, distinct per (pos, fp). Token grams, not
    * char grams, deliberately: a char k-gram needs substring(s, i, k)
    * per position, and UTF8String substring is a scan from the string
    * start — O(len) per gram, O(len²) per document (measured: minutes
    * on the sf0.01 fixture). Token grams combine k consecutive entries
    * of the ONE native token-hash array by O(1) element_at — O(len)
    * per document. Selection is entirely map-side, one
    * `graft_winnow_sel` call per document.
    */
  private[operators] def winnowSelect(docs: DataFrame, k: Int = 3,
      w: Int = 4): DataFrame =
    // NATIVE selection expression (round 17): the round-16 shape was one
    // let-bound higher-order-function SQL expression (nested
    // transform-as-let so th / gram array / window min each evaluated
    // once — the O(len²·w) substitution trap is documented on
    // [[graft.functions.HashExpressions.winnowSel]]'s history). It was
    // structurally optimal but NEVER codegen'd: Spark's higher-order
    // functions are CodegenFallback by design (per-element interpreted
    // lambda eval, at any expression size — there is no 64KB cliff to
    // stay under), so the corpus-linear pass burned interpreted-eval CPU
    // (measured: the fps cache build was ~1.0 s of dedup_winnow's 3.4 s
    // at sf0.1). graft_winnow_sel is the same selection as one compiled
    // fold per row (WinnowSpec's plain-Scala replay and a dedicated
    // native-vs-SQL equality test pin it bit-identical; the DuckDB
    // oracle pins the end-to-end pairs).
    docs
      .selectExpr("doc_id", s"graft_winnow_sel(text, $k, $w) AS sel")
      .selectExpr("doc_id", "explode(sel) AS c")
      .selectExpr("doc_id", s"c div ${1L << 31}L AS pos", s"c % ${1L << 31}L AS fp")

  /** DuckDB twin of [[winnowPairs]] over `documents` — ONE builder for
    * every (dfCap, midCap) setting, so the hub and capped tiers of the
    * registry cannot drift from each other (the deep tier instantiates
    * hub SQL at midCap = 1 and the rank rule otherwise, mirroring the
    * Spark branch exactly). */
  private def duckWinnowSql(dfCap: Int = DepthCap, midCap: Int = 1,
      minShared: Int = 2): String =
    s"""WITH toks AS (SELECT doc_id,
       |    ${graft.functions.Portable.duckToksSql("text")} AS toks
       |  FROM documents),
       |tt AS (SELECT doc_id,
       |    ${graft.functions.Portable.duckHashTokensSql("toks")} AS th
       |  FROM toks),
       |h AS (SELECT doc_id, list_transform(
       |    range(1, greatest(len(th) - 2, 0) + 1),
       |    gi -> ((th[gi] * 31 + th[gi+1]) * 31 + th[gi+2]) % ${P}) AS h
       |  FROM tt),
       |sel AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(h) - 3, 0) + 1),
       |    j -> list_max(list_filter(range(j, j + 4),
       |           p -> h[p] = list_min(h[j:j+3])))::BIGINT * 2147483648
       |         + list_min(h[j:j+3]))) AS sel FROM h),
       |fps AS (SELECT DISTINCT doc_id, c % 2147483648 AS fp FROM
       |  (SELECT doc_id, unnest(sel) AS c FROM sel)),
       |nf AS (SELECT doc_id, COUNT(*) AS nf FROM fps GROUP BY doc_id),
       |depth AS (SELECT fp, COUNT(*) AS df, MIN(doc_id) AS hub
       |  FROM fps GROUP BY fp),
       |self_pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  JOIN depth d ON d.fp = a.fp WHERE d.df BETWEEN 2 AND $dfCap),
       |${if (midCap == 1)
           s"""deep_pairs AS (SELECT d.hub AS doc_a, f.doc_id AS doc_b
              |  FROM fps f JOIN depth d ON d.fp = f.fp
              |  WHERE d.df > $dfCap AND f.doc_id <> d.hub)""".stripMargin
         else
           s"""deep AS (SELECT f.doc_id, f.fp
              |  FROM fps f JOIN depth d ON d.fp = f.fp WHERE d.df > $dfCap),
              |drk AS (SELECT doc_id, fp,
              |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
              |  FROM deep),
              |deep_pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM drk a JOIN deep b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |  WHERE a.rk <= $midCap)""".stripMargin},
       |pairs AS (SELECT doc_a, doc_b, COUNT(*) AS shared_fp FROM
       |  (SELECT * FROM self_pairs UNION ALL SELECT * FROM deep_pairs)
       |  GROUP BY doc_a, doc_b)
       |SELECT doc_a, doc_b, shared_fp,
       |  shared_fp * 1000 // least(na.nf, nb.nf) AS overlap_pm
       |FROM pairs JOIN nf na ON na.doc_id = doc_a
       |JOIN nf nb ON nb.doc_id = doc_b
       |WHERE shared_fp >= $minShared ORDER BY doc_a, doc_b""".stripMargin

  /** Cross-doc winnowing overlap: pairs sharing >= `minShared` distinct
    * fingerprints, with `overlap_pm` = shared·1000 div min(|fp_a|,|fp_b|)
    * (the containment-style plagiarism score). Two-tier bucket policy on
    * fingerprint document-frequency, exactly the ngram-jaccard shape:
    * df in [2, dfCap] pairs fully inside the bucket; df > dfCap emits
    * only (bucket-min hub, member) pairs — crowded boilerplate
    * fingerprints contribute hub-member evidence instead of df² pairs.
    * `midCap` widens the deep tier from hub (1, the default) to CAPPED
    * pairing (first midCap residents pair fully and against every
    * member), the same volume ladder as the MinHash family's emitters.
    */
  def winnowPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
      dfCap: Int = DepthCap, minShared: Int = 2, midCap: Int = 1): DataFrame = {
    require(midCap >= 1, s"midCap must be >= 1, got $midCap")
    // distinct fp VALUES per doc; persisted — feeds the df census, both
    // pairing tiers and the per-doc fingerprint counts
    val fps = winnowSelect(docs, k, w).select(col("doc_id"), col("fp"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nf = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    // midCap = 1 pairs deep buckets through the hub, O(df); midCap > 1
    // through the first midCap residents, O(midCap·df). Triples grow
    // monotonically in midCap, so hub ⊆ capped ⊆ full holds on the
    // FILTERED output too (shared_fp is nondecreasing per pair).
    BucketPairs(fps, Seq("fp"), "doc_id", tiered(dfCap, midCap))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("shared_fp"))
      .filter(s"shared_fp >= $minShared")
      .join(nf.selectExpr("doc_id AS doc_a", "nf AS nfa"), "doc_a")
      .join(nf.selectExpr("doc_id AS doc_b", "nf AS nfb"), "doc_b")
      .selectExpr("doc_a", "doc_b", "shared_fp",
        "shared_fp * 1000L div least(nfa, nfb) AS overlap_pm")
      .transform(graft.Sorted.byNames(_, "doc_a", "doc_b"))
  }

  /** Levenshtein-verified near-dup pairs of any (doc_id, lang, text)
    * frame via (lang, first-token, length-band) blocking — see the
    * `dedup_edit_blocked` registry comment for the pruning, depth-policy
    * and engine-parity contracts. `simPm` is the per-mille edit
    * similarity floor ((max_len − dist)·1000 div max_len ≥ simPm);
    * `dfCap` is the full-pairing block-depth ceiling.
    */
  def editBlockedPairs(docs: DataFrame, simPm: Long = 800L,
      dfCap: Int = DepthCap): DataFrame = {
    require(simPm >= 1 && simPm <= 1000, s"simPm must be in [1,1000], got $simPm")
    require(dfCap >= 2, s"dfCap must be >= 2, got $dfCap")
    val d2 = docs.filter(col("text").isNotNull)
      .selectExpr("doc_id", "lang", "text", "length(text) AS len",
        // try_element_at: ANSI element_at throws on a token-free doc
        s"try_element_at(${tokensSql("text")}, 1) AS tok1")
      .filter(col("tok1").isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // two overlapping 100-char bands so near-dups straddling a band edge
    // still collide (the ngram-jaccard banding); distinct per doc
    val blocks = d2
      .selectExpr("doc_id", "lang", "tok1",
        "explode(array(len div 100, (len + 50) div 100)) AS band")
      .distinct()
    val cand = BucketPairs(blocks, Seq("lang", "tok1", "band"), "doc_id",
      Tiered(dfCap, Some(Star))).distinct()
    // length prune on slim rows first, THEN the text join — |Δlen|
    // lower-bounds the edit distance, so this is sound for the floor
    val lens = d2.selectExpr("doc_id", "len")
    val pruned = cand
      .join(lens.selectExpr("doc_id AS doc_a", "len AS len_a"), "doc_a")
      .join(lens.selectExpr("doc_id AS doc_b", "len AS len_b"), "doc_b")
      .filter("greatest(len_a, len_b) > 0")
      .filter(s"abs(len_a - len_b) * 1000 <= ${1000 - simPm} * greatest(len_a, len_b)")
      .select(col("doc_a"), col("doc_b"))
    // the verify stage is COMPUTE-heavy on BYTE-light rows (a candidate
    // row is two ids; levenshtein over the attached texts is O(len_a ·
    // len_b) per row), so byte-based AQE coalescing legitimately shrinks
    // the pair frame to a handful of partitions and serializes the
    // quadratic work (measured round 16: 2.98 s → 26.5 s when the cached
    // text side started broadcasting over the coalesced candidate frame).
    // Pin the stage's parallelism deliberately (guide §2.5 — AQE sizes by
    // bytes, not cost): an explicit keyed repartition at the session's
    // configured shuffle-partition count (scale-parameterized — local
    // default = cores; a cluster sizes it to 2-3× total cores), which AQE
    // never re-coalesces. The extra shuffle moves id-only rows.
    // ROUND-ROBIN, not keyed (round-17 ADVICE + measured): doc_a-only
    // hashing serializes a deep (df > dfCap) block's entire candidate set
    // onto one partition (the hub tier emits `hub AS doc_a` for every member),
    // and keying on BOTH pair columns is silently ELIMINATED as redundant
    // — cand.distinct() already hash-partitions by (doc_a, doc_b), so the
    // optimizer drops the same-keys repartition and AQE re-coalesces the
    // byte-tiny frame to one task (measured: 3.4 → 31 s). Round-robin at
    // the session's configured (scale-parameterized) shuffle-partition
    // count is a DIFFERENT partitioning with an explicit N: never removed,
    // never coalesced, and it spreads hub pairs evenly by construction.
    // The text attaches are broadcast joins, so no alignment is lost.
    val verifyP = pruned.sparkSession.sessionState.conf.numShufflePartitions
    // the verified-distance frame persists SLIM (four int64s — no text):
    // without the boundary the sim_pm filter is pushed into the text join
    // as a join condition while the project above recomputes `dist`, so
    // levenshtein — the O(len²) whole cost of this operator — evaluated
    // TWICE per candidate (plans/r17/dedup_edit_blocked_before.txt:671 vs
    // :674). The InMemoryRelation boundary pins exactly ONE evaluation in
    // the cache-build stage; candidates are block-depth-bounded, so the
    // cached frame is pair-count × 32 B at any corpus size.
    val dists = pruned.repartition(verifyP)
      .join(d2.selectExpr("doc_id AS doc_a", "text AS text_a", "len AS len_a"), "doc_a")
      .join(d2.selectExpr("doc_id AS doc_b", "text AS text_b", "len AS len_b"), "doc_b")
      .selectExpr("doc_a", "doc_b",
        "CAST(levenshtein(text_a, text_b) AS BIGINT) AS dist",
        "greatest(len_a, len_b) AS max_len")
      .persist(StorageLevel.MEMORY_AND_DISK)
    dists
      .selectExpr("doc_a", "doc_b", "dist",
        "(max_len - dist) * 1000L div max_len AS sim_pm")
      .filter(s"sim_pm >= $simPm")
      .transform(graft.Sorted.byNames(_, "doc_a", "doc_b"))
  }

  /** Verbatim memorization spans of `evalDocs` against `train` — see the
    * `memorization_spans` registry comment for the audit and scale
    * contracts. `k` is the window width in tokens (identity = the shared
    * rolling polyhash over token hashes); `minRunShingles` is the
    * consecutive-window threshold for a reportable span (a run of r
    * windows is a verbatim overlap of r + k − 1 tokens). Eval docs with
    * fewer than k tokens have no window and are absent by contract. */
  def memorizationSpans(train: DataFrame, evalDocs: DataFrame, k: Int = 5,
      minRunShingles: Int = 3): DataFrame = {
    require(k >= 2, s"window width k must be >= 2 tokens, got $k")
    require(minRunShingles >= 1, s"minRunShingles must be >= 1, got $minRunShingles")
    // (0-seeded h*31+x fold over the k token hashes ending at i — the
    // dedup_substring window-hash family, width parameterized)
    val fold = (k - 1 to 0 by -1).foldLeft("0L")((h, j) =>
      s"(($h * 31 + element_at(th, i - $j)) % ${P}L)")
    def winStream(df: DataFrame): DataFrame = df
      .selectExpr("doc_id", "graft_token_hashes(text) AS th")
      .where(s"size(th) >= $k")
      .selectExpr("doc_id",
        s"explode(transform(sequence($k, size(th)), " +
          s"i -> struct(CAST(i - ${k - 1} AS BIGINT) AS pos, $fold AS g))) AS w")
      .selectExpr("doc_id", "w.pos AS pos", "w.g AS g")
    val evalW = winStream(evalDocs).persist(StorageLevel.MEMORY_AND_DISK)
    val evalGrams = evalW.select(col("g")).distinct()
    // the one pass over the training corpus: benchmark-sized gram set
    // broadcast in as a map-side semi filter; only matches survive to
    // the (eval-bounded) distinct
    val matched = winStream(train).select(col("g"))
      .join(broadcast(evalGrams), Seq("g"), "leftsemi")
      .distinct()
    val hits = evalW.join(broadcast(matched), Seq("g"), "leftsemi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = hits
      .withColumn("rid", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("rid")).agg(count(lit(1)).as("len"))
      .groupBy(col("doc_id"))
      .agg(max(col("len")).as("max_run"),
        sum(expr(s"CAST(len >= $minRunShingles AS BIGINT)")).as("n_spans"),
        sum(col("len")).as("n_matched"))
    evalW.groupBy(col("doc_id")).agg(count(lit(1)).as("n_windows"))
      .join(spans, Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_windows",
        "COALESCE(n_matched, 0L) AS n_matched",
        s"CASE WHEN max_run IS NULL THEN 0L ELSE max_run + ${k - 1}L END AS max_span_tokens",
        "COALESCE(n_spans, 0L) AS n_spans")
      .transform(graft.Sorted.byNames(_, "doc_id"))
  }
}
