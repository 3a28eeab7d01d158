package graft.streaming

import graft.functions.Portable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.sketch.BloomFilter

/** Streaming corpus intake: the batch curation operators (quality gate,
  * exact dedup) composed into a Structured Streaming pipeline — documents
  * arrive as a stream, are content-deduplicated across micro-batches with
  * bounded state, quality-gated, and split kept/rejected in one pass.
  *
  * This is the LLM-data analog of the reference's UV pipeline shape
  * (keyed dedup state with a TTL, `RT/app/dwm/UniqueVisitApp.java:57-95`):
  * `dropDuplicatesWithinWatermark` on the content digest holds one state
  * row per distinct document inside the watermark horizon and EVICTS it
  * once the watermark passes — at 100 TB/day of intake the dedup state is
  * bounded by the horizon's distinct-content volume, not by history.
  * The kept/rejected split is one persisted pass per micro-batch
  * ([[MicroBatch.fanOut]]).
  */
object StreamingCuration {

  /** Map-side quality columns (the streaming half of `curate_corpus`'s
    * gate): token count bounds + uniqueness-ratio floor. */
  private def scored(batch: DataFrame): DataFrame =
    batch
      .withColumn("toks", expr(Portable.tokensSql("text")))
      .withColumn("n_tokens", expr("CAST(size(toks) AS BIGINT)"))
      .withColumn("uniq_ratio", expr(
        "CASE WHEN size(toks) > 0 THEN CAST(size(array_distinct(toks)) AS DOUBLE) / size(toks) ELSE CAST(0 AS DOUBLE) END"))
      // coalesce(false): for text=null every ratio is null and a raw null
      // keep would fail BOTH the kept filter and the NOT-kept filter —
      // the doc would vanish from the audit trail entirely instead of
      // landing in rejected (review find)
      .withColumn("keep", coalesce(
        col("n_tokens").between(3, 5000) && col("uniq_ratio") >= 0.2, lit(false)))
      .drop("toks")

  /** Quality-score a batch and gate it against the historical corpus when
    * a serialized Bloom filter (see [[historicalFilter]]/[[serialize]]) is
    * supplied. The probe is the engine's codegen'd `BloomFilterMightContain`
    * predicate over `xxhash64(digest)` — the same native pair the batch
    * `bloom_membership` operator rides — NOT a per-row Scala UDF: this
    * runs in the per-micro-batch hot intake path, where a boxed
    * String-UDF call per document was the one non-codegen expression
    * left in the stream (round-8 verdict nit). The filter bytes enter
    * the plan as a foldable binary literal, so the whole gate stays
    * inside whole-stage codegen (pinned by PlanAuditSpec). */
  def gate(batch: DataFrame, histBytes: Option[Array[Byte]] = None): DataFrame =
    histBytes match {
      case Some(bytes) =>
        // xxhash64 maps NULL to the seed (not to NULL), so a null digest
        // must short-circuit to "not a member" explicitly — same posture
        // as bloom_membership's null handling
        val hit = col("digest").isNotNull &&
          call_function("graft_might_contain",
            lit(bytes), xxhash64(col("digest")))
        scored(batch).withColumn("hist_hit", coalesce(hit, lit(false)))
          .withColumn("keep", col("keep") && !col("hist_hit"))
      case None => scored(batch).withColumn("hist_hit", lit(false))
    }

  /** The batch-trained weight table (`CorpusOps.trainHashedClassifier`,
    * exactly the generated B = 8192 bucket domain) densified ONCE per
    * query into a bkt-indexed long array — the deploy step of the
    * train-batch / score-stream composition. 64 KB, embedded in each
    * trigger's plan as an array literal (the Bloom-bytes precedent
    * below): the per-row cost is an element_at, not a per-batch
    * broadcast join of the weight frame. */
  def denseWeights(weights: DataFrame): Array[Long] = {
    val rows = weights.orderBy("bkt").collect()
    require(rows.length == 8192,
      s"weight table must be the full 8192-bucket domain, got ${rows.length}")
    rows.map(_.getLong(1))
  }

  /** Learned-classifier gate for the intake path: score each document
    * map-side over the SAME hashed-bigram feature fragment the batch
    * trainer used (`CorpusOps.bigramBktExpr` — one definition, so the
    * stream can never score against misrouted weight slots) and AND the
    * verdict into `keep`. Score semantics are bit-identical to
    * `hashedClassifierScore`: sum of bucket weights trunc-divided by
    * the bigram count; documents with no bigrams have no evidence and
    * fail the gate (`score_ppb` null), mirroring the batch scorer where
    * they simply have no row. Pure projection — zero joins, zero
    * shuffles, stays inside whole-stage codegen (spec-pinned). */
  def classifierGate(batch: DataFrame, w: Array[Long],
      thresholdPpb: Long = 0L): DataFrame = {
    require(w.length == 8192, s"expected 8192 weights, got ${w.length}")
    // null text: graft_token_hashes yields no usable array, the CASE
    // guard in bigramBktExpr falls through to the empty branch, and the
    // empty-bkts IF below leaves score_ppb null -> gate fails closed
    batch
      .withColumn("th", expr("graft_token_hashes(text)"))
      .withColumn("bkts", expr(graft.operators.CorpusOps.bigramBktExpr))
      .withColumn("wl", typedLit(w))
      .withColumn("score_ppb", expr(
        "IF(size(bkts) > 0, aggregate(bkts, 0L, " +
          "(acc, b) -> acc + element_at(wl, CAST(b AS INT) + 1)) div size(bkts), " +
          "CAST(NULL AS BIGINT))"))
      .withColumn("keep",
        col("keep") && coalesce(col("score_ppb") > thresholdPpb, lit(false)))
      .drop("th", "bkts", "wl")
  }

  /** One micro-batch: quality-score, gate against the historical corpus
    * (when a serialized Bloom filter of historical digest hashes is
    * supplied), stamp the batch id, split kept/rejected in a single
    * persisted pass. Both sides are written through [[LayerSink]] under
    * `batchId`, so a batch replayed after a crash between write and
    * checkpoint commit is skipped; `batch_id` stays on the rows as
    * lineage.
    *
    * `hist_hit` rides along on BOTH outputs so consumers can distinguish
    * a quality rejection from a historical duplicate. A Bloom hit is
    * "probably seen" (fpp per the filter's construction) — the streaming
    * intake drops it outright, the trade a 100 TB nightly gate makes;
    * where false drops are unacceptable, verify hits against the exact
    * historical digest store batch-side (dedup_incremental's exact layer). */
  def processBatch(batch: DataFrame, outDir: String, batchId: Long,
      historical: Option[Array[Byte]] = None,
      classifier: Option[(Array[Long], Long)] = None): Unit = {
    val gated = classifier match {
      case Some((w, thr)) => classifierGate(gate(batch, historical), w, thr)
      case None           => gate(batch, historical)
    }
    MicroBatch.fanOut(gated.withColumn("batch_id", lit(batchId)), outDir, batchId, sides)
  }

  /** The kept and rejected sides [[processBatch]] writes. */
  private val sides = Seq(LayerOutput("kept", _.filter(col("keep")).drop("keep")),
    LayerOutput("rejected", _.filter(!col("keep")).drop("keep")))

  /** The kept log: committed batches only, each once ([[LayerSink]]). */
  def kept(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/kept")

  /** The rejected log: committed batches only, each once ([[LayerSink]]). */
  def rejected(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/rejected")

  /** One digest definition for BOTH the filter build and the stream gate —
    * and for the batch exact-dedup layer: all share
    * [[Portable.contentDigest]]. If these ever diverged, mightContain would
    * silently never hit and every historical duplicate would flow through
    * as new. */
  private def digestCol = Portable.contentDigest

  /** Build the historical-corpus gate from a batch DataFrame of already-
    * ingested documents: a Bloom filter over `xxhash64(digest)` — ~1.2 GB
    * per 1e9 docs at 1% fpp, shippable where the exact digest set is not
    * (the sketch rationale of `bloom_membership`). The insertion domain
    * is the LONG hash, not the digest string, because the probe side is
    * the engine's `BloomFilterMightContain` (long-valued `mightContainLong`,
    * see [[gate]]) — build and probe must hash identically or every
    * membership test silently misses. Null digests are excluded BEFORE
    * hashing (xxhash64 maps NULL to the seed). The hash projection is
    * persisted across the count + sketch passes so the corpus text is
    * scanned once, not twice. */
  def historicalFilter(corpus: DataFrame, fpp: Double = 0.01): BloomFilter = {
    val d = corpus.select(digestCol.as("digest"))
      .filter(col("digest").isNotNull)
      .select(xxhash64(col("digest")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try d.stat.bloomFilter("h", math.max(1000L, d.count()), fpp)
    finally { d.unpersist(); () }
  }

  /** The filter's wire form, produced ONCE per query (not per batch, not
    * per row): the bytes [[gate]] embeds as a foldable binary literal for
    * the native probe. */
  def serialize(f: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    f.writeTo(bos)
    bos.toByteArray
  }

  /** Launch: `raw` is a streaming DataFrame with (doc_id, text, lang, ts).
    * Writes `outDir/kept` and `outDir/rejected` parquet. Pass `historical`
    * (see [[historicalFilter]]) to also reject documents already present
    * in the ingested corpus — the streaming counterpart of
    * `dedup_incremental`'s exact layer: in-stream duplicates are caught by
    * the watermark-bounded state, cross-corpus duplicates by the sketch.
    * The sketch is serialized ONCE here, not per batch or per row; each
    * trigger's plan carries it as a literal, shipped to executors inside
    * the stage's (torrent-broadcast) task binary. That re-ships the bytes
    * per trigger where the old broadcast handle shipped them once — but it
    * removes a boxed String-UDF call from EVERY ROW of the intake hot
    * path, and rows-per-trigger outnumber triggers by many orders of
    * magnitude at the rates this gate exists for. Note on resume: outDirs
    * written by versions without the `hist_hit` column need `mergeSchema`
    * on read (the column is always written since it was introduced).
    *
    * Pass `classifier` = (denseWeights(trainedTable), thresholdPpb) to
    * additionally gate on the batch-trained learned quality classifier
    * (`CorpusOps.trainHashedClassifier` → [[denseWeights]] →
    * [[classifierGate]]): train on the ingested corpus batch-side,
    * deploy the 8192-slot weight array in the stream — the
    * train-offline / score-online composition a production intake runs.
    * Adds a `score_ppb` column to both outputs (mergeSchema note above
    * applies). Throws [[CheckpointResetException]] before start when
    * `outDir/_chk` was deleted but the outputs were kept. */
  def run(spark: SparkSession, raw: DataFrame, outDir: String,
      horizon: String = "1 hour",
      historical: Option[BloomFilter] = None,
      classifier: Option[(Array[Long], Long)] = None): StreamingQuery = {
    val histB = historical.map(serialize)
    val deduped = raw
      // null text digests to null, and dropDuplicatesWithinWatermark would
      // collapse EVERY null-text doc in the horizon into one surviving
      // row, hiding the rest from the rejected audit log — give each a
      // distinct per-doc sentinel digest instead (they can never be
      // content-duplicates of anything)
      .withColumn("digest",
        coalesce(digestCol, concat(lit("null-text-"), col("doc_id"))))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("digest")
    MicroBatch.start(deduped, s"$outDir/_chk", stores = MicroBatch.stores(outDir, sides)) {
      (batch, batchId) => processBatch(batch, outDir, batchId, histB, classifier)
    }
  }
}
