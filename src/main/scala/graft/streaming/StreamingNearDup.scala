package graft.streaming

import graft.operators.BucketPairs.DefaultBucketCap
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming MinHash near-duplicate detection: the streaming twin of the
  * batch `dedup_minhash` operator, for the intake path where near-dups
  * must surface AS documents arrive rather than in a nightly batch pass
  * (the LLM-data analog of the reference's keyed-state dedup shape,
  * `RT/app/dwm/UniqueVisitApp.java:57-95` — there the key is a visitor
  * id, here it is an LSH band bucket).
  *
  * Shape: the 16-lane signature (`graft_minhash_sig`, the SAME native
  * expression and 4×4 banding as the batch operator) computes map-side
  * per micro-batch; state is keyed by BAND BUCKET and holds the bucket's
  * resident (doc_id, sig) set, so a new document compares only against
  * docs that share a band key — never against the corpus. Per bucket the
  * state is CAPPED by [[KeyedState.admit]] (`maxPerBucket`, the streaming
  * twin of the batch df cap: a boilerplate bucket saturates its cap and
  * stops growing) and EVICTED by an event-time TTL (`ttlMs` past the
  * bucket's newest arrival, [[KeyedState.expireAt]]), so total state is
  * bounded by (active buckets in the horizon) × cap — not by stream
  * history.
  * Verification is the signature itself: matching-lane fraction in
  * per-mille (`minhash_calibration`'s estimator), so the original text
  * never enters state.
  *
  * Emission contract: a qualifying pair is emitted in the batch that
  * completes it, keyed (doc_a < doc_b), AT MOST ONCE PER SHARED BAND
  * (cross-band duplicates of the same pair are possible by design —
  * band-keyed state cannot see other bands; the batch twin `distinct()`s
  * for exactly this reason). Downstream consumers dedup on (doc_a,
  * doc_b).
  * Re-delivered doc_ids (at-least-once sources) are idempotent: a
  * resident doc_id re-arriving neither re-pairs nor re-enters state
  * ([[KeyedState.admit]]).
  */
object StreamingNearDup {

  /** One (band bucket, doc) row after the map-side banding. `ets` is the
    * watermarked event-time column (it must survive into the grouped
    * Dataset for EventTimeTimeout — the unsupported-operation checker
    * requires the watermark attribute in the state operator's child);
    * `ems` is its epoch-millis twin the pure state function reads. */
  case class BandRow(bucket: String, docId: Long, sig: Array[Long], ems: Long,
      ets: java.sql.Timestamp)

  /** A near-dup candidate pair with the lane-agreement estimate. */
  case class CandPair(doc_a: Long, doc_b: Long, est_pm: Long)

  /** Bucket-resident docs: bounded at `maxPerBucket`, TTL-evicted. */
  case class BucketState(entries: List[(Long, Array[Long])])

  /** [[bucketLoad]]'s readout: a bucket whose cumulative arrivals in the
    * TTL horizon exceed the cap — `seen` arrivals, `overflow` of them
    * past the cap (truncated from [[pairs]]' resident state). */
  case class BucketLoad(bucket: String, seen: Long, overflow: Long)

  /** [[bucketLoad]]'s per-bucket state: the doc_ids the pair query would
    * have admitted as residents (bounded at the cap, the same
    * [[KeyedState.admit]] step as [[stateFn]]) plus one counter of
    * truncated arrivals. Tracking the ids instead of a bare arrival
    * count keeps the telemetry honest against duplicate delivery: a doc_id re-delivered while resident is
    * ignored here exactly as [[stateFn]] ignores it, so `overflow`
    * counts only arrivals the pair query actually refused state for. */
  private[streaming] case class LoadState(ids: List[Long], extra: Long)

  private def lanesEqualPm(a: Array[Long], b: Array[Long]): Long = {
    // a width mismatch must be LOUD: dividing matched lanes by a hardcoded
    // 16 would silently skew the estimate for any other signature width
    require(a.length == b.length && a.length > 0,
      s"signature width mismatch: ${a.length} vs ${b.length}")
    var i = 0; var m = 0
    while (i < a.length) { if (a(i) == b(i)) m += 1; i += 1 }
    m * 1000L / a.length
  }

  /** Per-bucket state transition: [[KeyedState.admit]] verified by
    * lane agreement, a TTL past the bucket's newest arrival armed by
    * [[KeyedState.expireAt]]. Timeout clears the bucket. */
  private[streaming] def stateFn(maxPerBucket: Int, minEstPm: Long, ttlMs: Long)(
      key: String, rows: Iterator[BandRow],
      state: GroupState[BucketState]): Iterator[CandPair] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val batch = rows.toSeq
    val out = scala.collection.mutable.ArrayBuffer.empty[CandPair]
    val (entries, _) = KeyedState.admit(state.getOption.map(_.entries).getOrElse(Nil),
        batch.map(r => (r.docId, r.sig)), maxPerBucket) { case ((id, s), (newId, sig)) =>
      val est = lanesEqualPm(s, sig)
      if (est >= minEstPm) out += CandPair(math.min(id, newId), math.max(id, newId), est)
    }
    if (entries.nonEmpty) {
      state.update(BucketState(entries))
      // armed even when every row carries epoch-millis <= 0: an unarmed
      // bucket would never be evicted and leak for the life of the query
      KeyedState.expireAt(state, newestMs(batch) + ttlMs)
    } else state.remove() // timeout on removed state would throw
    out.iterator
  }

  /** The newest arrival's epoch millis, 0 for none. */
  private def newestMs(batch: Seq[BandRow]): Long = batch.foldLeft(0L)((m, r) => math.max(m, r.ems))

  /** Map-side banding shared by [[pairs]] and [[bucketLoad]] — ONE
    * signature/band-key/watermark definition, so the telemetry counts
    * exactly the buckets the pair query keys its state on. */
  private def banded(docs: DataFrame, delay: String): Dataset[BandRow] = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .withColumn("ets", col("ts").cast("timestamp"))
      .withWatermark("ets", delay)
      // map-side: native signature once per doc, then the 4×4 band keys —
      // the degenerate-signature guard matches minhashSigTable's
      .selectExpr("doc_id", "ets", "unix_millis(ets) AS ems",
        "graft_minhash_sig(coalesce(text, '')) AS sig")
      .filter(s"element_at(sig, 1) != ${Long.MaxValue}L")
      .selectExpr("doc_id", "ets", "ems", "sig",
        "explode(transform(sequence(0, 3), b -> concat_ws('_', b, concat_ws('_', slice(sig, b * 4 + 1, 4))))) AS bucket")
      .select(col("bucket"), col("doc_id").as("docId"), col("sig"), col("ems"),
        col("ets"))
      .as[BandRow]
  }

  /** `docs` must carry (doc_id: long, text: string, ts: timestamp).
    * Returns the stream of near-dup candidate pairs (append mode). */
  def pairs(docs: DataFrame, maxPerBucket: Int = DefaultBucketCap, minEstPm: Long = 750,
      ttlMs: Long = 10L * 60 * 1000, delay: String = "0 seconds"): Dataset[CandPair] = {
    val s = docs.sparkSession
    import s.implicits._
    banded(docs, delay).groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        stateFn(maxPerBucket, minEstPm, ttlMs))
  }

  /** Per-bucket load telemetry — [[stateFn]]'s overflow twin, on the
    * same [[KeyedState.admit]] step with ids only. Counts this batch's
    * arrivals into the cumulative census and reports the bucket ONLY
    * when it is past the cap, so output volume is bounded by saturated
    * buckets touched per batch, never bucket count. A truncated id
    * re-delivered counts again — the pair query re-processes it too. */
  private[streaming] def loadFn(cap: Int, ttlMs: Long)(
      key: String, rows: Iterator[BandRow],
      state: GroupState[LoadState]): Iterator[BucketLoad] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val st = state.getOption.getOrElse(LoadState(Nil, 0L))
    val batch = rows.toSeq
    val (residents, refused) = KeyedState.admit(st.ids.map(id => (id, ())),
      batch.map(r => (r.docId, ())), cap)((_, _) => ())
    val ids = residents.map(_._1)
    val extra = st.extra + refused
    state.update(LoadState(ids, extra))
    KeyedState.expireAt(state, newestMs(batch) + ttlMs)
    if (extra > 0) Iterator.single(BucketLoad(key, ids.size + extra, extra))
    else Iterator.empty
  }

  /** Bucket-saturation telemetry: the streaming twin of the batch
    * `dedup_minhash_profile` "know before you pay" discipline. [[pairs]]
    * silently stops admitting residents once a bucket hits
    * `maxPerBucket` — correct for state bounds, but the intake operator
    * then discovers the recall cost only in the nightly batch census.
    * Run THIS query beside the pair query (same source, same banding,
    * same TTL horizon — one shared map-side definition), and every
    * micro-batch that touches a bucket whose cumulative arrivals exceed
    * the cap emits (bucket, seen, overflow): saturation is VISIBLE as
    * it arrives, and the operator escalates the batch pass to the
    * capped/star emitter (Dedup.chooseEmitter's ladder) before recall
    * is lost. State is a bounded id list (≤ cap longs) plus one counter
    * per active bucket — still strictly lighter than the pair query's
    * resident (id, 16-lane sig) entries, same eviction horizon.
    * Duplicate delivery of a RESIDENT doc_id is ignored exactly as the
    * pair query ignores it (no phantom overflow on an exactly-once
    * source); re-delivery of an already-TRUNCATED id counts again, as
    * the pair query re-processes it — load telemetry faithful to the
    * pair query's state admissions, not an exact distinct census (that
    * is the batch `dedup_minhash_profile`). */
  def bucketLoad(docs: DataFrame, maxPerBucket: Int = DefaultBucketCap,
      ttlMs: Long = 10L * 60 * 1000, delay: String = "0 seconds"): Dataset[BucketLoad] = {
    val s = docs.sparkSession
    import s.implicits._
    banded(docs, delay).groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        loadFn(maxPerBucket, ttlMs))
  }
}
