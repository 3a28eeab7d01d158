package graft.streaming

import graft.functions.HashExpressions
import graft.operators.BucketPairs.DefaultBucketCap
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming EMBEDDING near-duplicate detection: the intake twin of the
  * batch `dedup_embedding_cosine` / `embeddingCosinePairs` operator,
  * built on [[StreamingNearDup]]'s band-bucket state pattern with the
  * SRP-LSH banding the batch embedding family shares
  * (`Similarity.srpBands`' geometry: `graft_srp(embedding, width ×
  * nBands)` sign lanes, one band key per `width`-bit slice).
  *
  * Shape: the native SRP signature computes map-side per micro-batch;
  * state is keyed by BAND BUCKET and holds the bucket's resident
  * (vec_id, embedding) set, so a new vector compares only against
  * vectors sharing a band key — never against the corpus. Per bucket
  * the state is CAPPED (`maxPerBucket`) and EVICTED by an event-time
  * TTL (`ttlMs` past the bucket's newest arrival) — the same
  * [[KeyedState.admit]] and [[KeyedState.expireAt]] steps:
  * total state is bounded by (active buckets in the horizon) × cap ×
  * the embedding payload — not by stream history. WIDTH is the same
  * occupancy knob as the batch family (a constant key space saturates
  * at scale; width ~ log2(N) holds bucket occupancy flat — SCALE.md,
  * "Round-9: the radius-search band-width knob, measured"), so the
  * default here is 8 (the production point the rangeSearch scaladoc
  * documents), not the batch fixture's demo width 3.
  *
  * Verification is EXACT cosine on the resident embeddings (the batch
  * operator's contract — the signature only selects candidates), with
  * `graft_cosine`'s kernel ([[HashExpressions.cosine]]) and NaN posture:
  * a zero-norm vector's cosine is NaN and never qualifies.
  * Emission/idempotence contract is StreamingNearDup's: pairs keyed
  * (vec_a < vec_b), at most once per shared band (cross-band duplicates
  * possible by design — downstream dedups on the pair key), re-delivered
  * vec_ids neither re-pair nor re-enter state.
  */
object StreamingEmbeddingNearDup {

  /** One (band bucket, vector) row after the map-side banding. */
  case class VecBandRow(bucket: String, vecId: Long, emb: Array[Float],
      ems: Long, ets: java.sql.Timestamp)

  /** A near-dup candidate pair with its exact cosine. */
  case class VecCandPair(vec_a: Long, vec_b: Long, cosine: Double)

  /** Bucket-resident vectors: bounded at `maxPerBucket`, TTL-evicted. */
  case class VecBucketState(entries: List[(Long, Array[Float])])

  /** Per-bucket state transition: [[StreamingNearDup.stateFn]]'s shape
    * ([[KeyedState.admit]], TTL armed by [[KeyedState.expireAt]],
    * timeout clears the bucket) verified by exact cosine — the
    * [[HashExpressions.cosine]] kernel `graft_cosine` runs, so a pair at
    * the threshold qualifies here exactly when it does in batch. */
  private[streaming] def stateFn(maxPerBucket: Int, threshold: Double, ttlMs: Long)(
      key: String, rows: Iterator[VecBandRow],
      state: GroupState[VecBucketState]): Iterator[VecCandPair] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val batch = rows.toSeq
    val out = scala.collection.mutable.ArrayBuffer.empty[VecCandPair]
    val (entries, _) = KeyedState.admit(state.getOption.map(_.entries).getOrElse(Nil),
        batch.map(r => (r.vecId, r.emb)), maxPerBucket) { case ((id, e), (newId, emb)) =>
      // a width mismatch is malformed input and must be LOUD here, where
      // graft_cosine answers NaN
      require(e.length == emb.length && e.length > 0,
        s"embedding width mismatch: ${e.length} vs ${emb.length}")
      val c = HashExpressions.cosine(e, emb)
      // NaN >= threshold is false: zero-norm vectors never pair
      if (c >= threshold) out += VecCandPair(math.min(id, newId), math.max(id, newId), c)
    }
    if (entries.nonEmpty) {
      state.update(VecBucketState(entries))
      KeyedState.expireAt(state, batch.foldLeft(0L)((m, r) => math.max(m, r.ems)) + ttlMs)
    } else state.remove()
    out.iterator
  }

  /** `vecs` must carry (vec_id: long, embedding: array<float>,
    * ts: timestamp). Returns the stream of near-dup candidate pairs
    * (append mode). */
  def pairs(vecs: DataFrame, width: Int = 8, nBands: Int = 4,
      maxPerBucket: Int = DefaultBucketCap, threshold: Double = 0.45,
      ttlMs: Long = 10L * 60 * 1000, delay: String = "0 seconds"): Dataset[VecCandPair] = {
    require(width >= 1 && nBands >= 1, s"bad banding: ($width, $nBands)")
    val s = vecs.sparkSession
    import s.implicits._
    val banded = vecs
      .withColumn("ets", col("ts").cast("timestamp"))
      .withWatermark("ets", delay)
      .selectExpr("vec_id", "ets", "unix_millis(ets) AS ems", "embedding",
        s"graft_srp(embedding, ${width * nBands}) AS sg")
      .selectExpr("vec_id", "ets", "ems", "embedding",
        s"""explode(transform(sequence(0, ${nBands - 1}), b ->
           |  concat_ws('_', b, concat_ws('', slice(sg, b * $width + 1, $width))))) AS bucket""".stripMargin)
      .select(col("bucket"), col("vec_id").as("vecId"),
        col("embedding").as("emb"), col("ems"), col("ets"))
      .as[VecBandRow]
    banded.groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        stateFn(maxPerBucket, threshold, ttlMs))
  }
}
