package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.operators.CorpusOps

/** Streaming percentile monitor: the HDR-histogram quantile sketch
  * (`quantile_sketch`'s kernel) maintained ACROSS micro-batches — the
  * fourth streaming sketch beside the CMS heavy hitters, the HLL UV
  * estimate and the A/B monitor. Latency/size/price percentiles over an
  * unbounded stream cannot sort; the bucket histogram CAN accumulate: the
  * per-bucket count IS a complete-mode streaming aggregate (sum merges
  * associatively), so the engine's checkpointed store holds at most the
  * bucket DOMAIN (~(64 − b)·2^b ≈ 1.9k rows at b = 5) forever and gives
  * exactly-once restarts for free — none of the driver-side state
  * machinery the CMS path needed.
  *
  * Each micro-batch hands the domain-bounded histogram to `foreachBatch`,
  * which applies the SAME [[graft.operators.CorpusOps.hdrQuantiles]]
  * readout (and the same [[graft.operators.CorpusOps.hdrBucketExpr]]
  * map-side geometry) as the batch sketch — one definition each, so the
  * streaming readout is BIT-IDENTICAL to a batch build over the
  * concatenated input (pinned by StreamingQuantilesSpec).
  *
  * An EMPTY stream (complete-mode batch 0 before any data) reads as zero
  * rows: the readout ships an empty quantile list with n = 0 — never a
  * NULL, never an exception (the StreamingHllUv empty-batch rule).
  *
  * Scale shape: executors partial-sum their slice per batch, <= domain
  * rows reach the state store, the readout runs on the domain frame.
  * Nothing stream-volume-sized is ever held.
  */
object StreamingQuantiles {

  /** One per-batch readout: (q_pm -> est) pairs, total count, and the
    * histogram's resident bucket-row count (the bounded-state witness). */
  final case class Readout(batchId: Long, quantiles: Seq[(Int, Long)],
      n: Long, histBuckets: Long)

  /** Start the sketch over a streaming single-column `x` (non-negative
    * int64 — the quantile_sketch quantization contract) frame. */
  def run(vals: DataFrame, checkpointDir: String, subBits: Int = 5,
      qsPm: Seq[Int] = Seq(500, 900, 990),
      onReadout: Readout => Unit): StreamingQuery = {
    CorpusOps.requireSketchKnobs(subBits, qsPm)
    val hist = vals
      .selectExpr(s"${CorpusOps.hdrBucketExpr("x", subBits)} AS bkt")
      .groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
    MicroBatch.start(hist, checkpointDir, OutputMode.Complete) { (batch, batchId) =>
      val resident = batch.persist()
      val rows = CorpusOps.hdrQuantiles(resident, Seq.empty, subBits, qsPm)
        .orderBy(col("q_pm")).collect()
      val n = if (rows.isEmpty) 0L else rows(0).getLong(1)
      onReadout(Readout(batchId,
        rows.map(r => r.getInt(0) -> r.getLong(2)).toSeq, n, resident.count()))
      resident.unpersist()
    }
  }
}
