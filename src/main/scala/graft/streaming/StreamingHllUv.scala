package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Streaming unique-visitor estimate: the HLL register sketch
  * (`hll_distinct`'s kernel) maintained ACROSS micro-batches — the
  * bounded-state answer to the UV question when the distinct-user domain
  * outgrows the watermark-dedup state the UV pipeline carries
  * (`uv_daily`'s streaming analog holds O(distinct-in-horizon) keys; this
  * holds EXACTLY m register rows forever, for a ~1.04/sqrt(m) relative
  * error).
  *
  * State design mirrors `StreamingAbMonitor`: the per-register max-rho IS
  * a complete-mode streaming aggregate — max merges associatively and
  * idempotently, so replayed or duplicated ids can never move a register
  * wrongly, and the engine's checkpointed store gives exactly-once
  * restarts for free. Each micro-batch hands the <= m register rows to
  * `foreachBatch`, which applies the SAME
  * [[graft.operators.CorpusOps.hllEstimate]] fold as the batch census —
  * one definition of the map-side algebra ([[graft.operators.CorpusOps
  * .hllVExpr]]/[[graft.operators.CorpusOps.hllRhoExpr]]) and one of the
  * estimate, so the streaming sketch is BIT-IDENTICAL to a batch build
  * over the concatenated input (pinned by StreamingHllUvSpec).
  *
  * Scale shape: executors partial-max their slice per batch, <= m rows
  * reach the state store, the estimate runs on an m-row frame. Nothing
  * stream-volume-sized is ever held.
  */
object StreamingHllUv {

  /** One per-batch readout of the running distinct estimate. */
  final case class Readout(batchId: Long, estDistinct: Long, zeroRegisters: Long)

  /** Start the sketch over a streaming single-column `id` (int64) frame.
    * `m` is the register-count accuracy knob (power of two >= 16). */
  def run(ids: DataFrame, checkpointDir: String, m: Int = 256,
      onReadout: Readout => Unit): StreamingQuery = {
    val cap = graft.operators.CorpusOps.hllCap(m)
    require(cap > 0) // hllCap validates m loudly
    // raw ids need the non-linear pre-hash and the decoupled index chain
    // — see hllIdExprs for the measured lattice failure it prevents
    val (h2, fp) = graft.operators.CorpusOps.hllIdExprs("id")
    val regs = ids
      .selectExpr(s"$h2 AS h2", s"${graft.operators.CorpusOps.hllVExpr(fp)} AS v")
      .selectExpr(s"h2 % ${m}L AS idx",
        s"${graft.operators.CorpusOps.hllRhoExpr("v", m)} AS rho")
      .groupBy(col("idx")).agg(max(col("rho")).as("mj"))
    MicroBatch.start(regs, checkpointDir, OutputMode.Complete) { (batch, batchId) =>
      val r = graft.operators.CorpusOps.hllEstimate(batch, m, Seq.empty)
        .collect()(0)
      onReadout(Readout(batchId, r.getLong(1), r.getLong(0)))
    }
  }
}
