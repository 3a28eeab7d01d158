package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.operators.CorpusOps

/** Streaming Benford monitor: `benford_screen`'s first-digit TVD
  * maintained ACROSS micro-batches — the live fraud alarm a payments
  * intake runs while transactions stream in, instead of waiting for the
  * nightly forensic pass. The fifth streaming sketch, and the smallest
  * possible state of them all: cumulative per-digit counts are a
  * complete-mode aggregate over a NINE-row domain — at most 9 rows of
  * engine-checkpointed state forever, exactly-once restarts free (the
  * StreamingAbMonitor pattern).
  *
  * Each micro-batch hands the <= 9-row histogram to `foreachBatch`,
  * which applies the SAME [[graft.operators.CorpusOps.benfordReadout]]
  * (and the same digit extraction) as the batch screen — one definition
  * each, so the streaming verdict is BIT-IDENTICAL to a batch screen
  * over the concatenated input (pinned by StreamingBenfordSpec).
  *
  * An EMPTY stream reads n = 0 with tvd 0 and no flag — "no data" is
  * not a verdict (the StreamingQuantiles empty-batch rule); rows <= 0
  * are outside Benford's domain and never enter the aggregate, same
  * contract as the batch screen.
  */
object StreamingBenford {

  /** One per-batch verdict over everything seen so far. */
  final case class Readout(batchId: Long, n: Long, tvdPpm: Long,
      suspicious: Boolean)

  /** Start the monitor over a streaming single-column `x` (int64) frame.
    * `flagTvdPpm` is the alarm knob shared with the batch screen. */
  def run(vals: DataFrame, checkpointDir: String, flagTvdPpm: Long = 50000L,
      onReadout: Readout => Unit): StreamingQuery = {
    require(flagTvdPpm > 0 && flagTvdPpm <= 1000000L,
      s"flagTvdPpm must be in (0, 1e6], got $flagTvdPpm")
    val dig = vals
      .where(col("x") > 0L)
      .selectExpr("CAST(substring(CAST(x AS STRING), 1, 1) AS BIGINT) AS d")
      .groupBy(col("d")).agg(count(lit(1)).as("c"))
    MicroBatch.start(dig, checkpointDir, OutputMode.Complete) { (batch, batchId) =>
      // an all-nonpositive (or empty) stream leaves the digit histogram
      // empty; the readout's global sum would be NULL — short-circuit to
      // the defined "no data, no verdict" row instead
      if (batch.isEmpty) onReadout(Readout(batchId, 0L, 0L, suspicious = false))
      else {
        val r = CorpusOps.benfordReadout(batch, Seq.empty, flagTvdPpm)
          .collect()(0)
        onReadout(Readout(batchId, r.getLong(0), r.getLong(1), r.getInt(2) == 1))
      }
    }
  }
}
