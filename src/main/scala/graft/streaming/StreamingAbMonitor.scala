package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Streaming A/B experiment monitor: `ab_test_chi2`'s readout maintained
  * ACROSS micro-batches — the live dashboard a running experiment is
  * watched on (with the usual caveat that repeated looks inflate the
  * false-positive rate; the per-batch chi-square is the monitoring
  * statistic, the decision belongs to the pre-registered horizon).
  *
  * State design: the cumulative per-variant counts ARE a complete-mode
  * streaming aggregate, so total state is |variants| rows (two) held by
  * the engine's checkpointed state store — exactly-once across restarts
  * and replays for free, with none of the driver-side versioned-state
  * machinery `StreamingHeavyHitters` needs for its opaque sketch. Each
  * micro-batch hands the 2-row cumulative frame to `foreachBatch`, which
  * folds it into the 1-row counts shape and applies the SAME
  * [[graft.operators.EventOps.chi2Readout]] expressions as the batch
  * operator — one definition, the two paths cannot drift (pinned
  * doc-for-doc by StreamingAbMonitorSpec).
  *
  * Scale shape: per batch, executors partial-aggregate their slice and
  * two rows reach the state store; the readout runs on a literal 1-row
  * frame. Nothing stream-volume-sized is ever held or shuffled beyond
  * the per-batch partial counts.
  */
object StreamingAbMonitor {

  /** One per-batch readout of the experiment so far. */
  final case class Readout(batchId: Long, nA: Long, convA: Long,
      nB: Long, convB: Long, convAPm: Long, convBPm: Long, liftPm: Long,
      chi2Milli: Long, significant: Boolean)

  /** Start the monitor over a streaming `(variant INT 0/1, converted INT
    * 0/1)` unit frame. `onReadout` fires once per micro-batch with the
    * cumulative readout. */
  def run(units: DataFrame, checkpointDir: String,
      onReadout: Readout => Unit): StreamingQuery = {
    val spark = units.sparkSession
    val cum = units
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("converted").cast("long")).as("conv"))
    MicroBatch.start(cum, checkpointDir, OutputMode.Complete) { (batch, batchId) =>
      // <= |variants| rows by construction of the complete-mode agg
      val rows = batch.collect()
      def cnt(v: Int, i: Int): Long =
        rows.find(_.getInt(0) == v).map(_.getLong(i)).getOrElse(0L)
      val counts = spark.createDataFrame(
        java.util.List.of(Row(cnt(0, 1), cnt(0, 2), cnt(1, 1), cnt(1, 2))),
        org.apache.spark.sql.types.StructType.fromDDL(
          "n_a BIGINT, conv_a BIGINT, n_b BIGINT, conv_b BIGINT"))
      val r = graft.operators.EventOps.chi2Readout(counts).collect()(0)
      onReadout(Readout(batchId, r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getInt(8) == 1))
    }
  }
}
