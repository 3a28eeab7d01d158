package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Streaming referential-integrity monitor: `fk_integrity`'s fact-side
  * checks maintained ACROSS micro-batches — the live gauge a dim-backed
  * intake runs while facts stream in (the reference's order-wide intake
  * would have wanted exactly this: orphaned order rows mean the dim
  * pipeline is lagging). The sixth streaming sketch, with the smallest
  * possible aggregate: cumulative (n_fact, n_fk_null, n_orphan) is ONE
  * complete-mode row of engine-checkpointed state, exactly-once restarts
  * free (the StreamingAbMonitor pattern).
  *
  * Shape: the streaming facts LEFT-OUTER join the static dim-key frame
  * (stream-static joins re-plan the static side per micro-batch — a
  * caller passing a refreshable view gets per-batch dim snapshots, the
  * CdcRouter config-refresh discipline), per-row flags fold into the
  * one running aggregate, and `foreachBatch` ships the ppm readout with
  * the SAME null/orphan semantics as the batch gate: a NULL fk is
  * counted separately and never an orphan; NULL dim keys match nothing.
  *
  * An empty stream reads all-zero — "no data" is not a verdict (the
  * StreamingQuantiles rule).
  */
object StreamingFkMonitor {

  /** One per-batch readout over everything seen so far. */
  final case class Readout(batchId: Long, nFact: Long, nFkNull: Long,
      nOrphan: Long, orphanPpm: Long)

  /** Start the monitor over a streaming single-column `fk` (int64) frame
    * against a static (or per-batch-refreshed) dim frame with key column
    * `pk`. */
  def run(facts: DataFrame, dim: DataFrame, checkpointDir: String,
      onReadout: Readout => Unit): StreamingQuery = {
    require(dim.columns.contains("pk"),
      s"dim frame needs a pk column, has ${dim.columns.mkString(",")}")
    val keys = dim.select(col("pk")).where(col("pk").isNotNull).distinct()
    val flagged = facts
      .join(keys, facts("fk") === keys("pk"), "left_outer")
      .selectExpr("CAST(fk IS NULL AS LONG) AS is_null",
        "CAST(fk IS NOT NULL AND pk IS NULL AS LONG) AS is_orphan")
      .groupBy()
      // coalesce: the global agg emits one row even for an empty batch 0,
      // with NULL sums that would crash the readout's getLong
      .agg(count(lit(1)).as("n_fact"),
        coalesce(sum(col("is_null")), lit(0L)).as("n_fk_null"),
        coalesce(sum(col("is_orphan")), lit(0L)).as("n_orphan"))
    MicroBatch.start(flagged, checkpointDir, OutputMode.Complete) { (batch, batchId) =>
      val rows = batch.collect()
      if (rows.isEmpty) onReadout(Readout(batchId, 0L, 0L, 0L, 0L))
      else {
        val r = rows(0)
        val n = r.getLong(0)
        val o = r.getLong(2)
        // same DECIMAL-free staging as the batch gate: the ppm quotient
        // is bounded, and n stays far under the int64 * 1e6 edge at any
        // realistic stream horizon (documented; the batch gate stages
        // in DECIMAL for the 100 TB one-shot)
        onReadout(Readout(batchId, n, r.getLong(1), o,
          if (n == 0) 0L else o * 1000000L / n))
      }
    }
  }
}
