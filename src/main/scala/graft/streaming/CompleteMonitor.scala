package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The driver the complete-mode monitors share (StreamingAbMonitor,
  * Benford, DriftMonitor, FkMonitor, HllUv, Quantiles): the cumulative
  * aggregate is a complete-mode query over the engine's checkpointed state
  * store, and every micro-batch hands the whole model-sized result to the
  * monitor's own readout. Each monitor keeps its empty-batch rule. */
private[streaming] object CompleteMonitor {
  def run(cumulative: DataFrame, checkpointDir: String)(
      readout: (DataFrame, Long) => Unit): StreamingQuery =
    cumulative.writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(readout)
      .start()
}
