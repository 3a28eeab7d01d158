package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** A store a query feeds, keyed by the batch id: it skips every id at or
  * below its newest ([[LayerSink.Output]], [[SnapshotStore]]). */
private[streaming] trait BatchKeyed { def holdsBatch(spark: SparkSession): Boolean }

/** One output of a layer query: the parquet dir `name` under its out dir,
  * the projection of the batch's shared frame written there, and its
  * partition columns. The reset guard and the writes read this one
  * declaration. */
private[streaming] final case class LayerOutput(name: String,
    project: DataFrame => DataFrame, partitionBy: String*)

/** The one launcher of every micro-batch query in `graft.streaming`. */
private[streaming] object MicroBatch {

  /** Start `stream`, checkpointed at `checkpoint`, with `body` run on each
    * micro-batch and its id. Throws [[CheckpointResetException]] first when
    * the checkpoint holds no offsets but one of `stores` holds a batch: the
    * query would number its batches from 0 again, and the store would skip
    * every one up to its newest, silently. */
  def start(stream: Dataset[_], checkpoint: String,
      mode: OutputMode = OutputMode.Append, stores: Seq[BatchKeyed] = Nil)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = stream.sparkSession
    val offsets = new Path(checkpoint, "offsets")
    val fs = offsets.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val resumes = fs.exists(offsets) &&
      fs.listStatus(offsets).exists(_.getPath.getName.forall(_.isDigit))
    if (!resumes) stores.find(_.holdsBatch(spark)).foreach { store =>
      throw new CheckpointResetException(s"$store holds committed batches but checkpoint " +
        s"$checkpoint has no offsets; delete the stores with their checkpoint, or restore it")
    }
    stream.toDF().writeStream.outputMode(mode)
      .option("checkpointLocation", checkpoint).foreachBatch(body).start()
  }

  /** The sink logs of `outputs` under `outDir`, as stores for [[start]]. */
  def stores(outDir: String, outputs: Seq[LayerOutput]): Seq[BatchKeyed] =
    outputs.map(o => LayerSink.Output(s"$outDir/${o.name}"))

  /** Write each of `outputs` of `frame` under `outDir` as batch `batchId`,
    * persisting `frame` when two or more outputs read it. */
  def fanOut(frame: DataFrame, outDir: String, batchId: Long, outputs: Seq[LayerOutput]): Unit = {
    val shared = if (outputs.size > 1) frame.persist() else frame
    try outputs.foreach { o =>
      LayerSink.write(o.project(shared), s"$outDir/${o.name}", batchId, o.partitionBy: _*)
    } finally if (outputs.size > 1) shared.unpersist()
  }
}

/** Thrown by [[MicroBatch.start]] on a reset checkpoint over stores that
  * hold batches. */
final class CheckpointResetException(message: String) extends IllegalStateException(message)
