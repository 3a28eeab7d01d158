package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.sinks.{FileStreamSink, FileStreamSinkLog}

/** The one write of a streaming layer boundary (ODS → DWD → DWM): a
  * `foreachBatch` output appended through Spark's own parquet file sink,
  * keyed by the micro-batch id — the role the reference's transactional
  * Kafka producer plays (MyKafkaUtil.java:43-49).
  *
  * The sink's `_spark_metadata` log under the output dir commits a batch's
  * files at once, and a batch id at or below the newest logged one is
  * skipped. A batch replayed after a crash between the write and the
  * checkpoint commit therefore neither duplicates nor loses rows, and
  * `spark.read` / `readStream` of the dir see committed files only. This
  * is the only file that names the sink: Spark moved it between 3.x and
  * 4.x. Delete an output together with its query's checkpoint (see
  * [[MicroBatch.start]]). */
object LayerSink {

  /** Append `df` to the parquet dir `path` as batch `batchId` of its log.
    *
    * An id the log already holds writes nothing, but `df` still runs to
    * its end: a stateful query's `foreachBatch` must process every
    * partition of a replayed batch, or Spark fails the batch with
    * STATE_STORE_COMMIT_VALIDATION_FAILED. Ids the log skipped (a first
    * write with a batch id above 0) are logged as empty batches, because
    * a reader expects every id since the last compaction. */
  def write(df: DataFrame, path: String, batchId: Long, partitionBy: String*): Unit = {
    val log = new FileStreamSinkLog(FileStreamSinkLog.VERSION, df.sparkSession,
      new Path(path, FileStreamSink.metadataDir).toString, None)
    val latest = log.getLatestBatchId().getOrElse(-1L)
    if (batchId <= latest) df.write.format("noop").mode("overwrite").save()
    else {
      (latest + 1 until batchId).foreach(id => log.add(id, Array.empty))
      new FileStreamSink(df.sparkSession, path, new ParquetFileFormat, partitionBy, Map.empty)
        .addBatch(batchId, df)
    }
  }

  /** The dir at or above `dir` that holds a sink log, if any. */
  def loggedRoot(fs: FileSystem, dir: Path): Option[Path] =
    Iterator.iterate(fs.makeQualified(dir))(_.getParent).takeWhile(_ != null)
      .find(p => fs.exists(new Path(p, FileStreamSink.metadataDir)))

  /** The layer output `dir`: it holds a batch once its sink log does. */
  private[streaming] final case class Output(dir: String) extends BatchKeyed {
    def holdsBatch(spark: SparkSession): Boolean = {
      val log = new Path(dir, FileStreamSink.metadataDir)
      log.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(log) &&
        new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark, log.toString, None)
          .getLatestBatchId().nonEmpty
    }
    override def toString: String = dir
  }
}
