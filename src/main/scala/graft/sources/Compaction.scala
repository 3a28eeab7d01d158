package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Small-files compaction for append-mode parquet logs.
  *
  * Every micro-batch append adds a handful of files per trigger; at a
  * 5 s cadence that is ~17 k files/day/sink — the classic small-files
  * problem that makes a 100 TB table unreadable (NameNode pressure, task
  * per tiny split, footer-read storms). Compaction rewrites a closed
  * partition (yesterday's date dir, a finished topic dir) into
  * size-targeted files, preserving every row.
  *
  * The streaming layer outputs (`LogPipeline.run`, `StreamingCuration`,
  * `CdcRouter.processBatch`, `OrderWide.run`) are not its targets: their
  * `_spark_metadata` sink log ([[graft.streaming.LayerSink]]) lists each
  * committed file, so a rewrite would drop the log with the old root or
  * leave entries that point at deleted files. A dir at or under a logged
  * root is refused with [[SinkLoggedException]], untouched.
  *
  * Implementation is on the Hadoop `FileSystem` API, so the same code
  * runs against local paths, HDFS, and object stores with rename
  * semantics. The scratch and backup directories are DOT-PREFIXED
  * siblings (`.<name>.compact-tmp` / `.<name>.compact-bak`): Spark's
  * partition discovery ignores dot-prefixed dirs, so a table-root reader
  * never sees the in-flight copies as extra partitions.
  *
  * Crash safety: the swap is two renames (dir → bak, scratch → dir).
  * A crash between them leaves the partition parked at the backup path;
  * the next `compactPartition` call on the same dir detects exactly that
  * state (dir absent + backup present) and restores the backup before
  * doing anything else. A crash before the first rename leaves only
  * scratch garbage, which the next run clears. Readers racing the swap
  * window can still observe the dir briefly absent — the accepted
  * contract for compacting CLOSED partitions (nothing writes them,
  * readers resolve partitions at query start); hot partitions need a
  * transaction-log table format (Delta/Iceberg, out of scope here).
  */
object Compaction {

  private def scratchPath(dir: Path) =
    new Path(dir.getParent, s".${dir.getName}.compact-tmp")
  private def bakPath(dir: Path) =
    new Path(dir.getParent, s".${dir.getName}.compact-bak")

  private def dataFiles(fs: FileSystem, dir: Path) =
    fs.listStatus(dir).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))

  /** Compact one partition directory in place. Returns (filesBefore,
    * filesAfter). No-op (and no rewrite) if the dir already has at most
    * the target file count. If a previous attempt crashed mid-swap, the
    * parked backup is restored first. Throws [[SinkLoggedException]]
    * and touches nothing when `dir` or an ancestor holds a sink log. */
  def compactPartition(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.streaming.LayerSink.loggedRoot(fs, p).foreach(root =>
      throw new SinkLoggedException(s"$dir is under the sink-logged output $root"))
    val bak = bakPath(p)
    // recover a crashed swap: data parked at the backup, partition absent
    if (!fs.exists(p) && fs.exists(bak)) {
      require(fs.rename(bak, p), s"failed to restore parked backup $bak -> $p")
    }
    require(fs.getFileStatus(p).isDirectory, s"not a directory: $dir")
    // a crash BETWEEN a successful promote and the backup delete leaves a
    // stale full copy parked at bak while dir is healthy; the no-op path
    // below would then never reach the cleanup, leaking a whole partition
    // copy forever — and a later retention delete of dir would let the
    // recovery branch resurrect deleted data from it (review find)
    if (fs.exists(bak)) fs.delete(bak, true)
    val files = dataFiles(fs, p)
    val before = files.length
    val n = math.max(1, math.ceil(files.map(_.getLen).sum.toDouble / targetBytes).toInt)
    if (before <= n) return (before, before)
    // read fully BEFORE touching the dir; repartition (round-robin) spreads
    // rows evenly across the target files regardless of input skew
    val df = spark.read.parquet(dir).repartition(n)
    val scratch = scratchPath(p)
    fs.delete(scratch, true)
    fs.delete(bak, true)
    df.write.mode("overwrite").parquet(scratch.toString)
    require(fs.rename(p, bak), s"failed to park $p at $bak")
    try require(fs.rename(scratch, p), s"failed to promote $scratch to $p")
    catch { case e: Throwable =>
      // restore the original so an in-process failure never loses the
      // partition (a crash in the window is healed by the recovery above)
      fs.rename(bak, p)
      throw e
    }
    fs.delete(bak, true)
    (before, dataFiles(fs, p).length)
  }
}

/** [[Compaction.compactPartition]] refused a dir whose files a streaming
  * sink log lists. */
final class SinkLoggedException(message: String) extends IllegalArgumentException(message)
