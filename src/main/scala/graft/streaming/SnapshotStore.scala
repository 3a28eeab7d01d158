package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Driver-held fixed-width `Array[Long]` made exactly-once across replay
  * and restart of the foreachBatch query that feeds it — the one state
  * protocol of [[StreamingHeavyHitters.Tracker]] and
  * [[StreamingConversionLatency.HistTracker]].
  *
  * A checkpointed query resumes its OFFSETS, so an in-memory array alone
  * would lose every pre-crash count on restart and double-count a batch
  * replayed after an uncommitted attempt. With `stateDir` set, each
  * commit publishes a VERSIONED file `<prefix>.<batchId %019d>.bin`
  * (batch id, width, then the values) and restore reads the newest
  * complete one. No rename: a new file is written and closed, which works
  * on every Hadoop FileSystem, including object stores with no
  * AbstractFileSystem binding (where FileContext.rename(OVERWRITE) throws)
  * and whose creates become visible only at close. The previous version
  * stays as the fallback, so a crash anywhere leaves a valid newest
  * complete file; a short (torn) file is skipped, while a complete file
  * of another width is an error — a restart with a different geometry
  * must not silently restart empty. `commit` absorbs any batch id at or
  * below the last committed one.
  *
  * Readers see snapshots: `values` is replaced, never mutated, so commit
  * a fresh array. */
private[streaming] final class SnapshotStore(stateDir: Option[String],
    prefix: String, zero: Array[Long]) extends BatchKeyed with Serializable {
  @volatile private var current: Array[Long] = zero
  @volatile private var lastBatchId: Long = -1L

  private val width = zero.length
  private val StateName = (java.util.regex.Pattern.quote(prefix) + """\.\d{19}\.bin""").r

  restore()

  def values: Array[Long] = current

  def holdsBatch(spark: SparkSession): Boolean = lastBatchId >= 0
  override def toString: String = s"$prefix state in ${stateDir.getOrElse("memory")}"

  /** A non-negative id at or below the last committed one: a replay. */
  def isReplay(batchId: Long): Boolean = batchId >= 0 && batchId <= lastBatchId

  /** Publish `next` (of this store's width) for `batchId`; false, and no
    * change, on a replay. `batchId < 0` applies unconditionally and
    * persists nothing (ad-hoc batch use). */
  def commit(next: Array[Long], batchId: Long): Boolean = {
    if (isReplay(batchId)) return false
    current = next
    if (batchId >= 0) { lastBatchId = batchId; persist() }
    true
  }

  /** The session's Hadoop configuration (object-store credentials,
    * fs.defaultFS overrides); the store lives on the driver, where an
    * active session is always available — the bare default is only the
    * sessionless fallback. */
  private def fs(dir: Path): FileSystem = dir.getFileSystem(
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration()))

  /** Versioned state files in `dir`, newest first (the zero-padded ids
    * sort by name). */
  private def versions(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq
      .filter(st => StateName.matches(st.getPath.getName))
      .sortBy(_.getPath.getName).reverse

  private def restore(): Unit = stateDir.foreach { d =>
    val dir = new Path(d)
    val fs = this.fs(dir)
    if (fs.exists(dir)) versions(fs, dir).find(load(fs, _))
  }

  /** Read `st` if it is complete; false for a torn (short) write, so
    * restore falls back to the next older version. */
  private def load(fs: FileSystem, st: FileStatus): Boolean =
    st.getLen >= 16 && {
      val in = new java.io.DataInputStream(fs.open(st.getPath))
      try {
        val batchId = in.readLong()
        val marker = in.readLong()
        val complete = (st.getLen - 16) % 8 == 0 && (st.getLen - 16) / 8 == marker
        if (complete) {
          require(marker == width, s"$prefix state ${st.getPath.getName} has " +
            s"width $marker, this tracker expects $width")
          current = Array.fill(width)(in.readLong())
          lastBatchId = batchId
        }
        complete
      } finally in.close()
    }

  private def persist(): Unit = stateDir.foreach { d =>
    val dir = new Path(d)
    val fs = this.fs(dir)
    val out = new java.io.DataOutputStream(
      fs.create(new Path(dir, f"$prefix.$lastBatchId%019d.bin"), true))
    try {
      out.writeLong(lastBatchId)
      out.writeLong(width.toLong)
      current.foreach(out.writeLong)
    } finally out.close()
    // best-effort cleanup: keep the newest two versions
    try versions(fs, dir).drop(2).foreach(st => fs.delete(st.getPath, false))
    catch { case _: java.io.IOException => () }
  }
}
