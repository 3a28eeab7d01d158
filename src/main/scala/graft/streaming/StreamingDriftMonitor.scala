package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Streaming distribution-drift monitor: `source_drift`'s TVD statistic
  * maintained ACROSS micro-batches against an OFFLINE reference — the
  * alarm a live intake pipeline runs while a new crawl/source streams in,
  * instead of waiting for the nightly batch census. The reference
  * distribution is a ≤ B-row hashed-bigram count table built offline over
  * the trusted corpus ([[referenceCounts]] — the SAME
  * `CorpusOps.bigramBktExpr` B = 8192 fragment as `importance_hashed` /
  * `source_drift` / the streaming classifier gate, one definition);
  * the stream side accumulates CUMULATIVE per-bucket counts as a
  * complete-mode aggregate (the StreamingAbMonitor pattern: counts merge
  * associatively, so state is ≤ B engine-checkpointed rows forever and
  * restarts are exactly-once for free).
  *
  * Per batch the readout computes exact integer TVD in `source_drift`'s
  * ppb form — ½ Σ_b |o_b·10⁹ div n − c_b·10⁹ div n_ref| — over the two
  * model-sized frames (≤ B rows each; nothing stream-volume-sized is ever
  * held or scanned twice). An EMPTY stream (no bigrams yet) reads
  * tvd_ppb = 10⁹: every unit of reference mass is absent, the maximal
  * drift — defined, never a division error (the hllEstimate empty-frame
  * discipline).
  */
object StreamingDriftMonitor {

  final case class Readout(batchId: Long, nBigrams: Long, tvdPpb: Long,
      drifted: Boolean)

  /** Offline reference distribution: (bkt, c) hashed-bigram counts. */
  def referenceCounts(docs: DataFrame): DataFrame = {
    docs.select(expr("graft_token_hashes(text)").as("th"))
      .select(explode(expr(graft.operators.CorpusOps.bigramBktExpr)).as("bkt"))
      .groupBy(col("bkt")).agg(count(lit(1)).as("c"))
  }

  /** Exact ppb TVD between a (bkt, o) count frame and a (bkt, c)
    * reference frame — one definition for the per-batch readout and the
    * spec's batch-parity check. Empty `counts` ⇒ 10⁹ by contract. */
  def tvdPpb(counts: DataFrame, reference: DataFrame): Long = {
    val n = counts.agg(coalesce(sum(col("o")), lit(0L))).collect()(0).getLong(0)
    val nr = reference.agg(coalesce(sum(col("c")), lit(0L))).collect()(0).getLong(0)
    require(nr > 0, "reference distribution has no bigrams")
    if (n == 0L) return 1000000000L
    counts.selectExpr("bkt", "o")
      .join(reference.selectExpr("bkt", "c"), Seq("bkt"), "full_outer")
      .selectExpr(s"abs(coalesce(o, 0L) * 1000000000L div ${n}L - " +
        s"coalesce(c, 0L) * 1000000000L div ${nr}L) AS d")
      .agg(sum(col("d")).as("sd"))
      .selectExpr("sd div 2 AS tvd")
      .collect()(0).getLong(0)
  }

  /** Start the monitor over a streaming (text) frame. `reference` must be
    * a non-empty (bkt, c) frame from [[referenceCounts]]; `thresholdPpb`
    * sets the `drifted` flag (TVD ∈ [0, 10⁹]). */
  def run(texts: DataFrame, reference: DataFrame, checkpointDir: String,
      thresholdPpb: Long = 100000000L,
      onReadout: Readout => Unit): StreamingQuery = {
    require(thresholdPpb >= 0 && thresholdPpb <= 1000000000L,
      s"thresholdPpb must be in [0, 1e9], got $thresholdPpb")
    // materialize the reference ONCE; B-row scale makes this a broadcast-
    // sized local table, re-joined per batch against the ≤ B-row state
    val ref = reference.selectExpr("bkt", "c")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    require(ref.agg(coalesce(sum(col("c")), lit(0L))).collect()(0).getLong(0) > 0,
      "reference distribution has no bigrams")
    val counts = texts
      .select(expr("graft_token_hashes(text)").as("th"))
      .select(explode(expr(graft.operators.CorpusOps.bigramBktExpr)).as("bkt"))
      .groupBy(col("bkt")).agg(count(lit(1)).as("o"))
    MicroBatch.start(counts, checkpointDir, OutputMode.Complete) { (batch, batchId) =>
      val n = batch.agg(coalesce(sum(col("o")), lit(0L))).collect()(0).getLong(0)
      val tvd = tvdPpb(batch, ref)
      onReadout(Readout(batchId, n, tvd, tvd >= thresholdPpb))
    }
  }
}
