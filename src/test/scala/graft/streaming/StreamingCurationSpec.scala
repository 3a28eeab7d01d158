package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Streaming curation: cross-batch content dedup with bounded state plus
  * the quality gate, over live micro-batches. */
class StreamingCurationSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("dedups content across micro-batches, gates quality, splits kept/rejected in one pass") {
    implicit val sq = spark.sqlContext
    val out = tmpDir("streamcur")
    val ms = MemoryStream[(Long, String, String, Timestamp)]
    val raw = ms.toDF().toDF("doc_id", "text", "lang", "ts")
    val q = StreamingCuration.run(spark, raw, out)
    try {
      ms.addData(
        (1L, "the quick brown fox jumps", "en", t("2024-01-01 00:00:01")),
        (2L, "the quick brown fox jumps", "en", t("2024-01-01 00:00:02")), // in-batch dup of 1
        (3L, "a a a a a a", "en", t("2024-01-01 00:00:03")),               // uniq 1/6 < 0.2 -> rejected
        (4L, "hi", "en", t("2024-01-01 00:00:04")))                       // 1 token < 3 -> rejected
      q.processAllAvailable()
      ms.addData(
        (5L, "the quick brown fox jumps", "en", t("2024-01-01 00:10:00")), // cross-batch dup of 1
        (6L, "an entirely different clean document", "en", t("2024-01-01 00:10:01")))
      q.processAllAvailable()
    } finally q.stop()

    val kept = StreamingCuration.kept(spark, out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 6L),
      s"one canonical copy of the dup plus the clean doc, got $kept")
    val rejected = StreamingCuration.rejected(spark, out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(rejected == Seq(3L, 4L), s"low-uniqueness and too-short docs rejected, got $rejected")
  }

  test("replayed micro-batch appends duplicates; the exactly-once views remove them") {
    val out = tmpDir("streamcur-replay")
    val batch = Seq((10L, "replay safety check document", "en", t("2024-01-01 00:00:01")))
      .toDF("doc_id", "text", "lang", "ts")
      .withColumn("digest", org.apache.spark.sql.functions.md5($"text"))
    // simulate the crash-between-write-and-commit shape: the same batch id
    // is processed twice
    StreamingCuration.processBatch(batch, out, batchId = 7L)
    StreamingCuration.processBatch(batch, out, batchId = 7L)
    assert(spark.read.parquet(s"$out/kept").count() == 1, "the sink log skips the replayed batch id")
    assert(StreamingCuration.kept(spark, out).count() == 1,
      "exactly-once view dedups the replayed (digest, batch_id)")
  }

  test("historical-corpus gate: a streamed doc already in the corpus is rejected as hist_hit") {
    implicit val sq = spark.sqlContext
    val out = tmpDir("streamcur-hist")
    // the already-ingested corpus: one known document
    val corpus = Seq((100L, "previously ingested corpus document text", "en"))
      .toDF("doc_id", "text", "lang")
    val bloom = StreamingCuration.historicalFilter(corpus)
    val ms = MemoryStream[(Long, String, String, Timestamp)]
    val raw = ms.toDF().toDF("doc_id", "text", "lang", "ts")
    val q = StreamingCuration.run(spark, raw, out, historical = Some(bloom))
    try {
      ms.addData(
        (1L, "previously ingested corpus document text", "en", t("2024-01-01 00:00:01")), // cross-corpus dup
        (2L, "a genuinely new clean document arrives", "en", t("2024-01-01 00:00:02")),
        (3L, "b b b b b b", "en", t("2024-01-01 00:00:03"))) // quality reject, NOT historical
      q.processAllAvailable()
    } finally q.stop()

    val kept = StreamingCuration.kept(spark, out)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(2L), s"only the new document survives, got $kept")
    val rej = StreamingCuration.rejected(spark, out)
      .select("doc_id", "hist_hit").as[(Long, Boolean)].collect().toMap
    assert(rej(1L), "the corpus duplicate is marked hist_hit (a Bloom filter never misses a true member)")
    assert(!rej(3L), "the quality rejection is distinguishable from a historical duplicate")
  }

  test("streaming gate and batch exact-dedup layer share one byte-identical content digest") {
    // both layers compile against Portable.contentDigest; this pins the
    // DEFINITION byte-for-byte against an independent JDK reference (md5
    // over UTF-8 bytes, lowercase hex), so neither side can drift without
    // failing here — drift would mean every historical duplicate flows
    // through the stream gate as new
    val docs = Seq(
      (1L, "shared digest check document"),
      (2L, "ünïcode ✓ digest – bytes matter"),
      (3L, "")).toDF("doc_id", "text")
    val jdk = docs.collect().map { r =>
      val md = java.security.MessageDigest.getInstance("MD5")
      r.getLong(0) -> md.digest(r.getString(1).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }.toMap
    val sparkSide = docs.select($"doc_id", graft.functions.Portable.contentDigest.as("digest"))
      .as[(Long, String)].collect().toMap
    assert(sparkSide == jdk, "Portable.contentDigest must be md5(utf8(text)) lowercase hex")
    // the historical filter built over the corpus can therefore never miss
    // a digest the batch exact layer (dedup_exact) would produce — proven
    // through the PRODUCTION probe path (serialize + native might_contain
    // gate), not a direct sketch poke, so the build/probe hash domains
    // (xxhash64 longs on both sides) are what this test pins
    val bytes = StreamingCuration.serialize(StreamingCuration.historicalFilter(docs))
    val hits = StreamingCuration.gate(
      docs.withColumn("digest", graft.functions.Portable.contentDigest), Some(bytes))
      .select($"doc_id", $"hist_hit").as[(Long, Boolean)].collect().toMap
    jdk.keys.foreach(id =>
      assert(hits(id), s"filter missed true member doc $id (a Bloom filter never misses)"))
  }

  test("classifier gate: batch-trained weights score the stream bit-identically to the batch scorer") {
    implicit val sq = spark.sqlContext
    // batch-side training corpus: positives (en) share bigrams, negatives
    // (de) share different bigrams
    val train = Seq(
      (0L, "good clean training text sample", "en"),
      (1L, "good clean training text another", "en"),
      (2L, "schlecht unrein beispiel text probe", "de"),
      (3L, "schlecht unrein beispiel text mehr", "de"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .withColumn("n_chars", org.apache.spark.sql.functions.lit(0L))
    val weights = graft.operators.CorpusOps.trainHashedClassifier(train, "lang = 'en'")
    val w = StreamingCuration.denseWeights(weights)
    assert(w.length == 8192)

    // parity: the map-side stream score must equal the batch scorer's
    // (join + group) score on the SAME documents, doc for doc
    val probe = Seq(
      (10L, "good clean training text fresh", "en"),
      (11L, "schlecht unrein beispiel text neu", "de"),
      (12L, "totally unseen vocabulary here now", "en"))
      .toDF("doc_id", "text", "lang")
    val batchScores = graft.operators.CorpusOps
      .hashedClassifierScore(probe, weights)
      .select($"doc_id", $"score_ppb").as[(Long, Long)].collect().toMap
    val streamGate = StreamingCuration.classifierGate(
      StreamingCuration.gate(probe), w)
    val streamScores = streamGate
      .select($"doc_id", $"score_ppb").as[(Long, Long)].collect().toMap
    assert(streamScores == batchScores,
      s"stream $streamScores must equal batch $batchScores")
    // the gate is a pure projection: no shuffle, no Scala UDF in the plan
    val plan = streamGate.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "classifier scoring must add no shuffle")
    assert(!plan.contains("ScalaUDF"), "no boxed UDF in the intake hot path")

    // end-to-end: positive-bigram doc kept; negative-bigram doc passes the
    // heuristic gate but dies at the learned gate
    val out = tmpDir("streamcur-clf")
    val ms = MemoryStream[(Long, String, String, Timestamp)]
    val raw = ms.toDF().toDF("doc_id", "text", "lang", "ts")
    val q = StreamingCuration.run(spark, raw, out, classifier = Some((w, 0L)))
    try {
      ms.addData(
        (20L, "good clean training text flows", "en", t("2024-01-01 00:00:01")),
        (21L, "schlecht unrein beispiel text kommt", "de", t("2024-01-01 00:00:02")))
      q.processAllAvailable()
    } finally q.stop()
    val kept = StreamingCuration.kept(spark, out)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(20L), s"only the positive-scored doc survives, got $kept")
    val rej = StreamingCuration.rejected(spark, out)
      .select($"doc_id", $"score_ppb").as[(Long, Long)].collect().toMap
    assert(rej.contains(21L) && rej(21L) <= 0L,
      s"the negative-scored doc lands in rejected with its score, got $rej")
    intercept[IllegalArgumentException] {
      StreamingCuration.classifierGate(StreamingCuration.gate(probe), w.take(100))
    }
  }
}
