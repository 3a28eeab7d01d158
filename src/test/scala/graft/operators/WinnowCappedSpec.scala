package graft.operators

import graft.SparkSpec

/** The capped deep-bucket tier on the fingerprint families (winnow +
  * ngram-jaccard): the MinHash emitter ladder's middle rung
  * (dedup_minhash_capped's rank rule) applied where the two-tier df-cap
  * policy used to jump straight from full pairing to hub pairing. This
  * suite pins the ladder's containment on a mid-saturation fixture —
  * hub (midCap = 1) ⊆ capped (midCap = k) ⊆ full — and the exact pair
  * set the capped tier owes on a saturated bucket. The
  * dedup_winnow_capped oracle pins cross-engine exactness.
  */
class WinnowCappedSpec extends SparkSpec {
  import spark.implicits._

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet

  // n docs sharing one long boilerplate run (every winnow fingerprint /
  // min-gram bucket then has df = n) plus a tiny fixed-width unique tail
  // (df = 1, dropped), all the same length so they share length bands
  private def saturated(n: Int): org.apache.spark.sql.DataFrame = {
    val boiler = (1 to 60).map(i => s"common$i").mkString(" ")
    (1 to n).map(i => (i.toLong, f"$boiler tail$i%04d")).toDF("doc_id", "text")
  }

  test("winnow: hub ⊆ capped ⊆ full on a saturated bucket; capped owes the resident rank rule") {
    val docs = saturated(30)
    val dfCap = 8
    val hub = pairSet(Dedup.winnowPairs(docs, dfCap = dfCap, midCap = 1))
    val capped = pairSet(Dedup.winnowPairs(docs, dfCap = dfCap, midCap = 4))
    val full = pairSet(Dedup.winnowPairs(docs, dfCap = 100000))
    assert(hub.subsetOf(capped), s"hub extras: ${hub -- capped}")
    assert(capped.subsetOf(full), s"capped extras: ${capped -- full}")
    assert(hub.size < capped.size && capped.size < full.size,
      s"30-doc buckets over dfCap=$dfCap must make containment strict " +
        s"(${hub.size} / ${capped.size} / ${full.size})")
    // the 30 near-twins share every deep bucket: hub pairs are (1, b);
    // capped@4 adds exactly the rank-2..4 residents' pairs
    assert(hub == (2L to 30L).map((1L, _)).toSet,
      s"hub tier must be (bucket-min, member): $hub")
    assert(capped == (for (a <- 1L to 4L; b <- (a + 1) to 30L) yield (a, b)).toSet,
      s"capped tier must be the first-4-residents rank rule: $capped")
    assert(full == (for (a <- 1L to 30L; b <- (a + 1) to 30L) yield (a, b)).toSet,
      "full pairing must be the complete clique")
  }

  test("winnow: midCap = 1 IS the hub tier (plan-equivalent results)") {
    val docs = saturated(20)
    assert(pairSet(Dedup.winnowPairs(docs, dfCap = 8, midCap = 1)) ==
      (2L to 20L).map((1L, _)).toSet)
  }

  test("ngram-jaccard: hub ⊆ capped on a df > 50 bucket; capped restores resident-resident witnesses") {
    // 60 same-length near-twins: every (lang, band, tag, mva, mvb) bucket
    // holds all 60 (df = 60 > 50), so the deep tier engages; all pairs
    // are mutually near-identical, so every emitted candidate verifies
    val docs = saturated(60)
      .selectExpr("doc_id", "'en' AS lang", "CAST(length(text) AS BIGINT) AS n_chars", "text")
    val hub = pairSet(Dedup.ngramPipelineOf(docs, midCap = 1))
    val capped = pairSet(Dedup.ngramPipelineOf(docs, midCap = 4))
    assert(hub.subsetOf(capped), s"hub extras: ${hub -- capped}")
    assert(hub == (2L to 60L).map((1L, _)).toSet,
      s"hub tier must witness every member against the bucket min: $hub")
    assert(capped == (for (a <- 1L to 4L; b <- (a + 1) to 60L) yield (a, b)).toSet,
      s"capped tier must be the first-4-residents rank rule: $capped")
  }
}
