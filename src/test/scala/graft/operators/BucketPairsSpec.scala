package graft.operators

import graft.SparkSpec
import BucketPairs.{All, Capped, Star, Tiered}

/** The in-bucket pair emitter's volumes, policy by policy, on two buckets
  * of depth 5 and 70 (cap 64, depth cap 50, mid cap 4) — and the
  * bucket-load profile's prices checked against what the emitter emits on
  * the same signatures, so the emitter ladder's price and the emitter
  * cannot drift apart.
  */
class BucketPairsSpec extends SparkSpec {
  import spark.implicits._

  private val small = 1L to 5L     // depth 5
  private val deep = 101L to 170L  // depth 70

  private def pairs(v: BucketPairs.Volume): Set[(Long, Long)] = {
    val rows = (small.map(("x", _)) ++ deep.map(("y", _))).toDF("k", "doc_id")
    BucketPairs(rows, Seq("k"), "doc_id", v).as[(Long, Long)].collect().toSet
  }

  /** (pairs in the depth-5 bucket, pairs in the depth-70 bucket) */
  private def split(p: Set[(Long, Long)]): (Int, Int) = {
    assert(p.forall { case (a, b) => a < b && small.contains(a) == small.contains(b) })
    (p.count(pr => small.contains(pr._1)), p.count(pr => deep.contains(pr._1)))
  }

  test("each policy emits its documented volume per bucket") {
    val all = pairs(All)
    val star = pairs(Star)
    val capped = pairs(Capped(64))
    assert(split(all) == (10, 2415))
    assert(split(star) == (4, 69))
    assert(split(capped) == (10, 2400))
    assert(split(pairs(Tiered(50, None))) == (10, 0))
    assert(split(pairs(Tiered(50, Some(Star)))) == (10, 69))
    assert(split(pairs(Tiered(50, Some(Capped(4))))) == (10, 270))
    assert(star.subsetOf(capped) && capped.subsetOf(all))
  }

  test("bucketProfileOf prices exactly what the emitter emits") {
    val sigA = Seq.fill(16)(7L)
    val sigB = Seq.fill(16)(9L)
    val sig = (small.map((_, sigA)) ++ deep.map((_, sigB))).toDF("doc_id", "sig")
    // one band of all 16 lanes: no cross-band repeats, so the profile's
    // pre-distinct volumes are the emitter's row counts
    val bands = Dedup.bandsOf(sig, 1, 16)
    def emitted(v: BucketPairs.Volume): Long =
      BucketPairs(bands, Seq("band", "key"), "doc_id", v).count()
    val row = Dedup.bucketProfileOf(sig, 64, 1, 16).collect()(0)
    assert(row.getAs[Long]("cand_pairs") == 2425L)
    assert(row.getAs[Long]("cand_pairs_star") == 73L)
    assert(row.getAs[Long]("cand_pairs_capped") == 2410L)
    assert(emitted(All) == 2425L)
    assert(emitted(Star) == 73L)
    assert(emitted(Capped(64)) == 2410L)
  }
}
