package graft.operators

import graft.SparkSpec
import graft.functions.Portable.P
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** dedup_winnow: the winnowing selection contract (Schleimer et al.
  * SIGMOD 2003) replayed in plain Scala — token-gram hashes, rightmost
  * window minimum, distinct (pos, fp) — plus the coverage guarantee
  * (any shared run of >= w + k - 1 tokens shares a fingerprint) and
  * both pairing tiers. Cross-engine exactness is the DuckDB oracle's
  * job at sf0.01.
  */
class WinnowSpec extends SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def docs(rows: (Long, String)*) = {
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2),
      docSchema)
  }

  // the operator's exact arithmetic in plain Scala
  private def tokHash(t: String): Long =
    t.foldLeft(0L)((h, c) => (h * 31 + c.toLong) % P)
  private def replay(text: String, k: Int = 3, w: Int = 4): Set[(Long, Long)] = {
    val th = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).map(tokHash)
    val h = (0 to th.length - k).map(i =>
      (0 until k).foldLeft(0L)((acc, j) => acc * 31 + th(i + j)) % P)
    (1 to h.length - w + 1).map { j => // 1-based window start
      val win = h.slice(j - 1, j - 1 + w)
      val mv = win.min
      val rpos = j + win.lastIndexOf(mv) // rightmost, global 1-based
      (rpos.toLong, mv)
    }.toSet
  }

  test("native graft_winnow_sel equals the round-16 let-bound SQL expression bit-for-bit") {
    // the SQL shape winnowSelect carried before the native expression
    // (round 17) — kept HERE as the equality oracle for the rewrite,
    // including on adversarial tie/boundary shapes and non-default (k, w)
    def sqlSel(k: Int, w: Int): String = {
      val km1 = k - 1
      val wm1 = w - 1
      val gram = (2 to k).foldLeft("element_at(th, gi)") { (acc, j) =>
        s"($acc * 31 + element_at(th, gi + ${j - 1}))"
      } + s" % ${P}L"
      s"""transform(array(graft_token_hashes(text)), th ->
         |  transform(array(transform(
         |      slice(sequence(0, greatest(size(th) - $km1, 0)), 2, greatest(size(th) - $km1, 0)),
         |      gi -> $gram)), h ->
         |    array_distinct(transform(
         |      slice(sequence(0, greatest(size(h) - $wm1, 0)), 2, greatest(size(h) - $wm1, 0)),
         |      j -> transform(array(array_min(slice(h, j, $w))), mv ->
         |             array_max(filter(sequence(j, j + $wm1),
         |               p -> element_at(h, p) = mv)) * ${1L << 31}L + mv)[0]))
         |  )[0]
         |)[0]""".stripMargin
    }
    val texts = (0L, "the quick brown fox jumps over the lazy dog near the river") ::
      (1L, "a b a b a b a b a b a b") :: // heavy ties: rightmost rule
      (2L, "x y z") ::                   // exactly k tokens: grams but no window
      (3L, "one two") ::                 // fewer than k tokens: no grams
      (4L, "Mixed CASE punct, and   runs!! of . spaces 42 numbers 42 42") ::
      (5L, ("w" + "ord ") * 40) :: Nil   // one repeated token: all grams equal
    for ((k, w) <- Seq((3, 4), (2, 3), (4, 5))) {
      val d = docs(texts: _*)
      val both = d.selectExpr("doc_id",
        s"graft_winnow_sel(text, $k, $w) AS nat", s"${sqlSel(k, w)} AS old")
        .collect()
      both.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"doc ${r.getLong(0)} (k=$k, w=$w): native and SQL selections differ")
      }
    }
  }

  test("selection matches the plain-Scala replay exactly") {
    val texts = Seq(
      0L -> "the quick brown fox jumps over the lazy dog near the river bank today",
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "a b a b a b a b a b a b", // heavy ties: pins the RIGHTMOST rule
      3L -> "one two three")            // exactly k tokens -> 1 gram, no window
    val got = Dedup.winnowSelect(docs(texts: _*)).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => (r.getLong(1), r.getLong(2))).toSet }
    texts.foreach { case (id, t) =>
      val exp = replay(t)
      assert(got.getOrElse(id, Set.empty) == exp, s"doc $id")
    }
    assert(!got.contains(3L), "fewer grams than the window -> no fingerprints")
  }

  test("any shared run of >= w + k - 1 = 6 tokens is caught by a shared fingerprint") {
    val shared = "lorem ipsum dolor sit amet consectetur"
    val d = docs(
      0L -> s"completely unrelated opening words here $shared and then something else",
      1L -> s"$shared trailing content that differs entirely from the first")
    val fps = Dedup.winnowSelect(d).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(2)).toSet }
    assert((fps(0L) intersect fps(1L)).nonEmpty, "the winnowing guarantee")
  }

  test("pairs: shared_fp and overlap_pm are exact; disjoint docs never pair") {
    val shared = "one two three four five six seven eight nine ten"
    val d = docs(
      0L -> s"$shared plus alpha beta gamma delta epsilon zeta",
      1L -> s"$shared plus eta theta iota kappa lambda mu",
      2L -> "entirely different vocabulary with no overlap at all whatsoever here")
    val got = Dedup.winnowPairs(d, minShared = 1).collect()
    assert(got.length == 1 && got(0).getLong(0) == 0L && got(0).getLong(1) == 1L)
    // exact expectation from the replay: shared distinct fp values
    val f0 = replay(s"$shared plus alpha beta gamma delta epsilon zeta").map(_._2)
    val f1 = replay(s"$shared plus eta theta iota kappa lambda mu").map(_._2)
    val sharedFp = (f0 intersect f1).size.toLong
    assert(got(0).getLong(2) == sharedFp)
    assert(got(0).getLong(3) == sharedFp * 1000L / math.min(f0.size, f1.size))
  }

  test("df > dfCap fingerprints emit hub pairs only, never df^2") {
    // six docs all sharing one 6-token run; dfCap = 2 makes its
    // fingerprints crowded -> only (hub=0, member) pairs survive
    val shared = "common boilerplate run of six tokens"
    val d = docs((0L to 5L).map(i => i -> s"$shared unique$i filler$i words$i here$i now$i"): _*)
    val got = Dedup.winnowPairs(d, dfCap = 2, minShared = 1).collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getLong(0) == 0L, "hub tier pairs only against the bucket-min doc"))
    assert(got.map(_.getLong(1)).toSet == (1L to 5L).toSet, "every member stays witnessed")
  }
}
