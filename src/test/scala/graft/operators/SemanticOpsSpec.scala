package graft.operators

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Hand-computed golden vectors for the round-6 semantic-selection pair:
  * `sample_importance` (DSIR-style integer likelihood-ratio ranking) and
  * `dedup_semantic` (SemDeDup-style in-cell cosine dedup). The miniature
  * fixtures are shaped like the driver parquet so the registered queries
  * run unmodified; every expected number below is derived by hand in the
  * comments, so a regression in the weight arithmetic, the cell
  * assignment tie-break, or the keep rule fails with an exact diff.
  */
class SemanticOpsSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = tmpDir("semops")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // token frequencies: cat corpus=3 (d0:1, d1:2) en=1; dog corpus=2 en=2;
    // fish corpus=3 (d1:1, d3:2) en=0
    val docs = Seq(
      Row(0L, "cat dog", "en", "s", 7L),
      Row(1L, "cat cat fish", "de", "s", 12L),
      Row(2L, "dog", "en", "s", 3L),
      Row(3L, "fish fish", "de", "s", 9L))
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 1), docSchema)
      .write.parquet(s"$d/documents.parquet")
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    // 2-d geometry: v0..v3 are the four seed centroids (the axes); v4/v5/v7
    // sit close to one axis each (cosine ~0.995 / 0.8 to it), v6 is exactly
    // between c1 and c2 (cosine 1/sqrt2 to both — the tie must go to the
    // SMALLER centroid id, cell 1)
    val embs = Seq(
      Row(0L, Seq(1.0f, 0.0f), 0),
      Row(1L, Seq(0.0f, 1.0f), 0),
      Row(2L, Seq(-1.0f, 0.0f), 1),
      Row(3L, Seq(0.0f, -1.0f), 1),
      Row(4L, Seq(1.0f, 0.1f), 0),
      Row(5L, Seq(0.1f, 1.0f), 0),
      Row(6L, Seq(-1.0f, 1.0f), 1),
      Row(7L, Seq(0.6f, -0.8f), 1))
    spark.createDataFrame(spark.sparkContext.parallelize(embs, 1), embSchema)
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  test("sample_importance: integer ratio weights, exact scores, rank order") {
    // w(cat) = 1*1e6 div 3 = 333333; w(dog) = 2*1e6 div 2 = 1000000;
    // w(fish) = 0*1e6 div 3 = 0
    // d0: 333333 + 1000000 = 1333333 over 2 toks -> per_tok 666666
    // d1: 2*333333 + 0     =  666666 over 3 toks -> per_tok 222222
    // d2: 1000000          over 1 tok            -> per_tok 1000000
    // d3: 0                over 2 toks           -> per_tok 0
    val rows = run("sample_importance").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq == Seq(
      (2L, "en", 1L, 1000000L, 1000000L),
      (0L, "en", 2L, 1333333L, 666666L),
      (1L, "de", 3L, 666666L, 222222L),
      (3L, "de", 2L, 0L, 0L)))
  }

  test("dedup_semantic: in-cell pairs drop the larger id; ties assign to the smaller centroid") {
    // cells: v4 -> 0 (cos ~0.995 to c0), v5 -> 1, v6 -> 1 (TIE c1/c2 at
    // 1/sqrt2 -> smaller c_id), v7 -> 3 (cos 0.8 to c3 beats 0.6 to c0)
    // in-cell pairs >= 0.45: (0,4)=0.995, (1,5)=0.995, (1,6)=0.707,
    // (5,6)=0.63, (3,7)=0.8 -> drops = {4,5,6,7}; centroids all keep
    val rows = run("dedup_semantic").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.toSeq == Seq(
      (0L, 0L, 1), (1L, 1L, 1), (2L, 2L, 1), (3L, 3L, 1),
      (4L, 0L, 0), (5L, 1L, 0), (6L, 1L, 0), (7L, 3L, 0)))
  }

  test("knn_label_probe: leave-one-out vote, tie to smaller label, singleton cells excluded") {
    // cells as above: {0,4} {1,5,6} {2} {3,7}. In-cell neighbor votes:
    //  v0<-{4}:0 ok; v4<-{0}:0 ok; v3<-{7}:1 ok; v7<-{3}:1 ok;
    //  v1<-{5:0, 6:1} TIE -> smaller label 0 ok;
    //  v5<-{1:0, 6:1} TIE -> 0 ok;
    //  v6<-{1:0, 5:0} -> 0 WRONG (true 1);
    //  v2 is alone in cell 2 -> no neighbors -> excluded from the probe.
    // label 0: 4/4 correct -> 1000; label 1: {3,6,7}, 2/3 -> 666.
    val rows = run("knn_label_probe").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq((0, 4L, 4L, 1000L), (1, 3L, 2L, 666L)))
  }

  test("hard_negatives: only label-mismatch in-cell neighbors, ranked by cosine") {
    // cells {0,4} {1,5,6} {2} {3,7}; labels 0,0,1,1,0,0,1,1. Mismatches
    // exist only in cell {1,5,6} (v6 is label 1 among label-0 v1/v5):
    //  q=1 -> {6} at cos(v1,v6)=1/sqrt2=.707; q=5 -> {6} at .633;
    //  q=6 -> {1: .707 rank 1, 5: .633 rank 2}. Same-label cells 0/3 and
    //  the singleton cell 2 yield nothing.
    val rows = run("hard_negatives").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getInt(4)))
    assert(rows.toSeq == Seq(
      (1L, 0, 6L, 1, 1), (5L, 0, 6L, 1, 1), (6L, 1, 1L, 0, 1), (6L, 1, 5L, 0, 2)))
    val cosines = run("hard_negatives").collect().map(_.getDouble(5))
    assert(math.abs(cosines(0) - 1.0 / math.sqrt(2)) < 1e-9,
      "cos(v1, v6) must be 1/sqrt(2)")
  }

  test("label_centroid_margin: separable fixture labels read positive margins, label 0 wider") {
    // label-0 vectors sit near the +x/+y axes and label 1 near -x/-y:
    // every vector is closer to its own label centroid (pos_pm = 1000),
    // and the label-0 cluster is tighter around its centroid, so its
    // mean margin exceeds label 1's (which holds the near-boundary v7)
    val rows = run("label_centroid_margin").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(t => (t._1, t._2, t._4)).toSeq ==
      Seq((0, 4L, 1000L), (1, 4L, 1000L)))
    assert(rows(0)._3 > rows(1)._3,
      s"label 0's mean margin must exceed label 1's, got $rows")
  }

  test("srpWidthFor: the occupancy rule — ceil(log2(N/occ)), floored at the demo point") {
    // the probe-validated anchors: 200k vectors at occupancy 64 -> 12
    // bits (SCALE.md round-10 row); small corpora floor at the demo 3
    assert(Similarity.srpWidthFor(200000L) == 12)
    assert(Similarity.srpWidthFor(2000L) == 5)
    assert(Similarity.srpWidthFor(64L) == 3 && Similarity.srpWidthFor(1L) == 3,
      "floor at the fixture demo width")
    // monotone in N, anti-monotone in target occupancy
    assert(Similarity.srpWidthFor(1L << 40) == 34)
    assert(Similarity.srpWidthFor(200000L, targetOccupancy = 16L) == 14)
    intercept[IllegalArgumentException] { Similarity.srpWidthFor(0L) }
  }

  test("corpusSize makes the k ~ sqrt(N) default driver-action-free, with identical results") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    // constructing the frame with corpusSize supplied must launch ZERO
    // Spark jobs (the 100 TB contract: no hidden full-scan count per call)
    val (built, lazyFrames) = jobsDuring(Seq(
      Similarity.semanticDedup(emb, corpusSize = n),
      Similarity.knnLabelProbe(emb, corpusSize = n),
      Similarity.hardNegatives(emb, corpusSize = n)))
    assert(built.jobs == 0,
      s"frame construction with corpusSize must launch no jobs, saw ${built.jobs}")
    // and the sizing is the SAME k the count path derives
    val viaCount = Similarity.semanticDedup(emb).collect().toSeq
    assert(lazyFrames.head.collect().toSeq == viaCount,
      "corpusSize path must produce identical results to the count path")
  }

  test("label_centroid_margin: ragged widths agree with their zero-padded twins (the 64-dim contract)") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    // mixed 2-/3-dim input vs the same vectors hand-padded to 64: the
    // slice+zero-pad contract must make both frames read identically
    // (this is exactly the oracle's fixed range(1, 65) arithmetic)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val ragged = Seq(
      Row(0L, Seq(1.0f, 0.0f), 0),
      Row(1L, Seq(0.9f, 0.1f, 0.0f), 0),
      Row(2L, Seq(-1.0f, 0.0f, 0.2f), 1),
      Row(3L, Seq(0.0f, -1.0f), 1))
    val padded = ragged.map { case Row(id: Long, e: Seq[_], l: Int) =>
      Row(id, e.asInstanceOf[Seq[Float]].padTo(64, 0.0f), l)
    }
    def mk(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val a = Similarity.labelCentroidMargin(mk(ragged)).collect().toSeq
    val b = Similarity.labelCentroidMargin(mk(padded)).collect().toSeq
    assert(a == b, s"ragged vs padded must agree exactly:\n$a\n$b")
  }

  test("prototype_prune: per-cell ceil quota keeps exactly the hardest (lowest-sim) examples") {
    // behavioral invariant against the operator's own cell/sim columns
    // (cross-engine exactness is the oracle's job): within every cell the
    // kept set must be PRECISELY the ceil(n * 700 / 1000) lowest by
    // (sim, vec_id) — prototypical (high-sim) examples are pruned first
    val rows = run("prototype_prune").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.length == 8 && rows.map(_._1).toSeq == (0L to 7L).toSeq)
    rows.groupBy(_._2).foreach { case (cell, members) =>
      val quota = (members.length * 700 + 999) / 1000
      val hardest = members.sortBy(m => (m._3, m._1)).take(quota).map(_._1).toSet
      val kept = members.filter(_._4 == 1).map(_._1).toSet
      assert(kept == hardest,
        s"cell $cell: kept $kept must be the $quota hardest $hardest")
    }
  }

  test("prototypePrune: keepPm sweep — 1000 keeps all, 0 keeps none, 500 halves with ceil") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    def keeps(pm: Int): Map[Long, (Int, Int)] =
      Similarity.prototypePrune(emb, keepPm = pm).collect()
        .map(r => (r.getLong(1), r.getInt(3)))
        .groupBy(_._1).map { case (c, ms) => c -> (ms.length, ms.count(_._2 == 1)) }
    keeps(1000).foreach { case (c, (n, k)) => assert(k == n, s"cell $c at 1000") }
    keeps(0).foreach { case (c, (n, k)) => assert(k == 0, s"cell $c at 0") }
    keeps(500).foreach { case (c, (n, k)) =>
      assert(k == (n * 500 + 999) / 1000, s"cell $c at 500: n=$n kept=$k")
    }
    // ceil floor: every non-empty cell retains at least one example even
    // at the minimum non-zero quota — coverage of the space never drops
    keeps(1).foreach { case (c, (_, k)) => assert(k == 1, s"cell $c at 1") }
    intercept[IllegalArgumentException] {
      Similarity.prototypePrune(emb, keepPm = 1001)
    }
  }
}
