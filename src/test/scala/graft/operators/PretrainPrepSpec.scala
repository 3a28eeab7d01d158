package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.ExplainMode

/** The capstone audit: pretrain_prep's composition is oracle-checked by
  * the registry (hash vs the chained DuckDB twin); THIS suite pins what
  * the oracle can't — the realized-corpus invariants (pack/shard laws,
  * both mix-realization directions live) and the SCALE shape: the whole
  * seven-stage pipeline executes in a bounded number of stages/shuffles
  * (stages fuse instead of re-scanning the corpus per stage), the
  * sampling joins broadcast, and nothing plans a cartesian. */
class PretrainPrepSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val rows = {
    spark.catalog.clearCache()
    Pretrain.pretrainPrep(spark, dir).collect()
  }

  test("both mix-realization directions are live on the fixture") {
    assert(rows.nonEmpty)
    val down = rows.count(_.getAs[Long]("epochs_m") < 1000)
    val up = rows.count(_.getAs[Long]("epochs_m") >= 1000)
    assert(down > 0, "no domain sampled down — the keep_m path is invisible")
    assert(up > 0, "no domain repeated — the epochs_m path is invisible")
  }

  test("pack law: pack_id is the running-length prefix div 4096 per (lang, id-shard)") {
    rows.groupBy(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id") / 1000))
      .foreach { case (_, grp) =>
        var cum = 0L
        grp.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
          assert(r.getAs[Long]("pack_id") == cum / 4096,
            s"pack_id mismatch at doc ${r.getAs[Long]("doc_id")}")
          cum += r.getAs[Long]("n_chars")
        }
      }
  }

  test("shard law: pos is dense 1..n per shard; docs spread over all 8 shards") {
    val byShard = rows.groupBy(_.getAs[Int]("shard"))
    assert(byShard.keySet == (0 until 8).toSet, s"shards ${byShard.keySet}")
    byShard.foreach { case (sh, grp) =>
      val pos = grp.map(_.getAs[Long]("pos")).sorted
      assert(pos == (1L to grp.length).toVector.sorted.toSeq.toArray.toSeq || pos.toSeq == (1L to grp.length),
        s"shard $sh pos not dense: ${pos.take(5).mkString(",")}..")
    }
  }

  test("the pipeline is stage-bounded: no per-stage corpus re-scan explosion") {
    spark.catalog.clearCache()
    val (n, _) = jobsDuring(Pretrain.pretrainPrep(spark, dir).collect())
    // measured 92 stages / 92 jobs on the fixture (AQE materializes one
    // job per exchange, so the count is the pipeline's SHUFFLE budget —
    // fixed by plan shape, not data volume; see SCALE.md pretrain_prep
    // row). The ceiling leaves AQE re-planning slack but fails if a
    // stage stops fusing (each lost fusion adds corpus-scan stages).
    assert(n.stages <= 115,
      s"pipeline submitted ${n.stages} stages (jobs=${n.jobs}) — a stage stopped fusing")
  }

  test("pretrain_prep_fixed: vacuous bound at base scale; bounded pool on a salted corpus") {
    import org.apache.spark.sql.functions._
    // at base scale every doc_id < SaltStride, so the fixed-pool entry
    // must return the SAME realized corpus as the stand-in — pins that
    // the eval-pool parameterization (engine arg + oracle SQL splice)
    // cannot silently change semantics where the bound is vacuous
    val fixed = Pretrain.pretrainPrep(spark, dir,
      evalPoolExpr = Pretrain.FixedEvalPool).collect()
    assert(fixed.map(_.toSeq).toSet == rows.map(_.toSeq).toSet,
      "fixed pool must be a no-op where all ids sit below the stride")

    // 2-copy salted corpus (build_salted_corpus.py's recipe in-JVM): the
    // default %97 pool gains members from the shifted copy (ids + 10M
    // land on different residues), the fixed pool stays exactly the
    // base-copy pool — the bounded-benchmark contract the 100 TB caller
    // relies on
    val out = tmpDir("pretrain_salted")
    val d = graft.Tables.load(spark, dir, "documents")
    d.unionByName(d
        .withColumn("doc_id", col("doc_id") + lit(Pretrain.SaltStride))
        .withColumn("text", concat(col("text"), lit(" zzsalt01")))
        .withColumn("n_chars",
          length(col("text")).cast(d.schema("n_chars").dataType)))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val sd = graft.Tables.load(spark, out, "documents")
    val defPool = sd.filter(Pretrain.DefaultEvalPool).select("doc_id")
    val fixPool = sd.filter(Pretrain.FixedEvalPool).select("doc_id")
    val extra = defPool.exceptAll(fixPool).collect().map(_.getLong(0))
    assert(extra.nonEmpty && extra.forall(_ >= Pretrain.SaltStride),
      s"default pool must gain salted-copy members the fixed pool excludes, got ${extra.toSeq}")
    assert(fixPool.collect().map(_.getLong(0)).forall(_ < Pretrain.SaltStride),
      "fixed pool must hold base-copy docs only")
    // and the fixed-pool pipeline still composes end-to-end on the
    // duplicate-saturated corpus (the decade-probe direction)
    assert(Pretrain.pretrainPrep(spark, out,
      evalPoolExpr = Pretrain.FixedEvalPool).collect().nonEmpty)
  }

  test("pretrain_prep_star/_capped: identical realized corpus at base scale, where the emitters must agree") {
    // at base scale (exact-dedup already ran, near-dup buckets are tiny
    // mutual-similarity cliques) every bounded emitter's keep-first
    // drop set equals all-pairs' — the same cannot-drift pin
    // pretrain_prep_fixed got for the pool parameterization, one knob
    // over: the dedupEmitter arg (engine) and the candidate-CTE splice
    // (oracle) must only diverge from all-pairs where chains/caps
    // actually bind, never at the base fixture
    val allPairs = Pretrain.pretrainPrep(spark, dir,
      evalPoolExpr = Pretrain.FixedEvalPool).collect()
    assert(allPairs.nonEmpty)
    Seq("star", "capped").foreach { e =>
      val got = Pretrain.pretrainPrep(spark, dir,
        evalPoolExpr = Pretrain.FixedEvalPool, dedupEmitter = e).collect()
      assert(got.map(_.toSeq).toSet == allPairs.map(_.toSeq).toSet,
        s"$e and all-pairs capstones must realize the same corpus at base scale")
    }
  }

  test("auto dedupEmitter: the profile-gated three-rung ladder drives every branch") {
    import org.apache.spark.sql.functions._
    // RUNG 1 — base fixture: natural bucket loads sit far under the
    // cap, the profile must choose the exact all-pairs emitter — auto
    // output IS the default output (the guard costs only the profile
    // pass)
    assert(!Dedup.starRegime(graft.Tables.load(spark, dir, "documents")
        .select("doc_id", "text")),
      "the natural fixture must profile below the cap")
    val auto = Pretrain.pretrainPrep(spark, dir,
      evalPoolExpr = Pretrain.FixedEvalPool, dedupEmitter = "auto").collect()
    val allPairs = Pretrain.pretrainPrep(spark, dir,
      evalPoolExpr = Pretrain.FixedEvalPool).collect()
    assert(auto.map(_.toSeq).toSet == allPairs.map(_.toSeq).toSet,
      "below the cap, auto must be the all-pairs capstone exactly")

    // duplicate-saturated corpus: 150 near-twins of a doc that reached
    // the realized corpus (so its clones pass the quality gates too)
    // put one bucket far over the cap
    val keptId = rows.map(_.getAs[Long]("doc_id")).min
    val d = graft.Tables.load(spark, dir, "documents")
    val baseDoc = d.filter(col("doc_id") === keptId)
    val out = tmpDir("pretrain_saturated")
    val twins = (1 to 150).map(i => baseDoc
        .withColumn("doc_id", lit(1000000L + i))
        .withColumn("text", concat(col("text"), lit(f" zzsalt$i%03d"))))
      .reduce(_ unionByName _)
      .withColumn("n_chars", length(col("text")).cast(d.schema("n_chars").dataType))
    d.unionByName(twins).write.mode("overwrite").parquet(s"$out/documents.parquet")
    val satDocs = graft.Tables.load(spark, out, "documents")
      .select("doc_id", "text")
    // RUNG 2 — over the cap but within the capped budget: auto must be
    // the capped capstone (the measured mid-saturation rung)
    assert(Dedup.chooseEmitter(satDocs) == "capped",
      "a 150-twin bucket within budget must select the capped rung")
    val autoSat = Pretrain.pretrainPrep(spark, out,
      evalPoolExpr = Pretrain.FixedEvalPool, dedupEmitter = "auto").collect()
    val cappedSat = Pretrain.pretrainPrep(spark, out,
      evalPoolExpr = Pretrain.FixedEvalPool, dedupEmitter = "capped").collect()
    assert(autoSat.nonEmpty)
    assert(autoSat.map(_.toSeq).toSet == cappedSat.map(_.toSeq).toSet,
      "over the cap within budget, auto must be the capped capstone exactly")
    // RUNG 3 — capped budget exhausted (injected 0 — a real 16.6 B
    // corpus doesn't fit a unit test): auto must fall through to star
    assert(Dedup.chooseEmitter(satDocs, cappedBudget = 0L) == "star",
      "a blown capped budget must select the star rung")
    val autoStar = Pretrain.pretrainPrep(spark, out,
      evalPoolExpr = Pretrain.FixedEvalPool, dedupEmitter = "auto",
      autoCappedBudget = 0L).collect()
    val starSat = Pretrain.pretrainPrep(spark, out,
      evalPoolExpr = Pretrain.FixedEvalPool, dedupEmitter = "star").collect()
    assert(autoStar.map(_.toSeq).toSet == starSat.map(_.toSeq).toSet,
      "past the capped budget, auto must be the star capstone exactly")

    intercept[IllegalArgumentException] {
      Pretrain.pretrainPrep(spark, dir, dedupEmitter = "bogus")
    }
  }

  test("tail plan: sampling joins broadcast; no cartesian; codegen'd (no UDF fallback)") {
    spark.catalog.clearCache()
    val p = Pretrain.pretrainPrep(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"),
      "classifier-weight and mix-plan joins must broadcast (model-sized frames)")
    assert(!p.contains("CartesianProduct"), "nothing in the tail may plan all-pairs")
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      "the realized-corpus tail must stay native/codegen")
  }
}
