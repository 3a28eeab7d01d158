package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.WholeStageCodegenExec

/** Each graft_* expression has two bodies: `doGenCode` (the generated
  * code of a whole-stage codegen'd plan) and `nullSafeEval` (an
  * interpreted projection, or a lambda argument of a higher-order
  * function). The two must agree on every input. */
class KernelEvalSpec extends SparkSpec {

  /** Run `f` with `confs` set on the shared session, then restore them. */
  private def withConfs[T](confs: (String, String)*)(f: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every graft_* function gives the same rows interpreted and code-generated") {
    import spark.implicits._
    val long = (1 to 40).map(i => s"w${i % 13} the Quick brown fox $i jumps").mkString(" ")
    val texts = Seq(null, "", long,
      "İstanbul and the Kelvin sign, İİ again and again in text",
      "astral 😀 char😀s split nothing: a😀b c d e f g h i j k")
    val v64 = Array.tabulate(64)(i => (i % 7 - 3).toFloat / 4)
    val zero = Array.fill(64)(0.0f)
    val vecs = Seq[(Array[Float], Array[Float])](
      (null, v64), (zero, v64), (v64, v64.reverse), (v64, v64.take(3)))
    val ints = Seq[(Seq[Int], Seq[Int])](
      (null, Seq(1)), (Seq(), Seq(1, 2)), (Seq(1, 2, 2, 5, 9), Seq(2, 5, 7, 9)),
      (Seq(-3, 0, 4), Seq(-3, 4, 4, 8)))
    val rows = texts.indices.map { i =>
      val (e, f) = vecs(i % vecs.size)
      val (ia, ib) = ints(i % ints.size)
      (i.toLong, texts(i), e, f, ia, ib,
        Option(ia).map(_.map(_.toLong << 33)).orNull, ib.map(_.toLong << 33))
    }
    // a parquet scan, not a local relation: literals would be folded and
    // a local projection is evaluated interpreted, so neither reaches the
    // generated code
    val dir = tmpDir("kernel-eval") + "/in"
    rows.toDF("id", "t", "e", "f", "ia", "ib", "la", "lb").write.parquet(dir)

    // the merge walk refuses nullable elements; parquet reads arrays back
    // nullable, and array_compact narrows them
    val calls = Map(
      "graft_cosine" -> Seq("graft_cosine(e, f)"),
      "graft_srp12" -> Seq("graft_srp12(e)"),
      "graft_srp" -> Seq("graft_srp(e, 20)"),
      "graft_winnow_sel" -> Seq("graft_winnow_sel(t, 3, 4)"),
      "graft_sorted_inter" -> Seq(
        "graft_sorted_inter(array_compact(ia), array_compact(ib))",
        "graft_sorted_inter(array_compact(la), array_compact(lb))"))
    val bloom = Set("graft_bloom_agg", "graft_might_contain")
    val exprs = HashExpressions.builders.map(_._1).filterNot(bloom)
      .flatMap(n => calls.getOrElse(n, Seq(s"$n(t)")))
    assert(exprs.size == 17)

    def run(): (Seq[Row], Boolean) = {
      val df = spark.read.parquet(dir).selectExpr("id" +: exprs: _*)
      val out = df.collect().sortBy(_.getLong(0)).toSeq
      (out, df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
    }
    val (generated, wholeStage) = run()
    val (interpreted, wholeStageOff) = withConfs(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    assert(wholeStage && !wholeStageOff)
    assert(generated.size == texts.size && interpreted.size == texts.size)
    // Objects.equals: NaN cosines (zero vector, mismatched lengths) are
    // equal, 0.0 and -0.0 are not
    generated.zip(interpreted).foreach { case (g, i) =>
      exprs.indices.foreach { c =>
        assert(java.util.Objects.equals(g.get(c + 1), i.get(c + 1)),
          s"${exprs(c)} on row ${g.getLong(0)}: generated ${g.get(c + 1)}, " +
            s"interpreted ${i.get(c + 1)}")
      }
    }
  }
}
