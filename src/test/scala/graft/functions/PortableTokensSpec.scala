package graft.functions

import graft.SparkSpec

/** graft_tokens: the native compiled tokenizer must equal the lambda form
  * it replaced in round 17 —
  * `filter(split(lower(c), '[^a-z0-9]+'), t -> length(t) > 0)` — which
  * remains HERE as the equality oracle (the WinnowSpec precedent), on the
  * exact edge shapes the equivalence argument leans on: supplementary-
  * plane chars, separator runs, empty and null inputs. Where full and
  * simple lowercase differ (U+0130) it follows DuckDB's per-code-point
  * `lower()` instead, like every other native scan: the last test pins
  * graft_tokens and graft_token_hashes to one tokenization. The DuckDB
  * oracle keeps checking the contract end-to-end at sf0.01 through every
  * tokenizing query. */
class PortableTokensSpec extends SparkSpec {

  private val oldSql = "filter(split(lower(text), '[^a-z0-9]+'), t -> length(t) > 0)"

  test("native tokens equal the lambda form on edge shapes") {
    import spark.implicits._
    val texts = Seq(
      "The quick brown fox! 42 times.",
      "", "   ", "...!!,,", // empty / separator-only
      "leading&&&trailing***", "&&&wrapped&&&",
      "KELVKN sign", // U+212A lowers to k under both lowerings
      "astral 😀 emoji splits tokens",
      "Ligature ﬁle stays separator", // U+FB01 lowers to itself (fi ligature, not [a-z])
      "ALLCAPS lower MiXeD 0123456789",
      "a", "7", "ab" * 5000) // single-char and long-run shapes
    val df = texts.toDF("text")
    val rows = df.selectExpr("text", "graft_tokens(text) AS nat", s"$oldSql AS old")
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"tokens differ on ${r.getString(0).take(40)}")
    }
    // null propagates identically (both forms are null-in null-out)
    val nulls = Seq[Option[String]](None).toDF("text")
      .selectExpr("graft_tokens(text) AS nat", s"$oldSql AS old").collect()(0)
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
    // U+0130 lowers per code point to 'i' (DuckDB's lower()), where the
    // lambda form's full lowering gives i + U+0307 and splits the token
    val tr = Seq("İstanbul KELVKN sign").toDF("text")
      .selectExpr("graft_tokens(text)").collect()(0).getSeq[String](0)
    assert(tr == Seq("istanbul", "kelvkn", "sign"))
  }

  test("graft_tokens and graft_token_hashes tokenize alike") {
    import spark.implicits._
    val texts = Seq(
      "İstanbul İİ xİy", // U+0130: one code point, lowers to 'i'
      "KELVKN Kelvin K", // U+212A KELVIN SIGN lowers to 'k'
      "ÉCOLE straße ﬁle", // lowered outside [a-z]: separators
      "astral 😀 emoji", "MiXeD 0123 a_b-c", "", "...")
    val rows = texts.toDF("text").selectExpr("text",
      "transform(graft_tokens(text), x -> graft_polyhash(x)) AS via_tokens",
      "graft_token_hashes(text) AS hashes").collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"token hashes differ on ${r.getString(0)}")
    }
  }
}
