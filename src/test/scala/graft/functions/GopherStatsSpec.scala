package graft.functions

import graft.SparkSpec

/** graft_gopher_stats: the native one-pass gate statistics must equal the
  * round-16 lambda form column-for-column (the WinnowSpec /
  * PortableTokensSpec equality-oracle pattern) — token count, summed
  * token length, letter-bearing token count, distinct stop-list hits —
  * including the shapes each statistic can get wrong: all-digit tokens
  * (alpha), repeated stopwords (distinctness), Unicode lowering, empty
  * and null text. U+0130 follows DuckDB's per-code-point lowering, not
  * the lambda form's full lowering (PortableTokensSpec). */
class GopherStatsSpec extends SparkSpec {

  private val oldSql =
    "filter(split(lower(text), '[^a-z0-9]+'), t -> length(t) > 0)"

  test("native stats equal the lambda form column-for-column") {
    import spark.implicits._
    val texts = Seq(
      "The quick brown fox and the lazy dog have to be with that of it",
      "42 007 12345 only digits here 99",
      "the the the THE tHe", // repeated stopwords: distinct count = 1
      "", "  ...  ",
      "Kelvin sign mixed ünïcödé",
      "be with", "x")
    val rows = texts.toDF("text")
      .selectExpr(
        "graft_gopher_stats(coalesce(text, '')) AS gs",
        s"$oldSql AS toks")
      .selectExpr(
        "gs.n_words", "gs.sum_len", "gs.n_alpha", "gs.stop_hits",
        "size(toks) AS e_n",
        "aggregate(toks, 0L, (a, t) -> a + length(t)) AS e_sum",
        "CAST(size(filter(toks, t -> t rlike '[a-z]')) AS BIGINT) AS e_alpha",
        "size(array_intersect(array_distinct(toks), " +
          "array('the','be','to','of','and','that','have','with'))) AS e_stops")
      .collect()
    rows.foreach { r =>
      assert(r.getInt(0) == r.getInt(4), "n_words")
      assert(r.getLong(1) == r.getLong(5), "sum_len")
      assert(r.getLong(2) == r.getLong(6), "n_alpha")
      assert(r.getInt(3) == r.getInt(7), "stop_hits")
    }
    // U+0130 lowers per code point to 'i' (DuckDB's lower(), the gopher
    // oracle's tokenizer), where the lambda form's full lowering splits
    // "İstanbul" into i + stanbul: 7 tokens, not 8
    val u = Seq("İstanbul Kelvin sign mixed ünïcödé").toDF("text")
      .selectExpr("graft_gopher_stats(text) AS gs")
      .selectExpr("gs.n_words", "gs.sum_len", "gs.n_alpha", "gs.stop_hits")
      .collect()(0)
    assert((u.getInt(0), u.getLong(1), u.getLong(2), u.getInt(3)) == ((7, 26L, 7L, 0)))
    // the one-definition stop list renders the same DuckDB literal the
    // oracle CTE previously hardcoded
    assert(HashExpressions.gopherStopsDuckList ==
      "['the','be','to','of','and','that','have','with']")
  }
}
