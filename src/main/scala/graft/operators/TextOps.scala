package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Portable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.immutable.ListMap

/** Text-analysis operators over the `documents` table: language ID
  * (stopword-vote heuristic), quality scoring, token counting, document
  * fingerprinting (rolling hash). All are single-pass, shuffle-free
  * per-row transforms — at 100 TB they run map-side inside whole-stage
  * codegen with no data movement.
  */
object TextOps {

  private val stop = graft.functions.Stopwords.lists

  private def listLit(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  // private[operators]: dedup_keep_best's oracle reuses the exact quality
  // formula — one definition, impossible to desynchronize
  private[operators] def duckScoreSql(lang: String): String =
    s"len(list_filter(toks, t -> list_contains(${listLit(stop(lang))}, t)))"

  /** The text_quality score formula over a token-list column named `toks`
    * (DuckDB side) — shared verbatim with dedup_keep_best's oracle. */
  private[operators] val duckQualitySql: String =
    s"""CASE WHEN len(toks) > 0 THEN
       |  least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.4
       |  + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 0.3
       |  + CAST(${duckScoreSql("en")} AS DOUBLE) / len(toks) * 0.3
       |ELSE 0.0 END""".stripMargin

  /** Spark twin of [[duckQualitySql]] over a graft_text_stats struct
    * column named `st`. */
  private[operators] val sparkQualitySql: String =
    """CASE WHEN st.n_tokens > 0 THEN
      |  least(CAST(st.n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
      |  + CAST(st.n_uniq AS DOUBLE) / st.n_tokens * 0.3
      |  + CAST(st.s_en AS DOUBLE) / st.n_tokens * 0.3
      |ELSE CAST(0 AS DOUBLE) END""".stripMargin

  val defs: ListMap[String, QueryDef] = ListMap(

    // ---- language identification: stopword vote with deterministic
    // tie-break (fixed precedence chain) ------------------------------------
    "text_lang_id" -> QueryDef(
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .selectExpr("doc_id", "lang AS labeled_lang", "graft_text_stats(text) AS st")
          .selectExpr("doc_id", "labeled_lang",
            "st.s_en AS s_en", "st.s_es AS s_es",
            "st.s_de AS s_de", "st.s_fr AS s_fr")
          .selectExpr("doc_id", "labeled_lang",
            """CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
              |     WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
              |     WHEN s_de >= s_fr THEN 'de'
              |     ELSE 'fr' END AS pred_lang""".stripMargin,
            "s_en", "s_es", "s_de", "s_fr")
          .transform(graft.Sorted.byNames(_, "doc_id"))
      },
      s"""WITH t AS (SELECT doc_id, lang AS labeled_lang,
         |  ${Portable.duckToksSql("text")} AS toks
         |  FROM documents),
         |sc AS (SELECT doc_id, labeled_lang,
         |  ${duckScoreSql("en")} AS s_en, ${duckScoreSql("es")} AS s_es,
         |  ${duckScoreSql("de")} AS s_de, ${duckScoreSql("fr")} AS s_fr
         |  FROM t)
         |SELECT doc_id, labeled_lang,
         |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
         |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
         |       WHEN s_de >= s_fr THEN 'de'
         |       ELSE 'fr' END AS pred_lang,
         |  s_en, s_es, s_de, s_fr
         |FROM sc ORDER BY doc_id""".stripMargin),

    // ---- language-ID confusion matrix: the labeled `lang` column vs the
    // stop-word-score prediction text_lang_id emits — the evaluation
    // harness for the heuristic itself (classifier_eval's shape, for
    // langid): per (truth, predicted) counts plus row-normalized
    // per-mille recall, the matrix a pipeline reads before trusting the
    // cheap n-gram gate on a new corpus slice. Same argmax contract as
    // text_lang_id (ties break en > es > de > fr, one definition in both
    // engines). Scale shape: ONE persisted map-side prediction pass
    // (native graft_text_stats, codegen'd) feeds the confusion agg AND
    // the per-truth totals; both aggs are partial+final over the
    // |langs|²- and |langs|-row domains; totals broadcast back. ----------
    "langid_eval" -> QueryDef(
      (s, dir) => {
        val pred = Tables.load(s, dir, "documents")
          .selectExpr("lang AS labeled_lang", "graft_text_stats(text) AS st")
          .selectExpr("labeled_lang",
            """CASE WHEN st.s_en >= st.s_es AND st.s_en >= st.s_de AND st.s_en >= st.s_fr THEN 'en'
              |     WHEN st.s_es >= st.s_de AND st.s_es >= st.s_fr THEN 'es'
              |     WHEN st.s_de >= st.s_fr THEN 'de'
              |     ELSE 'fr' END AS pred_lang""".stripMargin)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val tot = pred.groupBy(col("labeled_lang"))
          .agg(count(lit(1)).as("n_true"))
        pred.groupBy(col("labeled_lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n"))
          .join(broadcast(tot), "labeled_lang")
          .selectExpr("labeled_lang", "pred_lang", "n", "n_true",
            "n * 1000L div n_true AS row_pm")
          .orderBy("labeled_lang", "pred_lang")
      },
      s"""WITH t AS (SELECT lang AS labeled_lang,
         |    ${Portable.duckToksSql("text")} AS toks FROM documents),
         |sc AS (SELECT labeled_lang,
         |    ${duckScoreSql("en")} AS s_en, ${duckScoreSql("es")} AS s_es,
         |    ${duckScoreSql("de")} AS s_de, ${duckScoreSql("fr")} AS s_fr
         |  FROM t),
         |p AS (SELECT labeled_lang,
         |    CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
         |         WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
         |         WHEN s_de >= s_fr THEN 'de'
         |         ELSE 'fr' END AS pred_lang FROM sc),
         |tot AS (SELECT labeled_lang, COUNT(*) AS n_true FROM p GROUP BY 1)
         |SELECT labeled_lang, pred_lang, COUNT(*) AS n, n_true,
         |  COUNT(*) * 1000 // n_true AS row_pm
         |FROM p JOIN tot USING (labeled_lang)
         |GROUP BY labeled_lang, pred_lang, n_true
         |ORDER BY labeled_lang, pred_lang""".stripMargin),

    // ---- quality scoring: length/punctuation/stopword/uniqueness ratios ---
    "text_quality" -> QueryDef(
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .selectExpr("doc_id", "n_chars", "graft_text_stats(text) AS st")
          .selectExpr("doc_id", "n_chars", "st", "st.n_punct AS n_punct",
            "st.n_tokens AS n_tokens",
            "st.n_uniq AS n_uniq",
            "st.s_en AS n_stop",
            "st.sum_len AS sum_len")
          // zero-token docs (all punctuation / empty) must score 0, not
          // throw DIVIDE_BY_ZERO under ANSI — same guard as text_repetition.
          // quality comes from the ONE shared formula (sparkQualitySql) that
          // dedup_keep_best's argmax also uses — a diverging inline copy
          // here would silently change which cluster member wins there.
          .selectExpr("doc_id", "n_chars", "n_tokens", "n_uniq", "n_punct",
            "CASE WHEN n_tokens > 0 THEN CAST(sum_len AS DOUBLE) / n_tokens ELSE CAST(0 AS DOUBLE) END AS avg_token_len",
            "CASE WHEN n_tokens > 0 THEN CAST(n_uniq AS DOUBLE) / n_tokens ELSE CAST(0 AS DOUBLE) END AS uniq_ratio",
            "CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE CAST(0 AS DOUBLE) END AS stop_ratio",
            s"$sparkQualitySql AS quality")
          .transform(graft.Sorted.byNames(_, "doc_id"))
      },
      s"""WITH t AS (SELECT doc_id, n_chars,
         |  ${Portable.duckToksSql("text")} AS toks,
         |  length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct
         |  FROM documents),
         |m AS (SELECT doc_id, n_chars, n_punct,
         |  len(toks) AS n_tokens, len(list_distinct(toks)) AS n_uniq,
         |  ${duckScoreSql("en")} AS n_stop,
         |  list_reduce(list_prepend(0::BIGINT, list_transform(toks, t -> length(t)::BIGINT)), (a, b) -> a + b) AS sum_len,
         |  $duckQualitySql AS quality
         |  FROM t)
         |SELECT doc_id, n_chars, n_tokens, n_uniq, n_punct,
         |  CASE WHEN n_tokens > 0 THEN CAST(sum_len AS DOUBLE) / n_tokens ELSE 0.0 END AS avg_token_len,
         |  CASE WHEN n_tokens > 0 THEN CAST(n_uniq AS DOUBLE) / n_tokens ELSE 0.0 END AS uniq_ratio,
         |  CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio,
         |  quality
         |FROM m ORDER BY doc_id""".stripMargin),

    // ---- token counting: whitespace split, alnum-word extraction, and a
    // BPE-ish segmentation (letter runs | digit runs | punctuation runs —
    // the pre-merge word-splitting shape of GPT-style tokenizers).
    // Whitespace is the EXPLICIT class [ \t\n\f\r], not \s: Java's \s
    // includes vertical tab U+000B while RE2's excludes it, so the \s
    // shorthand silently diverges across engines on a VT (review find;
    // same class pinned in text_normalize). ---------------------------------
    "token_counts" -> QueryDef(
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .selectExpr("doc_id", "source",
            "size(filter(split(text, '[ \\\\t\\\\n\\\\f\\\\r]+'), t -> length(t) > 0)) AS n_ws_tokens",
            s"size(${Portable.tokensSql("text")}) AS n_re_tokens",
            "size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \\\\t\\\\n\\\\f\\\\r]+', 0)) AS n_bpe_tokens",
            "n_chars")
          .transform(graft.Sorted.byNames(_, "doc_id"))
      },
      """SELECT doc_id, source,
        | len(list_filter(string_split_regex(text, '[ \t\n\f\r]+'), t -> length(t) > 0)) AS n_ws_tokens,
        | len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS n_re_tokens,
        | len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\f\r]+', 0)) AS n_bpe_tokens,
        | n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- text normalization: lowercase + whitespace-run collapse + trim —
    // the canonicalization step before dedup/tokenization in a training
    // pipeline. Map-side; fingerprint of the normalized form via the
    // native graft_polyhash so the oracle can replay it char-wise.
    // The oracle's trim is pinned to ' ': DuckDB's bare trim strips
    // UNICODE whitespace (NBSP included) while Spark's strips only ASCII
    // space, so an unpinned trim silently diverges on a trailing U+00A0
    // (fuzz find, seed 77) — the operator's contract is the explicit
    // ASCII class throughout. ----------------------------------------------
    "text_normalize" -> QueryDef(
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .selectExpr("doc_id",
            "trim(regexp_replace(lower(text), '[ \\\\t\\\\n\\\\f\\\\r]+', ' ')) AS norm")
          .selectExpr("doc_id", "length(norm) AS norm_len",
            "graft_polyhash(norm) AS norm_fp")
          .transform(graft.Sorted.byNames(_, "doc_id"))
      },
      s"""WITH n AS (
         |  SELECT doc_id, trim(regexp_replace(lower(text), '[ \\t\\n\\f\\r]+', ' ', 'g'), ' ') AS norm
         |  FROM documents)
         |SELECT doc_id, length(norm) AS norm_len,
         |  ${Portable.duckPolyHashSql("norm")} AS norm_fp
         |FROM n ORDER BY doc_id""".stripMargin),

    // ---- document fingerprint: char-level rolling hash (base 31 mod P) of
    // the full text plus a first-8-token prefix fingerprint ------------------
    "doc_fingerprint" -> QueryDef(
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .selectExpr("doc_id",
            "graft_polyhash(text) AS fp",
            // token char-hashes are native; only the 8-element prefix fold
            // stays a (tiny) SQL lambda
            s"""aggregate(slice(graft_token_hashes(text), 1, 8),
               | bigint(0), (h, x) -> (h * 131 + x) % ${Portable.P}L) AS prefix_fp""".stripMargin)
          .transform(graft.Sorted.byNames(_, "doc_id"))
      },
      s"""SELECT doc_id,
         | ${Portable.duckPolyHashSql("text")} AS fp,
         | list_reduce(list_prepend(0::BIGINT,
         |   list_transform(
         |     ${Portable.duckToksSql("text")}[1:8],
         |     t -> ${Portable.duckPolyHashSql("t")})),
         |   (h, x) -> (h * 131 + x) % ${Portable.P}) AS prefix_fp
         |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- repetition scoring (the Gopher-style quality gate): fraction of
    // duplicate tokens and duplicate token-bigrams per document. Repetitive
    // machine-generated text scores high on both; the flag thresholds are
    // the filter a curation chain applies before training. Single-pass
    // map-side (higher-order functions, no shuffle); the DOUBLE fractions
    // are one IEEE divide of exact integers so both engines agree bitwise. --
    "text_repetition" -> QueryDef(
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .selectExpr("doc_id", s"${Portable.tokensSql("text")} AS toks")
          .selectExpr("doc_id", "toks",
            // sequence(1, 0) would produce a DESCENDING sequence, so guard
            // the under-2-token case explicitly
            """CASE WHEN size(toks) < 2 THEN CAST(array() AS ARRAY<STRING>)
              |ELSE transform(sequence(1, size(toks) - 1),
              |  i -> concat(element_at(toks, i), '_', element_at(toks, i + 1)))
              |END AS bigrams""".stripMargin)
          .selectExpr("doc_id",
            "CAST(size(toks) AS BIGINT) AS n_tokens",
            "CAST(size(array_distinct(toks)) AS BIGINT) AS n_distinct",
            "CAST(size(bigrams) AS BIGINT) AS n_bigrams",
            "CAST(size(array_distinct(bigrams)) AS BIGINT) AS n_distinct_bigrams")
          .selectExpr("doc_id", "n_tokens", "n_distinct",
            "CASE WHEN n_tokens > 0 THEN CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens ELSE CAST(0 AS DOUBLE) END AS dup_token_frac",
            "CASE WHEN n_bigrams > 0 THEN CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) / n_bigrams ELSE CAST(0 AS DOUBLE) END AS dup_bigram_frac")
          .selectExpr("doc_id", "n_tokens", "n_distinct", "dup_token_frac",
            "dup_bigram_frac",
            "CAST(dup_token_frac > 0.5D OR dup_bigram_frac > 0.25D AS INT) AS is_repetitive")
          // map-only child: persist-before-sort, or the orderBy's range
          // sampling executes the array work twice (QueryDef scaladoc)
          .transform(graft.Sorted.byNames(_, "doc_id"))
      },
      s"""WITH t AS (SELECT doc_id,
        |  ${Portable.duckToksSql("text")} AS toks
        |  FROM documents),
        |b AS (SELECT doc_id, toks,
        |  list_transform(range(1, len(toks)), i -> toks[i] || '_' || toks[i + 1]) AS bigrams
        |  FROM t),
        |c AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |  CAST(len(bigrams) AS BIGINT) AS n_bigrams,
        |  CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct_bigrams
        |  FROM b),
        |f AS (SELECT doc_id, n_tokens, n_distinct,
        |  CASE WHEN n_tokens > 0 THEN CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens ELSE 0.0 END AS dup_token_frac,
        |  CASE WHEN n_bigrams > 0 THEN CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) / n_bigrams ELSE 0.0 END AS dup_bigram_frac
        |  FROM c)
        |SELECT doc_id, n_tokens, n_distinct, dup_token_frac, dup_bigram_frac,
        |  CAST(dup_token_frac > 0.5 OR dup_bigram_frac > 0.25 AS INT) AS is_repetitive
        |FROM f ORDER BY doc_id""".stripMargin),

    // ---- TF-IDF top terms per document: term frequency weighted by
    // corpus-wide rarity, top 3 per doc. The weight is the log-free
    // rational form tf * 1e9 div df — pure int64 (deterministic across
    // engines; ln() is a transcendental both engines round differently).
    // The corpus size N is deliberately NOT in the weight: it is constant
    // across a corpus, so it cannot change any per-doc ranking, and
    // keeping it would overflow int64 at N ≈ 1e9 docs × tf ≈ 1e4 — the
    // same unbounded-product class fixed in sample_stratified. tf is
    // bounded by document length (≪ 9.2e9), so tf * 1e9 stays in-range.
    // Shape at 100 TB: tf is one partial+final agg on (doc, term), df one
    // more on term (vocabulary-sized), the rank window partitions by
    // doc_id (massively parallel, ≤ vocabulary terms per doc). ---------------
    "tfidf_top_terms" -> QueryDef(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val tf = docs
          .selectExpr("doc_id", s"explode(${Portable.tokensSql("text")}) AS term")
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
        tf.join(df, "term")
          .withColumn("score", expr("tf * 1000000000L div df"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("score"))
          .orderBy("doc_id", "rk")
      },
      s"""WITH toks AS (SELECT doc_id,
        |  unnest(${Portable.duckToksSql("text")}) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |scored AS (SELECT tf.doc_id, tf.term, tf.tf,
        |    tf.tf * 1000000000 // df.df AS score,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf * 1000000000 // df.df DESC, tf.term) AS rk
        |  FROM tf JOIN df USING (term))
        |SELECT doc_id, CAST(rk AS INT) AS rk, term, tf, score
        |FROM scored WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin),

    // ---- corpus-bigram fluency score: per-doc mean conditional bigram
    // probability under the corpus's own bigram model — the cheap
    // language-model quality signal (a doc of common transitions scores
    // high, word salad scores low). No transcendentals: instead of mean
    // log-prob, each P(w2|w1) = c12/c1 is floor-scaled to int
    // (c12·10⁶ div c1 — floor div in both engines) and summed EXACTLY, so
    // the one double division at the end is order-independent. Scale
    // shape: one corpus-linear bigram explode (persisted, feeds model and
    // scoring); the prefix table is vocab-bounded and broadcasts back,
    // while the model is PAIR-keyed and therefore shuffle-joins. Headroom: c12 ≤ 10¹² at 100 TB
    // keeps c12·10⁶ < 2⁶³. ------------------------------------------------
    "lm_bigram_score" -> QueryDef(
      (s, dir) => {
        val bg = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            expr(Portable.tokensSql("text")).as("ts"))
          .filter("size(ts) >= 2")
          .select(col("doc_id"), explode(expr(
            "transform(sequence(2, size(ts)), i -> struct(ts[i-2] AS w1, concat(ts[i-2], ' ', ts[i-1]) AS big))")).as("b"))
          .selectExpr("doc_id", "b.w1 AS w1", "b.big AS big")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val model = bg.groupBy(col("big")).agg(count(lit(1)).as("c12"))
        val prefix = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
        // lazy result — bg cache feeds model, prefix AND the scoring join.
        // model is keyed by distinct token PAIR (grows toward vocab² on a
        // real corpus) so it must NOT broadcast — the shuffle join on `big`
        // is the scale-safe plan; prefix is unigram-keyed (vocab-bounded)
        // and broadcasts
        bg.join(model, "big")
          .join(broadcast(prefix), "w1")
          .selectExpr("doc_id", "c12 * 1000000L div c1 AS q")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sq"))
          .selectExpr("doc_id", "n_bigrams",
            "CAST(sq AS DOUBLE) / (n_bigrams * 1000000) AS fluency")
          .transform(graft.Sorted.byNames(_, "doc_id"))
      },
      s"""WITH toks AS (SELECT doc_id, $duckToksFluency AS ts FROM documents),
         |bg AS (SELECT doc_id,
         |    unnest(list_transform(range(2, len(ts) + 1), i -> ts[i-1])) AS w1,
         |    unnest(list_transform(range(2, len(ts) + 1), i -> ts[i-1] || ' ' || ts[i])) AS big
         |  FROM toks WHERE len(ts) >= 2),
         |model AS (SELECT big, COUNT(*) AS c12 FROM bg GROUP BY big),
         |prefix AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
         |q AS (SELECT doc_id, c12 * 1000000 // c1 AS q
         |  FROM bg JOIN model USING (big) JOIN prefix USING (w1))
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1000000) AS fluency
         |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- Stupid Backoff trigram LM (Brants et al. 2007 §4, "Large
    // Language Models in Machine Translation" — THE distributed-LM
    // recipe: unnormalized relative frequencies with a fixed 0.4
    // backoff multiplier, chosen precisely because it needs no
    // normalization pass and shards by n-gram key). Unlike
    // lm_bigram_score (model and scores from the same corpus — every
    // bigram trivially seen), this trains on the doc_id%2=0 half and
    // scores the HELD-OUT half, so the backoff ladder actually fires:
    // trigram hit -> c123/c(ctx); miss -> 0.4 * c(w2w3)/c(w2); miss ->
    // 0.4^2 * c(w3)/N; unseen word -> 0. Integer-exact: each rung is a
    // floor-scaled int64 (x·10^6 div y, then ·2 div 5 per 0.4 factor —
    // floor composition identical in both engines), summed exactly; one
    // double division at the end. Scale shape: model = three linear
    // passes over the cached train-token frame (tri/big/uni counts; N
    // folds off the unigram table); scoring = trigram + two bigram
    // shuffle joins (pair-keyed models grow toward vocab^n — must NOT
    // broadcast) + vocab-bounded unigram broadcasts + a 1-row N
    // broadcast. Headroom: c·10^6 < 2^63 up to c = 10^12 (100 TB-safe,
    // the lm_bigram argument). ----------------------------------------
    "lm_trigram_score" -> QueryDef(
      (s, dir) => lmTrigramScore(
        Tables.load(s, dir, "documents"), "doc_id % 2 = 0", "doc_id % 2 = 1"),
      s"""WITH toks AS (SELECT doc_id, $duckToksFluency AS ts FROM documents),
         |train AS (SELECT ts FROM toks WHERE doc_id % 2 = 0),
         |tric AS (SELECT tri, COUNT(*) AS c123 FROM (
         |    SELECT unnest(list_transform(range(3, len(ts) + 1),
         |      i -> ts[i-2] || ' ' || ts[i-1] || ' ' || ts[i])) AS tri
         |    FROM train WHERE len(ts) >= 3) GROUP BY tri),
         |bigc AS (SELECT big, COUNT(*) AS cb FROM (
         |    SELECT unnest(list_transform(range(2, len(ts) + 1),
         |      i -> ts[i-1] || ' ' || ts[i])) AS big
         |    FROM train WHERE len(ts) >= 2) GROUP BY big),
         |unic AS (SELECT w, COUNT(*) AS cw FROM (
         |    SELECT unnest(ts) AS w FROM train) GROUP BY w),
         |tot AS (SELECT COALESCE(SUM(cw), 0)::BIGINT AS nt FROM unic),
         |sc AS (SELECT doc_id,
         |    unnest(list_transform(range(3, len(ts) + 1),
         |      i -> ts[i-2] || ' ' || ts[i-1] || ' ' || ts[i])) AS tri,
         |    unnest(list_transform(range(3, len(ts) + 1),
         |      i -> ts[i-2] || ' ' || ts[i-1])) AS ctx,
         |    unnest(list_transform(range(3, len(ts) + 1),
         |      i -> ts[i-1] || ' ' || ts[i])) AS b23,
         |    unnest(list_transform(range(3, len(ts) + 1), i -> ts[i-1])) AS w2,
         |    unnest(list_transform(range(3, len(ts) + 1), i -> ts[i])) AS w3
         |  FROM toks WHERE doc_id % 2 = 1 AND len(ts) >= 3),
         |q AS (SELECT doc_id,
         |    CASE WHEN t.c123 IS NOT NULL THEN t.c123 * 1000000 // bc.cb
         |         WHEN bb.cb IS NOT NULL THEN (bb.cb * 1000000 // u2.cw) * 2 // 5
         |         WHEN u3.cw IS NOT NULL THEN
         |           ((u3.cw * 1000000 // tot.nt) * 2 // 5) * 2 // 5
         |         ELSE 0 END AS q,
         |    CASE WHEN t.c123 IS NOT NULL THEN 1 ELSE 0 END AS ht,
         |    CASE WHEN t.c123 IS NULL AND bb.cb IS NOT NULL THEN 1 ELSE 0 END AS hb,
         |    CASE WHEN t.c123 IS NULL AND bb.cb IS NULL AND u3.cw IS NOT NULL
         |      THEN 1 ELSE 0 END AS hu
         |  FROM sc
         |  LEFT JOIN tric t ON sc.tri = t.tri
         |  LEFT JOIN bigc bc ON sc.ctx = bc.big
         |  LEFT JOIN bigc bb ON sc.b23 = bb.big
         |  LEFT JOIN unic u2 ON sc.w2 = u2.w
         |  LEFT JOIN unic u3 ON sc.w3 = u3.w
         |  CROSS JOIN tot)
         |SELECT doc_id, COUNT(*) AS n_trigrams,
         |  CAST(SUM(ht) AS BIGINT) AS n_tri_hit,
         |  CAST(SUM(hb) AS BIGINT) AS n_big_hit,
         |  CAST(SUM(hu) AS BIGINT) AS n_uni_hit,
         |  CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1000000) AS lm_score
         |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- CCNet corpus bucketing (Wenzek et al. 2020 §4.3): split each
    // language's documents into head/middle/tail thirds by LM quality —
    // the canonical "train on the head" curation step. CCNet orders by
    // wiki-LM perplexity; here the signal is the in-engine bigram fluency
    // (lm_bigram_score's exact arithmetic, higher = better). Cutoffs come
    // from the per-language (fluency, count) DISTRIBUTION: a top-down
    // cumulative count over distinct values, then the largest value whose
    // cumulative count reaches ceil(n/3) (resp. ceil(2n/3)) — ties land
    // in the better bucket, and the cutoff search is pure integer window
    // arithmetic over the distribution, so both engines agree exactly.
    // Scale shape: the distribution is bounded by DISTINCT quantized
    // scores per language (the 10^-6 score quantization is the knob —
    // coarsen it at 100 TB to bound the table); the 2-values-per-language
    // cutoff frame BROADCASTS, so bucket assignment is map-side over the
    // score frame. A naive per-language NTILE window would instead sort
    // an entire language inside ONE task — the shape this avoids. --------
    "ccnet_buckets" -> QueryDef(
      (s, dir) => ccnetBuckets(fluencyScores(s, dir), scoreCol = "fluency"),
      s"""WITH toks AS (SELECT doc_id, lang, $duckToksFluency AS ts FROM documents),
         |bg AS (SELECT doc_id, lang,
         |    unnest(list_transform(range(2, len(ts) + 1), i -> ts[i-1])) AS w1,
         |    unnest(list_transform(range(2, len(ts) + 1), i -> ts[i-1] || ' ' || ts[i])) AS big
         |  FROM toks WHERE len(ts) >= 2),
         |model AS (SELECT big, COUNT(*) AS c12 FROM bg GROUP BY big),
         |prefix AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
         |q AS (SELECT doc_id, lang, c12 * 1000000 // c1 AS q
         |  FROM bg JOIN model USING (big) JOIN prefix USING (w1)),
         |scores AS (SELECT doc_id, lang,
         |    CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1000000) AS fluency
         |  FROM q GROUP BY doc_id, lang),
         |dist AS (SELECT lang, fluency, COUNT(*) AS c FROM scores GROUP BY lang, fluency),
         |nl AS (SELECT lang, COUNT(*) AS n FROM scores GROUP BY lang),
         |w AS (SELECT lang, fluency, SUM(c) OVER (PARTITION BY lang ORDER BY fluency DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM dist),
         |cut AS (SELECT w.lang, MAX(CASE WHEN cum >= (n + 2) // 3 THEN fluency END) AS c2,
         |    MAX(CASE WHEN cum >= (2 * n + 2) // 3 THEN fluency END) AS c1
         |  FROM w JOIN nl USING (lang) GROUP BY w.lang)
         |SELECT s.doc_id, s.lang, s.fluency,
         |  CASE WHEN s.fluency >= c2 THEN 'head'
         |       WHEN s.fluency >= c1 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM scores s JOIN cut USING (lang) ORDER BY s.doc_id""".stripMargin),

    // ---- CCNet bucketing over HELD-OUT trigram-LM perplexity — the
    // composition Wenzek et al. 2020 actually published: a wiki-trained
    // KenLM scores the crawl, and the crawl buckets per language into
    // head/middle/tail by that LM signal. Here the doc_id % 2 = 0 half
    // plays the wiki (the Stupid-Backoff trigram model trains on it,
    // lm_trigram_score's exact arithmetic) and the held-out % 2 = 1
    // half plays the crawl (scored, then bucketed). lm_score is the
    // average backoff-weighted transition probability, so HIGHER =
    // more fluent = LOWER perplexity — head is the per-language third
    // the LM rates most wiki-like, exactly CCNet's "train on the head"
    // frame (ppl ascending == lm_score descending; the monotone
    // transform changes no bucket boundary). Scale shape: the LM pass
    // is lm_trigram_score's (pair/triple-keyed shuffle joins + vocab
    // broadcasts; carryCols threads lang through the existing doc_id
    // grouping key, so NO second corpus-sized join-back appears) and
    // the bucketing adds only ccnetBuckets' distribution window +
    // 2-rows-per-language broadcast cutoffs — plan-pinned: the one new
    // Window runs over the per-language DISTINCT-score distribution,
    // never corpus rows. ------------------------------------------------
    "ccnet_perplexity_buckets" -> QueryDef(
      (s, dir) => ccnetBuckets(
        lmTrigramScore(Tables.load(s, dir, "documents"),
          "doc_id % 2 = 0", "doc_id % 2 = 1", carryCols = Seq("lang"))
          .select(col("doc_id"), col("lang"), col("lm_score")),
        scoreCol = "lm_score"),
      s"""WITH ${duckLmBucketCtes("documents", "doc_id % 2 = 0", "doc_id % 2 = 1")}
         |SELECT doc_id, lang, lm_score, bucket
         |FROM lmbuck ORDER BY doc_id""".stripMargin),

    // ---- Gopher quality rules (Rae et al. 2021 §A1.1): the canonical
    // composite document gate every large-scale text pipeline applies
    // before training. The thresholds are SIGNATURE parameters of
    // [[gopherRules]] (defaults = Gopher's published values); the fixture
    // instantiates minStopHits = 1 because the synthetic generator draws
    // stop words rarely — at Gopher's >= 2 every fixture doc fails and a
    // broken flag would be invisible. The production >= 2 path is pinned
    // by its own unit test (LlmOpsEdgeSpec). -------------------------------
    "gopher_rules" -> QueryDef(
      (s, dir) => gopherRules(Tables.load(s, dir, "documents"), minStopHits = 1),
      s"""WITH ${duckGopherCtes("documents", minStopHits = 1)}
         |SELECT doc_id, n_words, mean_len_c, alpha_m, stop_hits,
         |  r_words, r_mean_len, r_alpha, r_stops, keep
         |FROM gflags ORDER BY doc_id""".stripMargin),

    // ---- C4 cleaning rules (Raffel et al. 2020 §2.2): the LINE-level
    // companion to the document-level gopher_rules gate. C4 keeps only
    // lines ending in terminal punctuation with >= 5 words, drops lines
    // mentioning javascript, and discards whole pages that contain
    // "lorem ipsum" or a curly brace or retain fewer than 3 lines. The
    // fixture corpus is single-line letters-only text, so (the pii_redact
    // trick) a deterministic page structure is constructed FIRST and
    // mirrored op-for-op in the oracle: tokens group into 8-token lines;
    // each line's portable polyhash decides its noise (h%3=0 -> terminal
    // punctuation withheld ~1/3; else h%7=0 -> a javascript mention that
    // still ends in '.' and has >= 5 words, so ONLY the javascript rule
    // drops it); the page hash appends a lorem-ipsum line to ~1/13 of
    // pages and a curly-brace line to ~1/17 — every C4 rule
    // discriminates on the fixture, and the full cleaned reconstruction
    // is pinned by per-doc md5 of the retained lines, not just flag
    // counts. Short trailing lines (size(ts) % 8 in 1..4) exercise the
    // >= 5-words rule. Scale shape: pure map-side over the corpus scan —
    // zero shuffles, codegen'd HOFs + the native polyhash expression
    // (plan-pinned); at 100 TB this rides the same scan as the rest of
    // the gate stack. The C4 step this op does NOT cover — corpus-level
    // three-sentence-span dedup — is dedup_paragraph's shape. ------------
    "c4_rules" -> QueryDef(
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .selectExpr("doc_id",
            s"${Portable.tokensSql("coalesce(text, '')")} AS ts",
            "graft_polyhash(coalesce(text, '')) AS pageh")
          .selectExpr("doc_id", "pageh",
            """CASE WHEN size(ts) = 0 THEN CAST(array() AS ARRAY<STRING>)
              |ELSE transform(sequence(1, CAST((size(ts) + 7) div 8 AS INT)),
              |  i -> concat_ws(' ', slice(ts, (i - 1) * 8 + 1, 8))) END AS raw_lines""".stripMargin)
          // hash each line ONCE (struct pivot), then apply the noise rule
          .selectExpr("doc_id", "pageh",
            """transform(
              |  transform(raw_lines, l -> named_struct('l', l, 'h', graft_polyhash(l))),
              |  x -> concat(x.l, CASE WHEN x.h % 3 = 0 THEN ''
              |    WHEN x.h % 7 = 0 THEN ' javascript tip here today.'
              |    ELSE '.' END)) AS noisy""".stripMargin)
          .selectExpr("doc_id",
            """CASE WHEN pageh % 13 = 0
              |  THEN concat(noisy, array('lorem ipsum dolor sit amet consectetur.'))
              |WHEN pageh % 17 = 0
              |  THEN concat(noisy, array('var config = { mode: strict }'))
              |ELSE noisy END AS lines""".stripMargin)
          .transform(c4Rules(_))
      },
      {
        // per-line/page polyhash replay — the ONE shared fragment
        def lineh(v: String): String = Portable.duckPolyHashSql(v)
        s"""WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
           |tk AS (SELECT doc_id, t, ${Portable.duckToksSql("t")} AS ts FROM base),
           |ph AS (SELECT doc_id, ts, ${lineh("t")} AS pageh FROM tk),
           |rl AS (SELECT doc_id, pageh,
           |    CASE WHEN len(ts) = 0 THEN []::VARCHAR[]
           |    ELSE list_transform(range(1, (len(ts) + 7) // 8 + 1),
           |      i -> array_to_string(list_slice(ts, (i - 1) * 8 + 1, i * 8), ' ')) END AS raw_lines
           |  FROM ph),
           |ns AS (SELECT doc_id, pageh,
           |    list_transform(
           |      list_transform(raw_lines, l -> struct_pack(l := l, h := ${lineh("l")})),
           |      x -> x.l || (CASE WHEN x.h % 3 = 0 THEN ''
           |        WHEN x.h % 7 = 0 THEN ' javascript tip here today.'
           |        ELSE '.' END)) AS noisy FROM rl),
           |ln AS (SELECT doc_id,
           |    CASE WHEN pageh % 13 = 0
           |      THEN list_concat(noisy, ['lorem ipsum dolor sit amet consectetur.'])
           |    WHEN pageh % 17 = 0
           |      THEN list_concat(noisy, ['var config = { mode: strict }'])
           |    ELSE noisy END AS lines FROM ns),
           |kp AS (SELECT doc_id, lines,
           |    list_filter(lines, l -> substr(l, length(l), 1) IN ('.', '!', '?')
           |      AND len(string_split(l, ' ')) >= 5
           |      AND NOT contains(l, 'javascript')) AS kept FROM ln),
           |fl AS (SELECT doc_id, kept,
           |    CAST(len(lines) AS BIGINT) AS n_lines,
           |    CAST(len(kept) AS BIGINT) AS n_kept,
           |    CASE WHEN len(list_filter(lines, l -> contains(l, 'lorem ipsum'))) > 0
           |      THEN 1 ELSE 0 END AS has_lorem,
           |    CASE WHEN len(list_filter(lines, l -> contains(l, '{'))) > 0
           |      THEN 1 ELSE 0 END AS has_brace
           |  FROM kp)
           |SELECT doc_id, n_lines, n_kept, has_lorem, has_brace,
           |  CASE WHEN has_lorem = 0 AND has_brace = 0 AND n_kept >= 3
           |    THEN 1 ELSE 0 END AS keep,
           |  md5(coalesce(array_to_string(kept, chr(10)), '')) AS cleaned_md5
           |FROM fl ORDER BY doc_id""".stripMargin
      }),

    // ---- C4 corpus-level span dedup (Raffel et al. 2020 §2.2): "we
    // removed all but one of any three-sentence span occurring more than
    // once in the data set" — the CROSS-document half of the C4 recipe
    // c4_rules' line gate leaves open (dedup_paragraph is the
    // whole-paragraph analog; this is the overlapping-window one). Lines
    // are the fixture's 8-token sentences; spans are the sliding 3-line
    // windows; the GLOBAL first occurrence (min (doc_id, span_pos)) of a
    // duplicated span keeps its lines, every other occurrence's three
    // lines are removed, and each doc's cleaned reconstruction is pinned
    // by md5 in BOTH engines. Scale shape: the only corpus-volume
    // shuffles are the span-hash group (dedup_paragraph's shape — output
    // bounded by the duplicated span set after the n_occ > 1 cut), the
    // marked-span join (duplicated spans only), and the per-doc
    // reconstruction agg; window functions never touch the corpus (the
    // canonical pick is a window over the DUPLICATED-span frame in the
    // oracle and a window-free min-struct agg here). Overlapping marked
    // spans union their line sets via one distinct — removal is
    // idempotent by construction. --------------------------------------
    "c4_span_dedup" -> QueryDef(
      (s, dir) => c4SpanDedup(Tables.load(s, dir, "documents")),
      s"""WITH tk AS (SELECT doc_id,
         |    ${Portable.duckToksSql("coalesce(text, '')")} AS ts FROM documents),
         |ld AS (SELECT doc_id,
         |    CASE WHEN len(ts) = 0 THEN []::VARCHAR[]
         |    ELSE list_transform(range(1, (len(ts) + 7) // 8 + 1),
         |      i -> array_to_string(list_slice(ts, (i - 1) * 8 + 1, i * 8), ' ')) END AS lines
         |  FROM tk),
         |sp0 AS (SELECT doc_id,
         |    UNNEST(CASE WHEN len(lines) < 3 THEN []::STRUCT(spos INT, skey VARCHAR)[]
         |      ELSE list_transform(range(1, len(lines) - 1), i ->
         |        struct_pack(spos := CAST(i AS INT),
         |                    skey := md5(array_to_string(list_slice(lines, i, i + 2), ' ')))) END) AS s
         |  FROM ld),
         |spf AS (SELECT doc_id, s.spos AS spos, s.skey AS skey FROM sp0),
         |rk AS (SELECT doc_id, spos, skey,
         |    COUNT(*) OVER (PARTITION BY skey) AS n_occ,
         |    ROW_NUMBER() OVER (PARTITION BY skey ORDER BY doc_id, spos) AS rn
         |  FROM spf),
         |rm AS (SELECT DISTINCT doc_id, li FROM (
         |    SELECT doc_id, UNNEST(range(spos, spos + 3)) AS li
         |    FROM rk WHERE n_occ > 1 AND rn > 1)),
         |kl0 AS (SELECT doc_id,
         |    UNNEST(list_transform(range(1, len(lines) + 1),
         |      i -> struct_pack(li := CAST(i AS INT), line := lines[i]))) AS s
         |  FROM ld),
         |kl AS (SELECT doc_id, s.li AS li, s.line AS line FROM kl0),
         |kept AS (SELECT k.doc_id, k.li, k.line FROM kl k
         |  ANTI JOIN rm ON k.doc_id = rm.doc_id AND k.li = rm.li),
         |st AS (SELECT doc_id, COUNT(*) AS n_kept,
         |    md5(string_agg(line, chr(10) ORDER BY li)) AS kept_md5
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, CAST(len(d.lines) AS BIGINT) AS n_lines,
         |  COALESCE(st.n_kept, 0) AS n_kept,
         |  CAST(len(d.lines) AS BIGINT) - COALESCE(st.n_kept, 0) AS n_removed,
         |  COALESCE(st.kept_md5, md5('')) AS kept_md5
         |FROM ld d LEFT JOIN st USING (doc_id) ORDER BY d.doc_id""".stripMargin),

    // ---- Flesch readability in exact integer milli-units -------------------
    // The readability quality signal (Flesch 1948 / Kincaid 1975) several
    // published curation recipes gate on (too-hard and too-trivial tails
    // both correlate with junk): reading ease = 206.835 − 1.015·(words/
    // sentence) − 84.6·(syllables/word), grade = 0.39·w/s + 11.8·syll/w
    // − 15.59 — both computed ENTIRELY in int64 milli-units with the
    // shared trunc division (each ratio divides non-negative ints;
    // subtraction happens after, so trunc-vs-floor can never diverge).
    // Syllables are the standard vowel-GROUP surrogate ([aeiouy]+ runs,
    // min 1 per word); sentences are terminal-punct runs (min 1). Plain
    // character classes — one regex dialect both engines share. Scale
    // shape: pure map-side over the scan (the text_quality family);
    // sub-word docs drop (documented — ratios are undefined at 0 words).
    "text_readability" -> QueryDef(
      (s, dir) => textReadability(Tables.load(s, dir, "documents")),
      s"""WITH t AS (SELECT doc_id,
         |    ${Portable.duckToksSql("text")} AS toks,
         |    GREATEST(1, len(regexp_extract_all(coalesce(text, ''), '[.!?]+')))
         |      AS n_sents
         |  FROM documents),
         |c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(n_sents AS BIGINT) AS n_sents,
         |    CAST(list_sum(list_transform(toks,
         |      tk -> GREATEST(1, len(regexp_extract_all(tk, '[aeiouy]+')))))
         |      AS BIGINT) AS n_syll
         |  FROM t WHERE len(toks) >= 1)
         |SELECT doc_id, n_words, n_sents, n_syll,
         |  206835 - (1015 * n_words) // n_sents - (84600 * n_syll) // n_words
         |    AS fk_ease_milli,
         |  (390 * n_words) // n_sents + (11800 * n_syll) // n_words - 15590
         |    AS fk_grade_milli
         |FROM c ORDER BY doc_id""".stripMargin),

    // ---- code-vs-prose detection gate --------------------------------------
    // The routing signal the code-era pipelines (StarCoder/Stack-style
    // curation, and conversely Gopher's code EXCLUSION) need before the
    // prose gates run — prose heuristics misfire on source code, so route
    // first: brace/semicolon density, indented-line starts, and
    // keyword-token hits (counted over the SHARED tokenizer — no regex
    // word-boundary dialect in play), combined into a per-mille density
    // score over a char-length floor, thresholded by the signature knob.
    // Weights are fixed documented constants (the gopher_rules shape);
    // the threshold is the routing knob a caller tunes per corpus. Scale
    // shape: pure map-side over the scan (the text_quality family) —
    // counts by length-difference and one small regexp, no shuffle. -----
    "code_detect" -> QueryDef(
      (s, dir) => codeDetect(Tables.load(s, dir, "documents")),
      s"""WITH t AS (SELECT doc_id, coalesce(text, '') AS t,
         |    ${Portable.duckToksSql("text")} AS toks FROM documents),
         |c AS (SELECT doc_id,
         |    CAST(length(t) - length(replace(t, '{', ''))
         |      + length(t) - length(replace(t, '}', '')) AS BIGINT) AS n_braces,
         |    CAST(length(t) - length(replace(t, ';', '')) AS BIGINT) AS n_semis,
         |    CAST(len(list_filter(toks, tk -> tk IN ('def', 'function',
         |      'return', 'import', 'class', 'var', 'const', 'void', 'int')))
         |      AS BIGINT) AS n_kw,
         |    CAST(len(regexp_extract_all(t, '(^|\n)(  |\t)')) AS BIGINT)
         |      AS n_indent,
         |    CAST(length(t) AS BIGINT) AS n_chars
         |  FROM t),
         |s AS (SELECT *, LEAST(1000, (30 * n_braces + 20 * n_semis
         |      + 40 * n_kw + 30 * n_indent) * 1000
         |    // GREATEST(100, n_chars)) AS score_pm FROM c)
         |SELECT doc_id, n_braces, n_semis, n_kw, n_indent, n_chars, score_pm,
         |  CAST(score_pm >= 30 AS INT) AS is_code
         |FROM s ORDER BY doc_id""".stripMargin)
  )

  /** Code-vs-prose detection of any `(doc_id, text)` frame — see the
    * `code_detect` registry comment for the signal, weight and routing
    * contracts. `thresholdPm` is the routing knob. */
  def codeDetect(docs: org.apache.spark.sql.DataFrame,
      thresholdPm: Long = 30L): org.apache.spark.sql.DataFrame = {
    require(thresholdPm >= 0 && thresholdPm <= 1000,
      s"thresholdPm must be in [0,1000], got $thresholdPm")
    docs
      .selectExpr("doc_id", "coalesce(text, '') AS t",
        s"${Portable.tokensSql("coalesce(text, '')")} AS toks")
      .selectExpr("doc_id",
        "CAST(length(t) - length(replace(t, '{', ''))" +
          " + length(t) - length(replace(t, '}', '')) AS BIGINT) AS n_braces",
        "CAST(length(t) - length(replace(t, ';', '')) AS BIGINT) AS n_semis",
        "CAST(size(filter(toks, tk -> tk IN ('def', 'function', 'return'," +
          " 'import', 'class', 'var', 'const', 'void', 'int'))) AS BIGINT) AS n_kw",
        "CAST(size(regexp_extract_all(t, '(^|\n)(  |\t)', 0)) AS BIGINT)" +
          " AS n_indent",
        "CAST(length(t) AS BIGINT) AS n_chars")
      .selectExpr("doc_id", "n_braces", "n_semis", "n_kw", "n_indent", "n_chars",
        "LEAST(1000L, (30L * n_braces + 20L * n_semis + 40L * n_kw" +
          " + 30L * n_indent) * 1000L div GREATEST(100L, n_chars)) AS score_pm")
      .selectExpr("doc_id", "n_braces", "n_semis", "n_kw", "n_indent", "n_chars",
        "score_pm", s"CAST(score_pm >= ${thresholdPm}L AS INT) AS is_code")
      .transform(graft.Sorted.byNames(_, "doc_id"))
  }

  /** Flesch reading-ease + FK grade of any `(doc_id, text)` frame in
    * exact integer milli-units — see the `text_readability` registry
    * comment for the surrogate, guard and parity contracts. */
  def textReadability(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .selectExpr("doc_id",
        s"${Portable.tokensSql("coalesce(text, '')")} AS toks",
        "GREATEST(1, size(regexp_extract_all(coalesce(text, ''), '[.!?]+', 0)))" +
          " AS n_sents")
      .filter("size(toks) >= 1")
      .selectExpr("doc_id", "CAST(size(toks) AS BIGINT) AS n_words",
        "CAST(n_sents AS BIGINT) AS n_sents",
        "CAST(aggregate(transform(toks," +
          " tk -> GREATEST(1, size(regexp_extract_all(tk, '[aeiouy]+', 0))))," +
          " 0, (a, x) -> a + x) AS BIGINT) AS n_syll")
      .selectExpr("doc_id", "n_words", "n_sents", "n_syll",
        "206835L - (1015L * n_words) div n_sents - (84600L * n_syll) div n_words" +
          " AS fk_ease_milli",
        "(390L * n_words) div n_sents + (11800L * n_syll) div n_words - 15590L" +
          " AS fk_grade_milli")
      .transform(graft.Sorted.byNames(_, "doc_id"))

  /** CCNet head/middle/tail bucketing (Wenzek et al. 2020 §4.3) over an
    * ARBITRARY per-document quality score — the reusable core behind the
    * `ccnet_buckets` registry entry (whose QueryDef supplies the
    * in-engine bigram fluency; a production caller brings wiki-LM
    * perplexity, a classifier score, or anything rankable). Input:
    * `(doc_id, lang, <scoreCol>)`, higher = better. Per language the
    * documents split into thirds by score; cutoffs come from the
    * per-language (score, count) DISTRIBUTION — a top-down cumulative
    * count over distinct values, then the largest value whose cumulative
    * count reaches ceil(n/3) (resp. ceil(2n/3)), ties landing in the
    * better bucket; the cutoff search is pure integer window arithmetic
    * over the distribution, so engines agree exactly. Scale shape: the
    * one Window runs over the DISTINCT-score distribution (bounded by
    * score quantization — the knob at 100 TB), never the corpus; the
    * 2-values-per-language cutoff frame BROADCASTS and assignment is
    * map-side (plan-pinned: a per-language NTILE would instead sort an
    * entire language inside one task). */
  def ccnetBuckets(scored: org.apache.spark.sql.DataFrame,
      scoreCol: String = "score"): org.apache.spark.sql.DataFrame =
    ccnetBucketsRaw(scored, scoreCol)
      .transform(graft.Sorted.byNames(_, "doc_id"))

  /** [[ccnetBuckets]] without the final presentation sort — the
    * composition form (pretrain_prep filters on `bucket` mid-plan). The
    * scored frame still persists inside: it feeds the distribution fold,
    * the per-language counts AND the final assignment join. */
  def ccnetBucketsRaw(scored: org.apache.spark.sql.DataFrame,
      scoreCol: String = "score"): org.apache.spark.sql.DataFrame = {
    require(scored.columns.contains(scoreCol),
      s"score column '$scoreCol' not in ${scored.columns.mkString(",")}")
    val sc = scored.select(col("doc_id"), col("lang"), col(scoreCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dist = sc.groupBy(col("lang"), col(scoreCol))
      .agg(count(lit(1)).as("c"))
    val nl = sc.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val w = dist.withColumn("cum",
      sum(col("c")).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col(scoreCol).desc)
        .rowsBetween(Long.MinValue, 0)))
    val cut = w.join(broadcast(nl), "lang")
      .groupBy(col("lang"))
      .agg(max(when(expr("cum >= (n + 2) div 3"), col(scoreCol))).as("c2"),
        max(when(expr("cum >= (2 * n + 2) div 3"), col(scoreCol))).as("c1"))
    sc.join(broadcast(cut), "lang")
      .withColumn("bucket",
        when(col(scoreCol) >= col("c2"), lit("head"))
          .when(col(scoreCol) >= col("c1"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("lang"), col(scoreCol), col("bucket"))
  }

  /** C4 line-level cleaning (Raffel et al. 2020 §2.2) over a
    * `(doc_id, lines: ARRAY<STRING>)` frame — the reusable core behind
    * the `c4_rules` registry entry (whose QueryDef keeps the fixture's
    * deterministic page-noise construction; a production caller splits
    * real text into lines however it likes — `split(text, '\n')` is the
    * usual move — and applies this gate unchanged). The RULES are the
    * signature, defaults = C4's published values: keep only lines ending
    * in terminal punctuation with >= `minLineWords` words and no
    * `banWord` mention; discard whole pages containing "lorem ipsum" or
    * a curly brace or retaining fewer than `minKeptLines` lines. Output:
    * per-page line counts, page-rule flags, the composite keep, and the
    * md5 of the cleaned reconstruction (retained lines joined by \n).
    * Scale shape: pure map-side over the input scan — zero shuffles,
    * codegen'd HOFs; at 100 TB this rides the same scan as the rest of
    * the gate stack (plan-pinned in PlanAuditSpec). */
  def c4Rules(pages: org.apache.spark.sql.DataFrame,
      minLineWords: Int = 5, minKeptLines: Int = 3,
      banWord: String = "javascript"): org.apache.spark.sql.DataFrame = {
    require(minLineWords >= 1 && minKeptLines >= 0 && banWord.nonEmpty,
      s"bad C4 rule knobs: ($minLineWords, $minKeptLines, '$banWord')")
    pages
      .selectExpr("doc_id", "lines",
        s"""filter(lines, l -> substring(l, length(l), 1) IN ('.', '!', '?')
           |  AND size(split(l, ' ')) >= $minLineWords
           |  AND NOT contains(l, '$banWord')) AS kept""".stripMargin)
      .selectExpr("doc_id",
        "CAST(size(lines) AS BIGINT) AS n_lines",
        "CAST(size(kept) AS BIGINT) AS n_kept",
        "IF(exists(lines, l -> contains(l, 'lorem ipsum')), 1, 0) AS has_lorem",
        "IF(exists(lines, l -> contains(l, '{')), 1, 0) AS has_brace",
        "md5(array_join(kept, chr(10))) AS cleaned_md5")
      .selectExpr("doc_id", "n_lines", "n_kept", "has_lorem", "has_brace",
        s"IF(has_lorem = 0 AND has_brace = 0 AND n_kept >= $minKeptLines, 1, 0) AS keep",
        "cleaned_md5")
      .transform(graft.Sorted.byNames(_, "doc_id"))
  }

  /** C4 corpus-level span dedup over a `documents` frame — see the
    * registry entry's comment for semantics and scale shape. The span
    * geometry is the SIGNATURE: `lineTokens` is the sentence
    * approximation (the fixture's 8-token lines, c4_rules' convention)
    * and `spanLines` is C4's published 3-sentence window; a production
    * run with real sentence segmentation swaps the line construction
    * and keeps the dedup core. */
  def c4SpanDedup(docsIn: org.apache.spark.sql.DataFrame,
      lineTokens: Int = 8, spanLines: Int = 3): org.apache.spark.sql.DataFrame = {
    require(lineTokens >= 1 && spanLines >= 1,
      s"span geometry must be positive, got ($lineTokens, $spanLines)")
    val lt = lineTokens
    val sl = spanLines
    val docs = docsIn
      .selectExpr("doc_id", s"${Portable.tokensSql("coalesce(text, '')")} AS ts")
      .selectExpr("doc_id",
        s"""CASE WHEN size(ts) = 0 THEN CAST(array() AS ARRAY<STRING>)
           |ELSE transform(sequence(1, CAST((size(ts) + ${lt - 1}) div $lt AS INT)),
           |  i -> concat_ws(' ', slice(ts, (i - 1) * $lt + 1, $lt))) END AS lines""".stripMargin)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spans = docs.selectExpr("doc_id",
        s"""explode(CASE WHEN size(lines) < $sl
           |  THEN CAST(array() AS ARRAY<STRUCT<spos: INT, skey: STRING>>)
           |  ELSE transform(sequence(1, size(lines) - ${sl - 1}), i ->
           |    struct(CAST(i AS INT) AS spos,
           |           md5(concat_ws(' ', slice(lines, i, $sl))) AS skey)) END) AS sp""".stripMargin)
      .selectExpr("doc_id", "sp.spos AS spos", "sp.skey AS skey")
    val canon = spans.groupBy(col("skey"))
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("spos"))).as("c"))
      .filter("n_occ > 1")
      .selectExpr("skey", "c.doc_id AS c_doc", "c.spos AS c_spos")
    val removed = spans.join(canon, "skey")
      .filter("NOT (doc_id = c_doc AND spos = c_spos)")
      .selectExpr("doc_id", s"explode(sequence(spos, spos + ${sl - 1})) AS li")
      .distinct()
    val kept = docs
      .selectExpr("doc_id", "posexplode(lines) AS (p, line)")
      .selectExpr("doc_id", "CAST(p + 1 AS INT) AS li", "line")
      .join(removed, Seq("doc_id", "li"), "left_anti")
    val stats = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        expr("md5(concat_ws('\\n', transform(array_sort(collect_list(" +
          "struct(li, line))), s -> s.line)))").as("kept_md5"))
    docs.selectExpr("doc_id", "CAST(size(lines) AS BIGINT) AS n_lines")
      .join(stats, Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_lines", "coalesce(n_kept, 0L) AS n_kept",
        "n_lines - coalesce(n_kept, 0L) AS n_removed",
        "coalesce(kept_md5, md5('')) AS kept_md5")
      .transform(graft.Sorted.byNames(_, "doc_id"))
  }

  /** Gopher quality rules (Rae et al. 2021 §A1.1) over a `documents`
    * frame: word-count bounds, mean word length (centichars), fraction of
    * words containing an alphabetic character (per-mille), and distinct
    * stop words present. Defaults are Gopher's PUBLISHED values —
    * word count in [50, 100k], mean word length 3–10 chars, >= 80%
    * alphabetic words, >= 2 distinct stop words of the 8-word list.
    * All metrics are quantized int64 (mean length x100, alpha fraction
    * per-mille) so Spark and the DuckDB oracle agree exactly; per-rule
    * flags ride alongside the composite keep so a user can re-weight
    * rules without re-scanning. Scale shape: pure map-side over the
    * corpus scan — zero shuffles, codegen'd HOFs; at 100 TB this rides
    * the same scan as the rest of the gate stack (plan-pinned). */
  def gopherRules(docs: org.apache.spark.sql.DataFrame,
      minStopHits: Int = 2,
      wordBounds: (Int, Int) = (50, 100000),
      meanLenBounds: (Int, Int) = (300, 1000),
      alphaMille: Int = 800): org.apache.spark.sql.DataFrame =
    gopherFlags(docs, minStopHits, wordBounds, meanLenBounds, alphaMille)
      .transform(graft.Sorted.byNames(_, "doc_id"))

  /** DuckDB twin of [[gopherFlags]] over `src` — CTE chain ending in
    * `gflags(doc_id, n_words, mean_len_c, alpha_m, stop_hits, r_*,
    * keep)`. ONE definition shared by the gopher_rules oracle and the
    * pretrain_prep capstone chain (g-prefixed CTE names so the fragment
    * composes beside the shingle/LM/DoReMi fragments without
    * collision). */
  private[operators] def duckGopherCtes(src: String, minStopHits: Int): String =
    s"""gtoks AS (SELECT doc_id,
       |    ${Portable.duckToksSql("coalesce(text, '')")} AS toks FROM $src),
       |gm AS (SELECT doc_id, len(toks) AS n_words,
       |    CASE WHEN len(toks) = 0 THEN 0
       |         ELSE CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) * 100 // len(toks)
       |    END AS mean_len_c,
       |    CASE WHEN len(toks) = 0 THEN 0
       |         ELSE CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) * 1000 // len(toks)
       |    END AS alpha_m,
       |    len(list_intersect(list_distinct(toks),
       |      ${graft.functions.HashExpressions.gopherStopsDuckList})) AS stop_hits
       |  FROM gtoks),
       |gff AS (SELECT doc_id, n_words, mean_len_c, alpha_m, stop_hits,
       |    CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS r_words,
       |    CASE WHEN mean_len_c BETWEEN 300 AND 1000 THEN 1 ELSE 0 END AS r_mean_len,
       |    CASE WHEN alpha_m >= 800 THEN 1 ELSE 0 END AS r_alpha,
       |    CASE WHEN stop_hits >= $minStopHits THEN 1 ELSE 0 END AS r_stops
       |  FROM gm),
       |gflags AS (SELECT doc_id, n_words, mean_len_c, alpha_m, stop_hits,
       |    r_words, r_mean_len, r_alpha, r_stops,
       |    r_words * r_mean_len * r_alpha * r_stops AS keep
       |  FROM gff)""".stripMargin

  /** [[gopherRules]] without the final presentation sort — the
    * composition form (pretrain_prep gates on `keep` mid-plan, where a
    * persist+orderBy before the join would be pure waste). */
  def gopherFlags(docs: org.apache.spark.sql.DataFrame,
      minStopHits: Int = 2,
      wordBounds: (Int, Int) = (50, 100000),
      meanLenBounds: (Int, Int) = (300, 1000),
      alphaMille: Int = 800): org.apache.spark.sql.DataFrame =
    // ONE native pass (round 17 — graft_gopher_stats): the SQL form ran
    // three interpreted per-token lambdas over the token array per doc
    // (aggregate length-sum, an rlike filter, array_intersect over a
    // distinct) — higher-order functions are CodegenFallback, so that
    // was interpreted eval on a primary corpus-linear pass of the
    // capstone. GopherStatsSpec pins the native struct equal to the
    // lambda form column-for-column; the stop list lives in ONE place
    // (HashExpressions.GopherStops) serving both engines.
    docs
      .selectExpr("doc_id",
        "graft_gopher_stats(coalesce(text, '')) AS gs")
      .selectExpr("doc_id",
        "gs.n_words AS n_words",
        "CASE WHEN gs.n_words = 0 THEN 0L ELSE " +
          "gs.sum_len * 100L div gs.n_words END AS mean_len_c",
        "CASE WHEN gs.n_words = 0 THEN 0L ELSE " +
          "gs.n_alpha * 1000L div gs.n_words END AS alpha_m",
        "gs.stop_hits AS stop_hits")
      .selectExpr("doc_id", "n_words", "mean_len_c", "alpha_m", "stop_hits",
        s"IF(n_words BETWEEN ${wordBounds._1} AND ${wordBounds._2}, 1, 0) AS r_words",
        s"IF(mean_len_c BETWEEN ${meanLenBounds._1} AND ${meanLenBounds._2}, 1, 0) AS r_mean_len",
        s"IF(alpha_m >= $alphaMille, 1, 0) AS r_alpha",
        s"IF(stop_hits >= $minStopHits, 1, 0) AS r_stops")
      .selectExpr("doc_id", "n_words", "mean_len_c", "alpha_m", "stop_hits",
        "r_words", "r_mean_len", "r_alpha", "r_stops",
        "r_words * r_mean_len * r_alpha * r_stops AS keep")

  /** DuckDB twin of the lmTrigramScoreRaw -> ccnetBucketsRaw
    * composition over `src`: Stupid-Backoff trigram scoring of the
    * `scorePred` slice under a model counted on the `trainPred` slice,
    * bucketed per-language into head/middle/tail thirds. CTE chain ends
    * in `lmbuck(doc_id, lang, lm_score, bucket)`; lm-prefixed names so
    * the fragment composes beside the gopher/shingle/DoReMi fragments
    * in the pretrain_prep capstone without collision. ONE definition
    * shared by the ccnet_perplexity_buckets oracle and the capstone. */
  private[operators] def duckLmBucketCtes(src: String, trainPred: String,
      scorePred: String): String =
    s"""lmtk AS (SELECT doc_id, lang, $duckToksFluency AS ts FROM $src),
       |lmtr AS (SELECT ts FROM lmtk WHERE $trainPred),
       |lmtri AS (SELECT tri, COUNT(*) AS c123 FROM (
       |    SELECT unnest(list_transform(range(3, len(ts) + 1),
       |      i -> ts[i-2] || ' ' || ts[i-1] || ' ' || ts[i])) AS tri
       |    FROM lmtr WHERE len(ts) >= 3) GROUP BY tri),
       |lmbig AS (SELECT big, COUNT(*) AS cb FROM (
       |    SELECT unnest(list_transform(range(2, len(ts) + 1),
       |      i -> ts[i-1] || ' ' || ts[i])) AS big
       |    FROM lmtr WHERE len(ts) >= 2) GROUP BY big),
       |lmuni AS (SELECT w, COUNT(*) AS cw FROM (
       |    SELECT unnest(ts) AS w FROM lmtr) GROUP BY w),
       |lmtot AS (SELECT COALESCE(SUM(cw), 0)::BIGINT AS nt FROM lmuni),
       |lmsc AS (SELECT doc_id, lang,
       |    unnest(list_transform(range(3, len(ts) + 1),
       |      i -> ts[i-2] || ' ' || ts[i-1] || ' ' || ts[i])) AS tri,
       |    unnest(list_transform(range(3, len(ts) + 1),
       |      i -> ts[i-2] || ' ' || ts[i-1])) AS ctx,
       |    unnest(list_transform(range(3, len(ts) + 1),
       |      i -> ts[i-1] || ' ' || ts[i])) AS b23,
       |    unnest(list_transform(range(3, len(ts) + 1), i -> ts[i-1])) AS w2,
       |    unnest(list_transform(range(3, len(ts) + 1), i -> ts[i])) AS w3
       |  FROM lmtk WHERE ($scorePred) AND len(ts) >= 3),
       |lmq AS (SELECT doc_id, lang,
       |    CASE WHEN t.c123 IS NOT NULL THEN t.c123 * 1000000 // bc.cb
       |         WHEN bb.cb IS NOT NULL THEN (bb.cb * 1000000 // u2.cw) * 2 // 5
       |         WHEN u3.cw IS NOT NULL THEN
       |           ((u3.cw * 1000000 // lmtot.nt) * 2 // 5) * 2 // 5
       |         ELSE 0 END AS q
       |  FROM lmsc
       |  LEFT JOIN lmtri t ON lmsc.tri = t.tri
       |  LEFT JOIN lmbig bc ON lmsc.ctx = bc.big
       |  LEFT JOIN lmbig bb ON lmsc.b23 = bb.big
       |  LEFT JOIN lmuni u2 ON lmsc.w2 = u2.w
       |  LEFT JOIN lmuni u3 ON lmsc.w3 = u3.w
       |  CROSS JOIN lmtot),
       |lmscores AS (SELECT doc_id, lang,
       |    CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1000000) AS lm_score
       |  FROM lmq GROUP BY doc_id, lang),
       |lmdist AS (SELECT lang, lm_score, COUNT(*) AS c FROM lmscores GROUP BY lang, lm_score),
       |lmnl AS (SELECT lang, COUNT(*) AS n FROM lmscores GROUP BY lang),
       |lmcw AS (SELECT lang, lm_score, SUM(c) OVER (PARTITION BY lang ORDER BY lm_score DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM lmdist),
       |lmcut AS (SELECT lmcw.lang, MAX(CASE WHEN cum >= (n + 2) // 3 THEN lm_score END) AS c2,
       |    MAX(CASE WHEN cum >= (2 * n + 2) // 3 THEN lm_score END) AS c1
       |  FROM lmcw JOIN lmnl USING (lang) GROUP BY lmcw.lang),
       |lmbuck AS (SELECT s.doc_id, s.lang, s.lm_score,
       |    CASE WHEN s.lm_score >= c2 THEN 'head'
       |         WHEN s.lm_score >= c1 THEN 'middle' ELSE 'tail' END AS bucket
       |  FROM lmscores s JOIN lmcut USING (lang))""".stripMargin

  /** Per-document corpus-LM fluency — lm_bigram_score's exact pipeline
    * (same model, same int64-quantized transition arithmetic) carrying
    * the document language through, for per-language bucketing. The
    * bigram frame persists because it feeds the model, the prefix table
    * AND the scoring join (one corpus pass, not three). */
  private def fluencyScores(s: SparkSession, dir: String): DataFrame = {
    val bg = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        expr(Portable.tokensSql("text")).as("ts"))
      .filter("size(ts) >= 2")
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(2, size(ts)), i -> struct(ts[i-2] AS w1, concat(ts[i-2], ' ', ts[i-1]) AS big))")).as("b"))
      .selectExpr("doc_id", "lang", "b.w1 AS w1", "b.big AS big")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model = bg.groupBy(col("big")).agg(count(lit(1)).as("c12"))
    val prefix = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    // model is PAIR-keyed (grows toward vocab² on a real corpus) so it
    // must NOT broadcast; prefix is unigram-keyed and does.
    bg.join(model, "big")
      .join(broadcast(prefix), "w1")
      .selectExpr("doc_id", "lang", "c12 * 1000000L div c1 AS q")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sq"))
      .selectExpr("doc_id", "lang",
        "CAST(sq AS DOUBLE) / (n_bigrams * 1000000) AS fluency")
  }

  // one tokenization contract with the shared fragment (the fluency
  // oracle composes it like every other oracle in this file)
  private def duckToksFluency: String = Portable.duckToksSql("text")

  /** Stupid Backoff trigram scoring (Brants et al. 2007 §4) of the
    * `scoreExpr` slice of `docs` under a model counted on the
    * `trainExpr` slice — see the `lm_trigram_score` registry comment
    * for the arithmetic and scale-shape contract. `docs` needs
    * (doc_id, text); the two slices may overlap (score-on-train gives
    * the degenerate all-trigram-hit case, which LmTrigramSpec pins).
    * `carryCols` names extra per-document columns (e.g. `lang`) carried
    * through scoring into the output — they ride the doc_id grouping
    * key, so the default Nil leaves the lm_trigram_score plan and
    * schema untouched while ccnet_perplexity_buckets gets its
    * per-language key without a second corpus-sized join-back.
    */
  def lmTrigramScore(docs: DataFrame,
      trainExpr: String = "doc_id % 2 = 0",
      scoreExpr: String = "doc_id % 2 = 1",
      carryCols: Seq[String] = Nil): DataFrame =
    lmTrigramScoreRaw(docs, trainExpr, scoreExpr, carryCols)
      .transform(graft.Sorted.byNames(_, "doc_id"))

  /** [[lmTrigramScore]] without the final presentation sort — the
    * composition form (pretrain_prep feeds the scores straight into the
    * ccnet bucket gate, which persists them itself). */
  def lmTrigramScoreRaw(docs: DataFrame,
      trainExpr: String = "doc_id % 2 = 0",
      scoreExpr: String = "doc_id % 2 = 1",
      carryCols: Seq[String] = Nil): DataFrame = {
    val carry = carryCols.map(col)
    val toks = docs.select(col("doc_id") +: carry :+
      expr(Portable.tokensSql("text")).as("ts"): _*)
    // the train-token frame feeds three count passes — cache the arrays,
    // not three re-reads + re-tokenizations of the corpus
    val train = toks.filter(trainExpr).select(col("ts"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val triC = train.filter("size(ts) >= 3").select(explode(expr(
        "transform(sequence(3, size(ts)), i -> concat(ts[i-3], ' ', ts[i-2], ' ', ts[i-1]))")).as("tri"))
      .groupBy(col("tri")).agg(count(lit(1)).as("c123"))
    val bigC = train.filter("size(ts) >= 2").select(explode(expr(
        "transform(sequence(2, size(ts)), i -> concat(ts[i-2], ' ', ts[i-1]))")).as("big"))
      .groupBy(col("big")).agg(count(lit(1)).as("cb"))
    val uniC = train.select(explode(col("ts")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val tot = uniC.agg(coalesce(sum(col("cw")), lit(0L)).as("nt"))
    val sc = toks.filter(scoreExpr).filter("size(ts) >= 3")
      .select(col("doc_id") +: carry :+ explode(expr(
        """transform(sequence(3, size(ts)), i -> struct(
          |  concat(ts[i-3], ' ', ts[i-2], ' ', ts[i-1]) AS tri,
          |  concat(ts[i-3], ' ', ts[i-2]) AS ctx,
          |  concat(ts[i-2], ' ', ts[i-1]) AS b23,
          |  ts[i-2] AS w2, ts[i-1] AS w3))""".stripMargin)).as("g"): _*)
      .selectExpr(Seq("doc_id") ++ carryCols ++
        Seq("g.tri", "g.ctx", "g.b23", "g.w2", "g.w3"): _*)
    // tri + both bigram lookups are PAIR/TRIPLE-keyed (grow toward
    // vocab^n) — shuffle joins; unigrams and N are vocab-bounded/1-row
    // and broadcast. A trigram hit implies its context bigram exists,
    // a bigram hit implies its prefix unigram exists, so no rung ever
    // divides by NULL.
    val scoreCols = Seq("doc_id",
      """CASE WHEN c123 IS NOT NULL THEN c123 * 1000000L div cctx
        |     WHEN c23 IS NOT NULL THEN (c23 * 1000000L div c2) * 2L div 5L
        |     WHEN c3 IS NOT NULL THEN
        |       ((c3 * 1000000L div nt) * 2L div 5L) * 2L div 5L
        |     ELSE 0L END AS q""".stripMargin,
      "CAST(c123 IS NOT NULL AS INT) AS ht",
      "CAST(c123 IS NULL AND c23 IS NOT NULL AS INT) AS hb",
      "CAST(c123 IS NULL AND c23 IS NULL AND c3 IS NOT NULL AS INT) AS hu"
    ) ++ carryCols
    sc.join(triC, Seq("tri"), "left")
      .join(bigC.withColumnRenamed("big", "ctx").withColumnRenamed("cb", "cctx"),
        Seq("ctx"), "left")
      .join(bigC.withColumnRenamed("big", "b23").withColumnRenamed("cb", "c23"),
        Seq("b23"), "left")
      .join(broadcast(uniC.withColumnRenamed("w", "w2").withColumnRenamed("cw", "c2")),
        Seq("w2"), "left")
      .join(broadcast(uniC.withColumnRenamed("w", "w3").withColumnRenamed("cw", "c3")),
        Seq("w3"), "left")
      .crossJoin(broadcast(tot))
      .selectExpr(scoreCols: _*)
      .groupBy(col("doc_id") +: carry: _*)
      .agg(count(lit(1)).as("n_trigrams"), sum(col("ht")).as("n_tri_hit"),
        sum(col("hb")).as("n_big_hit"), sum(col("hu")).as("n_uni_hit"),
        sum(col("q")).as("sq"))
      .selectExpr(Seq("doc_id") ++ carryCols ++
        Seq("n_trigrams", "n_tri_hit", "n_big_hit", "n_uni_hit",
          "CAST(sq AS DOUBLE) / (n_trigrams * 1000000) AS lm_score"): _*)
  }
}
