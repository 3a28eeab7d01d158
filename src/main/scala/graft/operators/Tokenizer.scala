package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.immutable.ListMap

/** Tokenizer-training operators over `documents`: the byte-pair-encoding
  * merge-table build — the one preprocessing artifact an LLM data pipeline
  * derives from the corpus itself (the reference has no tokenizer layer;
  * this extends the engine's LLM-data surface alongside [[TextOps]]).
  *
  * Scale design: classic BPE trains on the WORD-FREQUENCY table, not the
  * corpus — the corpus is touched exactly once (tokenize → explode →
  * count), a corpus-linear partial+final aggregation, and every merge
  * iteration then runs over the compact vocabulary (distinct words ×
  * weight). Per iteration: one partial+final pair count, one
  * TakeOrdered(1) argmax, and the winning pair applied via a 1-row
  * broadcast — no driver-side collect, no corpus re-scan, plan depth
  * bounded by localCheckpoint per round (same recipe as
  * Curation.connectedComponents).
  *
  * Cross-engine parity: a word's symbol sequence is encoded as a string
  * with every symbol carrying its OWN leading+trailing space
  * (" l  o  w "), so applying a merge is a plain non-overlapping
  * left-to-right `replace(enc, ' l  o ', ' lo ')` — identical semantics in
  * the JVM and DuckDB, including consecutive-merge cases like "a a a a"
  * where separator-sharing encodings go wrong. Ties on pair count break by
  * pair string ascending in both engines (symbols are lowercase alnum, so
  * byte order == lexicographic order).
  */
object Tokenizer {

  /** Merge-table depth. 16 is production-shaped (a real tokenizer runs
    * thousands of rounds of exactly this loop; each round's cost profile —
    * one vocab-sized pair count, one argmax, one broadcast apply — is
    * already the steady state at step 16). The exhaustion guard below
    * makes any Steps value safe on degenerate corpora. */
  private val Steps = 16

  /** Pairs of adjacent symbols from the padded encoding, as "lhs rhs"
    * keys; symbols never contain spaces so the key splits back safely. */
  private val pairsExpr =
    """CASE WHEN size(syms) > 1 THEN
      |  transform(sequence(1, size(syms) - 1),
      |    i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1)))
      |ELSE array() END""".stripMargin

  /** Merge-application replay bound: the lazily-accumulated literal
    * replace() chain over the last checkpoint is re-applied by every
    * subsequent pair count, so checkpoint the encodings once the chain
    * reaches this depth. Each replace over a padded encoding is a cheap
    * codegen'd string scan (~3× word length), so a replay of ≤ 8 costs
    * microseconds per word; at a production Steps=30k the bound keeps the
    * per-step replay O(CkptEvery) instead of O(step). */
  private val CkptEvery = 8

  /** The training loop shared by `tokenizer_vocab` (emits the merge
    * table) and `tokenizer_apply` (emits the post-merge word encodings):
    * one corpus pass for word frequencies, then Steps rounds of ONE
    * vocabulary-sized pair-count job each — the TakeOrdered(1) argmax
    * winner (a single bounded row, the chooseEmitter/convergence-head
    * driver-action shape) comes back to the driver and is applied as a
    * LITERAL non-overlapping replace, so merge application is pure map
    * work fused into the next pair count instead of a per-step broadcast
    * build + eager vocabulary rewrite.
    *
    * Round-17 shape (guide §2.4/codegen; measured): the old loop ran 2
    * eager localCheckpoint jobs + 1 broadcast build per step (pair count
    * + argmax pinned, then the joined vocabulary rewrite). With literal
    * winners the per-step cost is exactly one job, encodings stay lazy
    * (replay bounded by [[CkptEvery]]), and the merge table itself is
    * driver-built (Steps rows — vocabulary-bounded at any corpus size,
    * same contract as the ≤-1-row convergence heads). The round-16
    * checkpoint-thinning experiment measured SLOWER because its replayed
    * chain re-built a broadcast relation per pending step; the literal
    * chain replays as fused codegen'd string work with no broadcast at
    * all. Pair exhaustion: an empty argmax simply stops emitting merge
    * rows and the encoding passes through unchanged (same short-table
    * semantics as the old LEFT-JOIN-on-TRUE guard). */
  private def train(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val d = Tables.load(s, dir, "documents")
    // the ONLY corpus-wide pass: tokenize, explode, count each word
    val vocab = d
      .selectExpr(s"explode(${graft.functions.Portable.tokensSql("text")}) AS word")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    var words = vocab.selectExpr("word", "cnt",
      "concat_ws('', transform(sequence(1, length(word)), i -> concat(' ', substring(word, i, 1), ' '))) AS enc")
      .localCheckpoint(true)
    var enc: org.apache.spark.sql.Column = col("enc")
    var pending = 0
    val winners = Seq.newBuilder[(Int, String, String, Long)]
    var exhausted = false
    for (step <- 1 to Steps if !exhausted) {
      val pc = words
        .withColumn("enc2", enc)
        .withColumn("syms", split(trim(col("enc2")), "  "))
        .select(col("cnt"), explode(expr(pairsExpr)).as("pair"))
        .groupBy("pair").agg(sum(col("cnt")).as("pair_count"))
      val top = pc.orderBy(col("pair_count").desc, col("pair").asc).limit(1)
        .selectExpr("element_at(split(pair, ' '), 1) AS lhs",
          "element_at(split(pair, ' '), 2) AS rhs", "pair_count")
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (lhs, rhs, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        winners += ((step, lhs, rhs, cnt))
        // non-overlapping left-to-right literal replace — identical
        // semantics to the old broadcast apply (symbols are corpus tokens,
        // lowercase alnum, so the padded search strings are inert)
        enc = org.apache.spark.sql.functions.replace(
          enc, lit(s" $lhs  $rhs "), lit(s" $lhs$rhs "))
        pending += 1
        if (pending >= CkptEvery && step < Steps) {
          words = words.select(col("word"), col("cnt"), enc.as("enc"))
            .localCheckpoint(true)
          enc = col("enc"); pending = 0
        }
      }
    }
    // final encodings stay LAZY: the one consumer (the apply/fertility
    // broadcast build) computes the ≤ CkptEvery pending replaces in its
    // own single pass; tokenizer_vocab never materializes them at all
    val finalWords = words.select(col("word"), col("cnt"), enc.as("enc"))
    import scala.jdk.CollectionConverters._
    val mergeRows = winners.result().map { case (st, lhs, rhs, cnt) =>
      org.apache.spark.sql.Row(st, lhs, rhs, lhs + rhs, cnt) }
    val mergeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("step",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("lhs",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("rhs",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("merged",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("pair_count",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val merges = s.createDataFrame(mergeRows.asJava, mergeSchema)
    (finalWords, merges)
  }

  /** One generated oracle round n: pair counts over w(n-1), winner b(n),
    * post-merge encodings w(n). GENERATED, not hand-unrolled, so the
    * oracle's depth always equals [[Steps]] by construction. The w/b CTEs
    * are MATERIALIZED: each is referenced twice (the next round's pair
    * count AND the next encoding / final select), so default CTE inlining
    * would duplicate the whole prefix chain per reference — 2^Steps scans
    * of `documents` (observed as an fd-exhaustion failure at Steps=16). */
  private def duckStep(n: Int): String =
    s"""p$n AS (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count FROM (
       |    SELECT cnt, unnest(list_transform(range(1, len(syms)), i -> syms[i] || ' ' || syms[i+1])) AS pair
       |    FROM (SELECT cnt, string_split(trim(enc), '  ') AS syms FROM w${n - 1})) GROUP BY pair),
       |b$n AS MATERIALIZED (SELECT split_part(pair, ' ', 1) AS lhs, split_part(pair, ' ', 2) AS rhs, pair_count
       |  FROM p$n ORDER BY pair_count DESC, pair LIMIT 1),
       |w$n AS MATERIALIZED (SELECT word, cnt,
       |    CASE WHEN lhs IS NULL THEN enc
       |         ELSE replace(enc, ' ' || lhs || '  ' || rhs || ' ', ' ' || lhs || rhs || ' ') END AS enc
       |  FROM w${n - 1} LEFT JOIN b$n ON TRUE)""".stripMargin

  /** Shared oracle CTE chain: word vocab, padded encodings w0..w(Steps)
    * and merge winners b1..b(Steps) — `tokenizer_vocab` reads the
    * winners, `tokenizer_apply` reads the final encodings. */
  private val duckTrain: String =
    s"""toks AS (SELECT
        |    ${graft.functions.Portable.duckToksSql("text")} AS toks
        |  FROM documents),
        |vocab AS (SELECT t AS word, COUNT(*)::BIGINT AS cnt
        |  FROM (SELECT unnest(toks) AS t FROM toks) GROUP BY 1),
        |w0 AS MATERIALIZED (SELECT word, cnt,
        |    list_reduce(list_prepend('', list_transform(range(1, length(word) + 1),
        |      i -> ' ' || substr(word, i, 1) || ' ')), (a, b) -> a || b) AS enc
        |  FROM vocab),
        |${(1 to Steps).map(duckStep).mkString(",\n")}""".stripMargin

  // ---- Unigram-LM tokenizer (Kudo 2018, the SentencePiece algorithm
  // beside BPE): seed a large candidate-piece vocabulary from corpus
  // substrings, then EM-prune — segment the corpus under the current
  // vocabulary, count piece usage, keep the top survivors, repeat.
  // Engine substitutions, both documented deviations with the published
  // shape kept: (a) the E-step is HARD-assignment greedy longest-match
  // segmentation (WordPiece's inference rule) instead of full
  // forward–backward — deterministic and integer-exact, where Kudo's
  // marginal expectations need float log-probs; (b) pruning keeps a
  // fixed top-K per round (K halving each round, ties (usage DESC,
  // piece ASC)) instead of the likelihood-loss ranking. Single-char
  // pieces are NEVER pruned (Kudo's rule), which also makes greedy
  // segmentation total. Scale shape: like BPE the corpus is touched
  // ONCE (word-frequency table); every EM pass runs over the DISTINCT
  // word table with the bounded (≤ alphabet + seedMulti pieces)
  // vocabulary embedded as a sorted LITERAL array (round 17 — it
  // previously rode a 1-row collect_list broadcast, one extra
  // aggregation job + broadcast build + checkpoint per round), seed/
  // keep selection is TakeOrdered (bounded top-K, never a global
  // window), and plan depth is bounded by the word-table
  // checkpoint. --------------------------------------------------------

  private def UniMaxLen = 4
  private def UniSeedMulti = 128
  private def UniRounds = 3

  /** Greedy longest-match segmentation of `word` (against the 1-row
    * sorted piece array `vs`) as a pure codegen-able fold: the
    * accumulator walks a cursor; each sequence index acts only when it
    * equals the cursor, then jumps by the longest vocabulary match
    * (single chars guarantee one exists). The match length binds ONCE
    * through a 1-element transform (the dedup_winnow let-binding fix —
    * naively inlining it twice re-runs the vocabulary scan). */
  private def segExpr(maxLen: Int): String = {
    val lexpr = s"array_max(filter(sequence(1, least($maxLen, " +
      "length(word) - acc.pos + 1)), " +
      "l -> array_contains(vs, substring(word, acc.pos, l))))"
    s"""aggregate(sequence(1, length(word)),
       |  named_struct('pos', 1, 'ps', CAST(array() AS ARRAY<STRING>)),
       |  (acc, i) -> IF(i != acc.pos, acc,
       |    element_at(transform(array($lexpr), ml -> named_struct(
       |      'pos', acc.pos + ml,
       |      'ps', concat(acc.ps, array(substring(word, acc.pos, ml))))), 1)),
       |  acc -> acc.ps)""".stripMargin
  }

  /** DuckDB twin of [[segExpr]] — same fold via the list_prepend-init
    * list_reduce trick (the w0 recipe; reduce elements and accumulator
    * must share a type, so indices ride dummy structs), same one-shot
    * match-length binding. range() is exclusive-end, hence the +1s.
    * The skip branch rides INSIDE the let-binding as ml = 0 (advance
    * nothing, append nothing): DuckDB 1.0's CASE with whole-STRUCT
    * branches inside a list_reduce lambda silently corrupts the
    * accumulator (observed: every appended piece became ''), while
    * scalar/list-valued CASE inside struct_pack evaluates correctly. */
  private def duckSegExpr(maxLen: Int): String = {
    val lexpr = s"list_max(list_filter(range(1, least($maxLen, " +
      "length(word) - acc.pos + 1) + 1), " +
      "l -> list_contains(vs, substr(word, acc.pos, l))))"
    s"""list_reduce(
       |  list_prepend(struct_pack(pos := 1::BIGINT, ps := CAST([] AS VARCHAR[])),
       |    list_transform(range(1, length(word) + 1),
       |      i -> struct_pack(pos := i, ps := CAST([] AS VARCHAR[])))),
       |  (acc, x) -> list_transform(
       |    [CASE WHEN x.pos != acc.pos THEN 0::BIGINT ELSE $lexpr END],
       |    ml -> struct_pack(
       |      pos := acc.pos + ml,
       |      ps := list_concat(acc.ps, CASE WHEN ml = 0 THEN CAST([] AS VARCHAR[])
       |            ELSE [substr(word, acc.pos, ml)] END)))[1]).ps""".stripMargin
  }

  /** The unigram EM-prune loop over a `(word, cnt)` frequency table.
    * Returns (pieces = final (piece, piece_len, usage), seg = final
    * (word, cnt, ps) encodings). Pieces with zero final usage are
    * omitted — they remain reachable only as fallback chars. */
  private[operators] def unigramTrain(wordsIn: DataFrame,
      maxLen: Int = UniMaxLen, seedMulti: Int = UniSeedMulti,
      rounds: Int = UniRounds)
      : (DataFrame, DataFrame) = {
    require(maxLen >= 2 && maxLen <= 8, s"maxLen must be in [2, 8], got $maxLen")
    require(seedMulti >= 1 && seedMulti <= 65536,
      s"seedMulti must be in [1, 65536], got $seedMulti")
    require(rounds >= 1 && rounds <= 8, s"rounds must be in [1, 8], got $rounds")
    val words = wordsIn.localCheckpoint(true)
    val seed = words.selectExpr("cnt",
        s"""explode(flatten(transform(sequence(1, length(word)),
           |  i -> transform(sequence(1, least($maxLen, length(word) - i + 1)),
           |    l -> substring(word, i, l))))) AS piece""".stripMargin)
      .groupBy("piece").agg(sum(col("cnt")).as("seed_cnt"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the vocabulary rides the DRIVER between rounds (round 17, guide
    // §2.4 — the BPE literal-winner recipe): it is bounded by
    // construction (single chars ≤ the token alphabet, [a-z0-9] → ≤ 36;
    // survivors ≤ seedMulti ≤ 65536 — the same bounded-row contract as
    // the TakeOrdered argmax heads), so each EM round is ONE
    // TakeOrdered job whose keep-list comes back via collect, and the
    // next segmentation embeds the sorted pieces as a LITERAL array —
    // no per-round collect_list aggregation job, no 1-row
    // BroadcastNestedLoopJoin build, no per-round vocabulary
    // checkpoint. Piece order: Scala sorted == sort_array == DuckDB
    // list_sort on alnum ASCII, so segmentation ties are unchanged.
    val chars: Seq[String] = seed.filter("length(piece) = 1")
      .select("piece").collect().map(_.getString(0)).toSeq
    val seedTop: Seq[String] = seed.filter("length(piece) >= 2")
      .orderBy(col("seed_cnt").desc, col("piece").asc)
      .limit(seedMulti).select("piece").collect().map(_.getString(0)).toSeq
    var vocab: Seq[String] = chars ++ seedTop
    def segment(vs: Seq[String]): DataFrame =
      words.withColumn("vs", typedLit(vs.sorted))
        .selectExpr("word", "cnt", s"${segExpr(maxLen)} AS ps")
    def usage(seg: DataFrame): DataFrame =
      seg.select(col("cnt"), explode(col("ps")).as("piece"))
        .groupBy("piece").agg(sum(col("cnt")).as("usage"))
    (1 to rounds).foreach { r =>
      val keep = math.max(1, seedMulti >> r)
      val kept = usage(segment(vocab)).filter("length(piece) >= 2")
        .orderBy(col("usage").desc, col("piece").asc)
        .limit(keep).select("piece").collect().map(_.getString(0)).toSeq
      vocab = chars ++ kept
    }
    val segF = segment(vocab).persist(StorageLevel.MEMORY_AND_DISK)
    val piecesF = usage(segF)
      .selectExpr("piece", "CAST(length(piece) AS INT) AS piece_len", "usage")
      .transform(graft.Sorted.byNames(_, "piece"))
    (piecesF, segF)
  }

  /** One generated unigram oracle round: segment under va(r-1), count
    * usage, keep chars + top-K survivors, re-sort the piece array. */
  private def duckUniRound(r: Int, maxLen: Int, keep: Int): String =
    s"""sg$r AS (SELECT cnt, unnest(${duckSegExpr(maxLen)}) AS piece
       |  FROM uwords CROSS JOIN va${r - 1}),
       |uu$r AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS usage FROM sg$r GROUP BY piece),
       |v$r AS (SELECT piece FROM uchars UNION ALL
       |  SELECT piece FROM (SELECT piece FROM uu$r WHERE length(piece) >= 2
       |    ORDER BY usage DESC, piece LIMIT $keep)),
       |va$r AS MATERIALIZED (SELECT list_sort(list(piece)) AS vs FROM v$r)""".stripMargin

  /** Shared unigram oracle CTE chain: word frequencies, substring seed,
    * v0, then [[UniRounds]] generated EM rounds ending at va[[UniRounds]]. */
  private def duckUniTrain: String =
    s"""uwords AS MATERIALIZED (SELECT t AS word, COUNT(*)::BIGINT AS cnt
       |  FROM (SELECT unnest(${graft.functions.Portable.duckToksSql("text")}) AS t
       |        FROM documents) GROUP BY 1),
       |useed AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS seed_cnt FROM (
       |    SELECT cnt, unnest(flatten(list_transform(range(1, length(word) + 1),
       |      i -> list_transform(range(1, least($UniMaxLen, length(word) - i + 1) + 1),
       |        l -> substr(word, i, l))))) AS piece FROM uwords) GROUP BY piece),
       |uchars AS MATERIALIZED (SELECT piece FROM useed WHERE length(piece) = 1),
       |v0 AS (SELECT piece FROM uchars UNION ALL
       |  SELECT piece FROM (SELECT piece FROM useed WHERE length(piece) >= 2
       |    ORDER BY seed_cnt DESC, piece LIMIT $UniSeedMulti)),
       |va0 AS MATERIALIZED (SELECT list_sort(list(piece)) AS vs FROM v0),
       |${(1 to UniRounds).map(r =>
          duckUniRound(r, UniMaxLen, math.max(1, UniSeedMulti >> r))).mkString(",\n")},
       |sgf AS MATERIALIZED (SELECT word, cnt, ${duckSegExpr(UniMaxLen)} AS ps
       |  FROM uwords CROSS JOIN va$UniRounds)""".stripMargin

  /** Symbols per word of a BPE encoding (symbols joined by two spaces). */
  private val bpeSymbols = "size(split(trim(enc), '  ')) AS ns"

  /** Every corpus word occurrence counted `(word, cnt)` — unigramTrain's input. */
  private def corpusWords(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .selectExpr(s"explode(${graft.functions.Portable.tokensSql("text")}) AS word")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** One corpus word explode joined to a trained `(word, ns, wl)`
    * table (symbols and chars per word), broadcast — the encode step
    * both tokenizers' reports share. */
  private def encoded(s: SparkSession, dir: String, key: String,
      enc: DataFrame): DataFrame =
    Tables.load(s, dir, "documents")
      .selectExpr(key, s"explode(${graft.functions.Portable.tokensSql("text")}) AS word")
      .join(broadcast(enc), "word")

  /** Per-doc compression report of an encoding: words, symbols, token
    * chars and chars per symbol. A partial+final fold. */
  private def encodeReport(s: SparkSession, dir: String, enc: DataFrame): DataFrame =
    encoded(s, dir, "doc_id", enc)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("ns")).as("n_symbols"),
        sum(col("wl")).as("n_token_chars"))
      .selectExpr("doc_id", "n_words", "n_symbols", "n_token_chars",
        "CAST(n_token_chars AS DOUBLE) / n_symbols AS chars_per_symbol")
      .transform(graft.Sorted.byNames(_, "doc_id"))

  /** Per-language fertility of an encoding (per-mille symbols per word
    * and chars per symbol): |langs| rows, combiner-perfect. */
  private def fertilityReport(s: SparkSession, dir: String, enc: DataFrame): DataFrame =
    encoded(s, dir, "lang", enc)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("ns")).as("n_symbols"),
        sum(col("wl")).as("n_chars"))
      .selectExpr("lang", "n_words", "n_symbols", "n_chars",
        "(n_symbols * 1000L) div n_words AS fertility_mille",
        "(n_chars * 1000L) div n_symbols AS chars_per_symbol_mille")
      .transform(graft.Sorted.byNames(_, "lang"))

  /** DuckDB twin of [[encodeReport]]; `enc` is the body of the
    * `enc(word, ns, wl)` CTE after `SELECT word, `. */
  private def duckEncodeReport(enc: String): String =
    s"""dtoks AS (SELECT doc_id,
       |    ${graft.functions.Portable.duckToksSql("text")} AS ts
       |  FROM documents),
       |dw AS (SELECT doc_id, unnest(ts) AS word FROM dtoks),
       |enc AS (SELECT word, $enc)
       |SELECT doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(ns) AS BIGINT) AS n_symbols,
       |  CAST(SUM(wl) AS BIGINT) AS n_token_chars,
       |  CAST(CAST(SUM(wl) AS BIGINT) AS DOUBLE) / CAST(SUM(ns) AS BIGINT) AS chars_per_symbol
       |FROM dw JOIN enc USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB twin of [[fertilityReport]]; `enc` as in [[duckEncodeReport]]. */
  private def duckFertilityReport(enc: String): String =
    s"""dtoks AS (SELECT lang,
       |    ${graft.functions.Portable.duckToksSql("text")} AS ts
       |  FROM documents),
       |dw AS (SELECT lang, unnest(ts) AS word FROM dtoks),
       |enc AS (SELECT word, $enc),
       |agg AS (SELECT lang, COUNT(*) AS n_words,
       |    CAST(SUM(ns) AS BIGINT) AS n_symbols,
       |    CAST(SUM(wl) AS BIGINT) AS n_chars
       |  FROM dw JOIN enc USING (word) GROUP BY lang)
       |SELECT lang, n_words, n_symbols, n_chars,
       |  (n_symbols * 1000) // n_words AS fertility_mille,
       |  (n_chars * 1000) // n_symbols AS chars_per_symbol_mille
       |FROM agg ORDER BY lang""".stripMargin

  val defs: ListMap[String, QueryDef] = ListMap(

    // ---- BPE merge table: Steps merge rounds over the corpus
    // word-frequency table; output = (step, lhs, rhs, merged, pair_count) ----
    "tokenizer_vocab" -> QueryDef(
      (s, dir) => train(s, dir)._2.orderBy("step"),
      s"""WITH $duckTrain
        |${(1 to Steps).map(n =>
           s"SELECT CAST($n AS INT) AS step, lhs, rhs, lhs || rhs AS merged, pair_count FROM b$n")
           .mkString("\nUNION ALL ")}
        |ORDER BY step""".stripMargin),

    // ---- apply the learned merges: encode every document with the
    // trained vocabulary and report the compression the tokenizer buys.
    // Scale shape: the trained word->encoding table is VOCABULARY-sized
    // and broadcasts onto the corpus token stream (one corpus-linear
    // explode, the same single pass training took); per-doc symbol counts
    // are a partial+final fold. This is the encode step of the BPE story —
    // train (tokenizer_vocab) then apply, both driver-checked. ------------
    "tokenizer_apply" -> QueryDef(
      (s, dir) => {
        val words = train(s, dir)._1 // (word, cnt, enc) after all merges
        encodeReport(s, dir, words.selectExpr("word", bpeSymbols, "length(word) AS wl"))
      },
      s"""WITH $duckTrain,
         |${duckEncodeReport(s"len(string_split(trim(enc), '  ')) AS ns, length(word) AS wl FROM w$Steps")}""".stripMargin),

    // ---- per-language fertility of the learned tokenizer: mean BPE
    // symbols per word (per-mille, integer-exact) — THE multilingual
    // tokenizer-eval metric (a high-fertility language pays proportionally
    // more compute per word at training AND inference, which is how
    // vocab-allocation decisions are made). Same machinery as
    // tokenizer_apply — the trained encodings broadcast onto one corpus
    // word explode — but rolled up to |langs| rows: the aggregation is
    // combiner-perfect (≤ |langs| partial rows per map task) and the
    // whole result fits on a postcard at any corpus size. -----------------
    "tokenizer_fertility" -> QueryDef(
      (s, dir) => {
        val words = train(s, dir)._1
        fertilityReport(s, dir, words.selectExpr("word", bpeSymbols, "length(word) AS wl"))
      },
      s"""WITH $duckTrain,
         |${duckFertilityReport(s"len(string_split(trim(enc), '  ')) AS ns, length(word) AS wl FROM w$Steps")}""".stripMargin),

    // ---- Unigram-LM tokenizer train (Kudo 2018): the EM-prune loop
    // over the corpus word-frequency substrate — see the block comment
    // above [[unigramTrain]] for the algorithm, the two documented
    // deviations (hard-EM greedy E-step; fixed top-K prune) and the
    // scale shape (one corpus pass; vocab-sized EM rounds; TakeOrdered
    // keeps, bounded literal-array vocabularies). Output: the
    // final piece inventory with its usage under the final vocabulary.
    "tokenizer_unigram" -> QueryDef(
      (s, dir) => unigramTrain(corpusWords(s, dir))._1,
      s"""WITH $duckUniTrain
         |SELECT piece, CAST(length(piece) AS INT) AS piece_len,
         |  CAST(SUM(cnt) AS BIGINT) AS usage
         |FROM (SELECT cnt, unnest(ps) AS piece FROM sgf)
         |GROUP BY piece ORDER BY piece""".stripMargin),

    // ---- apply the unigram vocabulary: encode every document with the
    // EM-pruned pieces and report the compression — tokenizer_apply's
    // exact report (n_words / n_symbols / chars_per_symbol per doc) over
    // the unigram segmentations instead of the BPE merges, so the two
    // encode steps read side by side PER DOCUMENT (the fertility entries
    // give the per-language roll-up). Machinery identical: the trained
    // word->n_pieces table is vocabulary-sized and broadcasts onto one
    // corpus word explode; per-doc sums are a partial+final fold. --------
    "tokenizer_unigram_apply" -> QueryDef(
      (s, dir) => {
        val segF = unigramTrain(corpusWords(s, dir))._2
        encodeReport(s, dir, segF.selectExpr("word", "size(ps) AS ns", "length(word) AS wl"))
      },
      s"""WITH $duckUniTrain,
         |${duckEncodeReport("len(ps) AS ns, length(word) AS wl FROM sgf")}""".stripMargin),

    // ---- per-language fertility of the unigram tokenizer: the same
    // report as tokenizer_fertility, swapping the BPE encodings for the
    // unigram segmentations — the side-by-side read (unigram vs BPE
    // symbols per word, per language) SentencePiece's paper makes.
    // Machinery identical: the trained word->n_pieces table is
    // vocabulary-sized and broadcasts onto one corpus word explode. ------
    "tokenizer_unigram_fertility" -> QueryDef(
      (s, dir) => {
        val segF = unigramTrain(corpusWords(s, dir))._2
        fertilityReport(s, dir, segF.selectExpr("word", "size(ps) AS ns", "length(word) AS wl"))
      },
      s"""WITH $duckUniTrain,
         |${duckFertilityReport("len(ps) AS ns, length(word) AS wl FROM sgf")}""".stripMargin)
  )
}
