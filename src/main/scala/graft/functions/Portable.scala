package graft.functions

/** Cross-engine deterministic hashing, expressed as SQL fragments that have
  * bit-identical semantics in Spark SQL and DuckDB (pure int64 arithmetic,
  * no engine-specific hash functions). Verified parity: polyHash("hello
  * world") == 204910434 in both engines.
  *
  * These exist so the LLM-data ops (MinHash/SimHash dedup, fingerprints) are
  * *oracle-checkable*: the DuckDB oracle replays the same arithmetic with
  * list_transform/list_reduce. On the Spark side the hot hashes run as
  * codegen'd native expressions ([[HashExpressions]]: `graft_tokens`,
  * `graft_token_hashes`, `graft_polyhash`, registered by GraftExtensions),
  * so no UDF and no interpreted lambda sits on the corpus path.
  */
object Portable {
  /** Modulus for token/char hashes (fits products with 31 in int64). */
  val P: Long = 1000000007L
  /** 61-bit Mersenne prime for permutation hashes. */
  val P61: Long = 2305843009213693951L
  /** Knuth multiplicative constant for bit mixing. */
  val MIX: Long = 2654435761L
  /** Second (independent) chain for paired fingerprints: a hash value
    * mod P alone is a ~30-bit space, which SATURATES once distinct keys
    * approach 1e9 (any 100 TB n-gram census) — pairing a second chain
    * (mod P2, mixed by MIX2) widens identity to ~60 bits at the cost of
    * one more int64 expression, keeping every product < 2^63
    * (h < 2^30, MIX2 < 2^32). Combined key = hA * 2^31 + hB. */
  val P2: Long = 999999937L
  val MIX2: Long = 2654435789L

  /** MinHash lane-multiplier step. The round-6 DedupGoldenSpec exposed
    * that the original tiny step (40503) left every lane's multiplier
    * a_j ~ MIX, so all 16 permutations shared one wrap point near
    * x = P61/MIX and a single new shingle hashing just above it claimed
    * EVERY lane minimum at once — banding recall collapsed for
    * mid-jaccard pairs. A step of ~4.1e8 spreads a_j over [2.65e9,
    * 8.79e9] (wrap points 8.7e8 down to 2.6e8, all distinct), restoring
    * lane independence while keeping x*a_j < 2^63 for x < P. */
  val LANE: Long = 409000007L

  /** THE content-identity digest, shared by every layer that answers "have
    * I seen this document before": the batch exact-dedup family
    * (`dedup_exact`, `dedup_incremental`, `dedup_keep_list`) and the
    * streaming intake gate (`StreamingCuration`, both the historical Bloom
    * build and the in-stream dedup key). One definition — md5 over the
    * UTF-8 bytes of `text`, lowercase hex — because a silent divergence
    * between builder and prober would make every membership probe miss and
    * every historical duplicate flow through as new. Byte-identity is
    * pinned by StreamingCurationSpec against an independent JDK
    * MessageDigest reference. */
  def contentDigest: org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.md5(org.apache.spark.sql.functions.col("text"))

  /** Lowercased alnum tokens of a string SQL expression. NATIVE since
    * round 17: `graft_tokens` (one compiled scan per row, codegen'd —
    * [[HashExpressions.evalTokens]]) replaces the lambda form (a regex
    * `split` of `lower(c)` under a `filter` dropping empty tokens), which
    * ran INTERPRETED per element at every call site — Spark's
    * split-with-regex plus an ArrayFilter CodegenFallback. Every Spark
    * plan that tokenizes goes through here.
    * It lowers per code point like the DuckDB twin below
    * ([[HashExpressions.lowerCp]]), so it equals the old form except
    * where full and simple lowercase differ (U+0130); PortableTokensSpec
    * pins both. The function registers via GraftExtensions in the ONE
    * session factory, so every Verify/Bench/test session resolves it. */
  def tokensSql(c: String): String = s"graft_tokens($c)"

  /** THE DuckDB twin of [[tokensSql]] — one definition for the ~9 oracles
    * that tokenize (TextOps, Retrieval, Tokenizer, CorpusOps): the "one
    * tokenization contract" the operator comments rely on was previously
    * enforced only by convention across verbatim copies, and editing any
    * one copy would silently desynchronize that oracle from the rest. */
  def duckToksSql(c: String): String =
    s"list_filter(string_split_regex(lower($c), '[^a-z0-9]+'), t -> length(t) > 0)"

  /** THE DuckDB twin of `graft_polyhash` ([[HashExpressions.evalPolyHash]])
    * over an arbitrary string SQL expression `v`: one code point per
    * position, fold (h*31+cp) % P. One definition for every oracle that
    * replays the char polyhash — the same desync argument as
    * [[duckToksSql]]: the hash contract (code-point folding, the modulus)
    * must be editable in ONE place, not in verbatim copies. Lambda vars
    * are prefixed (pi/ph/pc) so the fragment nests safely inside caller
    * lambdas regardless of their variable names. */
  def duckPolyHashSql(v: String): String =
    s"list_reduce(list_prepend(0::BIGINT, " +
      s"list_transform(range(1, length($v) + 1), pi -> ascii(substr($v, pi, 1))::BIGINT)), " +
      s"(ph, pc) -> (ph * 31 + pc) % $P)"

  /** DuckDB: polyhash each element of a token-ARRAY column — the oracle
    * twin of `graft_token_hashes`' per-token fold, shared by the dedup
    * oracles' `th` step. */
  def duckHashTokensSql(arr: String): String =
    s"list_transform($arr, t -> ${duckPolyHashSql("t")})"

  /** THE DuckDB dot product of two float-array SQL expressions: products
    * in FLOAT, accumulated left-to-right in DOUBLE — the arithmetic of
    * `graft_cosine` ([[HashExpressions.cosine]]). The dimension is
    * `len(a)`, never a hard-coded 64: a fixture regenerated at another
    * dim must move both engines together (a mismatched pair is NaN in
    * `graft_cosine` and a NULL-poisoned reduce here; the ranked oracles
    * drop both). */
  def duckDotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($a) + 1), i -> ($a[i] * $b[i])::DOUBLE)), (u, v) -> u + v)"

  /** THE DuckDB twin of `graft_cosine`: [[duckDotSql]] over the two norms,
    * one DOUBLE division. Every cosine oracle (Similarity, Retrieval)
    * uses it. */
  def duckCosSql(a: String, b: String): String =
    s"${duckDotSql(a, b)} / (sqrt(${duckDotSql(a, a)}) * sqrt(${duckDotSql(b, b)}))"
}
