package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Native Catalyst expressions for the portable-hash operators.
  *
  * Semantics are bit-identical to the SQL higher-order-function forms in
  * [[Portable]] (and therefore to the DuckDB oracles): lowercase, tokenize
  * on non-[a-z0-9], polynomial char hash base 31 mod P, 3-token shingles,
  * 16 affine-permutation minhashes mod P61, 60-bit token-vote simhash,
  * rolling char 5-grams. The win over the lambda forms is a single tight
  * JVM loop per row instead of millions of interpreted expression nodes —
  * at 100 TB these run map-side inside the scan stage.
  *
  * All expressions implement `doGenCode`, so they stay INSIDE whole-stage
  * codegen (no CodegenFallback row boxing on the dedup hot path): the
  * generated code is a single static-style call into the same tight loops
  * `eval` uses, and array results are `UnsafeArrayData` (no per-element
  * boxing on either path).
  */
object HashExpressions {
  final val P: Long = Portable.P
  final val P61: Long = Portable.P61
  final val MIX: Long = Portable.MIX

  /** THE lowering of every native text scan ([[tokens]] and so
    * `graft_gopher_stats`, [[tokenHashes]], [[gram5Hashes]],
    * [[evalTextStats]]): Unicode SIMPLE lowercase, one code point in and
    * one out — DuckDB's `lower()`, which every tokenizing oracle runs
    * (U+0130 -> 'i', U+212A KELVIN SIGN -> 'k'). Full lowering
    * (`UTF8String.toLowerCase`: U+0130 -> 'i' + U+0307) would split a
    * token the oracle keeps whole. */
  @inline final def lowerCp(cp: Int): Int = Character.toLowerCase(cp)

  /** The token class [a-z0-9] over a [[lowerCp]]-lowered code point;
    * everything else separates tokens (on both engines). */
  @inline final def isTokenChar(lc: Int): Boolean =
    (lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9')

  /** The tokens THEMSELVES: the maximal [[isTokenChar]] runs of the
    * [[lowerCp]]-lowered code points — the DuckDB `duckToksSql` contract
    * (`string_split_regex(lower(c), '[^a-z0-9]+')`, empties dropped), as
    * one compiled scan per row. Tokens are ASCII, so they are written one
    * byte per char into one row buffer that every token of the row
    * views. */
  private[functions] def tokens(s: UTF8String): Array[UTF8String] = {
    val str = s.toString
    val n = str.length
    val buf = new Array[Byte](n)
    val out = mutable.ArrayBuilder.make[UTF8String]
    var len = 0
    var start = 0
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      val lc = lowerCp(cp)
      if (isTokenChar(lc)) { buf(len) = lc.toByte; len += 1 }
      else if (len > start) {
        out += UTF8String.fromBytes(buf, start, len - start); start = len
      }
      i += Character.charCount(cp)
    }
    if (len > start) out += UTF8String.fromBytes(buf, start, len - start)
    out.result()
  }

  /** [[tokens]]' scan with a per-token poly hash instead of the token. */
  private[functions] def tokenHashes(s: UTF8String): Array[Long] = {
    val str = s.toString
    val out = mutable.ArrayBuilder.make[Long]
    var h = 0L
    var inTok = false
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      val lc = lowerCp(cp)
      if (isTokenChar(lc)) {
        h = (h * 31 + lc) % P
        inTok = true
      } else if (inTok) {
        out += h; h = 0L; inTok = false
      }
      i += Character.charCount(cp)
    }
    if (inTok) out += h
    out.result()
  }

  private[functions] def shingles(th: Array[Long]): Array[Long] = {
    if (th.length < 3) return Array.emptyLongArray
    val seen = new mutable.LinkedHashSet[Long]
    var i = 0
    while (i < th.length - 2) {
      seen += ((th(i) * 31 + th(i + 1)) % P * 31 + th(i + 2)) % P
      i += 1
    }
    seen.toArray
  }

  /** Distinct rolling 8-token window hashes — the exact-substring dedup
    * unit (a shared window hash ⇒ the two docs share an identical 8-token
    * span, modulo hash collision at ~1/P). Same fold as [[shingles]] but
    * width 8 and non-overlap-collapsed via LinkedHashSet. */
  private[functions] def winHashes8(th: Array[Long]): Array[Long] = {
    if (th.length < 8) return Array.emptyLongArray
    val seen = new mutable.LinkedHashSet[Long]
    var i = 0
    while (i <= th.length - 8) {
      var h = 0L
      var k = 0
      while (k < 8) {
        h = (h * 31 + th(i + k)) % P
        k += 1
      }
      seen += h
      i += 1
    }
    seen.toArray
  }

  /** Winnowing selection (Schleimer–Wilkerson–Aiken) over the token-hash
    * stream: gram hashes g_i = (fold *31+ over k consecutive token
    * hashes) % P (single mod at the end — the exact arithmetic of the
    * SQL builder it replaces; no intermediate overflow for k = 3,
    * th < P ~ 2^30), then per w-window j (1-based) the RIGHTMOST minimum:
    * mv = min(g[j..j+w-1]), pos = max{p : g_p = mv}, packed
    * pos·2³¹ + mv, first-occurrence-distinct. Replaces the round-16
    * let-bound higher-order-function SQL expression (round 17): Spark's
    * HOFs are CodegenFallback BY DESIGN (ArrayTransform implements
    * CodegenFallback in 4.1.2 — per-element interpreted eval at any
    * expression size; there is no size cliff to stay under), so the
    * corpus-linear selection pass ran interpreted. This native fold is
    * one codegen'd call per row, same contract as [[winHashes8]]. */
  private[functions] def winnowSel(th: Array[Long], k: Int, w: Int): Array[Long] = {
    val g = th.length - (k - 1)
    if (g < w) return Array.emptyLongArray
    val h = new Array[Long](g)
    var i = 0
    while (i < g) {
      var acc = th(i)
      var j = 1
      while (j < k) { acc = acc * 31 + th(i + j); j += 1 }
      h(i) = acc % P
      i += 1
    }
    val seen = new mutable.LinkedHashSet[Long]
    var j0 = 0 // 0-based window start; SQL's j = j0 + 1
    while (j0 <= g - w) {
      var mv = h(j0)
      var pos = j0
      var p = j0 + 1
      while (p < j0 + w) {
        if (h(p) <= mv) { mv = h(p); pos = p } // <=: rightmost minimum
        p += 1
      }
      seen += (pos + 1).toLong * (1L << 31) + mv // 1-based pos, SQL packing
      j0 += 1
    }
    seen.toArray
  }

  /** Content-defined chunk boundary positions: 1-based char indices i
    * (i >= 16) where the polynomial hash of chars [i-15 .. i] (base 31
    * mod P) ≡ 0 (mod 64). Rabin-Karp incremental update — one multiply,
    * one subtract, one add per char instead of a 16-step refold; modular
    * arithmetic makes the rolled value IDENTICAL to the direct fold the
    * DuckDB oracle computes. */
  private[functions] def cdcBounds(s: UTF8String): Array[Int] = {
    val str = s.toString
    // positions and hash units are CODE POINTS, not UTF-16 chars: the
    // consumers (Spark SQL substring/length and DuckDB substr/ascii) both
    // index code points, so char-unit positions would misalign every
    // chunk after the first supplementary-plane character (review find)
    val cps = str.codePoints().toArray
    val n = cps.length
    if (n < 16) return Array.emptyIntArray
    // 31^15 mod P, for removing the outgoing code point
    var pow = 1L
    var k = 0
    while (k < 15) { pow = pow * 31 % P; k += 1 }
    val out = mutable.ArrayBuilder.make[Int]
    var h = 0L
    var i = 0
    while (i < n) {
      h = (h * 31 + cps(i)) % P
      if (i >= 16) {
        // remove code point i-16 (weight 31^15 after the incoming shift)
        h = (h - cps(i - 16).toLong * pow % P * 31 % P + P * 31) % P
      }
      if (i >= 15 && h % 64 == 0) out += i + 1
      i += 1
    }
    out.result()
  }

  private[functions] def minhashSig(sh: Array[Long]): Array[Long] = {
    val sig = new Array[Long](16)
    var j = 0
    while (j < 16) {
      val a = MIX + Portable.LANE * j
      val b = 98765432L + 1234577L * j
      var best = Long.MaxValue
      var i = 0
      while (i < sh.length) {
        val v = (sh(i) * a + b) % P61
        if (v < best) best = v
        i += 1
      }
      sig(j) = best
      j += 1
    }
    sig
  }

  private[functions] def simhash60(th: Array[Long]): Long = {
    val votes = new Array[Int](60)
    var i = 0
    while (i < th.length) {
      val g = (th(i) * MIX) % P61
      var b = 0
      while (b < 60) {
        if (((g >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Distinct rolling char-5-gram hashes of the lowercased string.
    * CODE POINTS, not UTF-16 units, lowered by [[lowerCp]] — the
    * dedup_ngram_jaccard oracle walks ascii(substr(lower(text), i, 1)),
    * i.e. one code point per position with DuckDB's lower() (review
    * find: the old ASCII-only fold left 'É' unfolded and split astral
    * chars into two surrogates). */
  private[functions] def gram5Hashes(s: UTF8String): Array[Long] = {
    val str = s.toString
    val cps = str.codePoints().toArray
    val n = cps.length
    if (n < 5) return Array.emptyLongArray
    val codes = new Array[Long](n)
    var i = 0
    while (i < n) {
      codes(i) = lowerCp(cps(i)).toLong
      i += 1
    }
    val seen = new mutable.LinkedHashSet[Long]
    i = 0
    while (i <= n - 5) {
      var h = 0L
      var k = 0
      while (k < 5) {
        h = (h * 31 + codes(i + k)) % P
        k += 1
      }
      seen += h
      i += 1
    }
    seen.toArray
  }

  // ---- codegen entry points: one call per row from the generated code,
  // returning unsafe (unboxed) arrays. Referenced from doGenCode as
  // `graft.functions.HashExpressions$.MODULE$.<name>(...)`. -----------------
  def evalTokenHashes(s: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(tokenHashes(s))
  def evalShingles(s: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(shingles(tokenHashes(s)))
  def evalMinhashSig(s: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(minhashSig(shingles(tokenHashes(s))))
  def evalSimhash(s: UTF8String): Long = simhash60(tokenHashes(s))
  def evalGram5(s: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(gram5Hashes(s))
  def evalWinHash8(s: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(winHashes8(tokenHashes(s)))
  def evalCdcBounds(s: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(cdcBounds(s))
  def evalWinnowSel(s: UTF8String, k: Int, w: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(winnowSel(tokenHashes(s), k, w))
  def evalTokens(s: UTF8String): ArrayData =
    new GenericArrayData(tokens(s).asInstanceOf[Array[Any]])

  /** THE gopher-gate stopword list — one definition serving the native
    * [[evalGopherStats]] AND (via [[gopherStopsDuckList]]) the DuckDB
    * gopher CTE, so the two engines' lists can no longer drift. */
  val GopherStops: Array[String] =
    Array("the", "be", "to", "of", "and", "that", "have", "with")
  private val GopherStopsU8: Array[UTF8String] =
    GopherStops.map(UTF8String.fromString)
  def gopherStopsDuckList: String =
    GopherStops.map(w => s"'$w'").mkString("[", ",", "]")

  val gopherStatsType: StructType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("n_alpha", LongType, nullable = false),
    StructField("stop_hits", IntegerType, nullable = false)))

  /** One pass over the [[tokens]] array for
    * the four gopher-gate statistics the SQL form computed with three
    * interpreted per-token lambdas (aggregate length-sum, rlike filter,
    * array_intersect over a distinct): token count, summed token length
    * (tokens are pure ASCII, so chars == bytes), tokens containing a
    * letter (≡ rlike '[a-z]' on [a-z0-9]+ tokens), and the count of
    * DISTINCT stop-list members present (a bitmask over the 8-word
    * list == size(array_intersect(array_distinct(toks), stops))). */
  def evalGopherStats(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val ts = tokens(s)
    var sumLen = 0L
    var nAlpha = 0L
    var stopMask = 0
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      sumLen += t.numChars()
      val nb = t.numBytes()
      var j = 0
      var alpha = false
      while (j < nb && !alpha) {
        val b = t.getByte(j)
        if (b >= 'a' && b <= 'z') alpha = true
        j += 1
      }
      if (alpha) nAlpha += 1
      var k = 0
      while (k < GopherStopsU8.length) {
        if (((stopMask >> k) & 1) == 0 && t.equals(GopherStopsU8(k)))
          stopMask |= 1 << k
        k += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](ts.length, sumLen, nAlpha, Integer.bitCount(stopMask)))
  }
  def evalCosine(l: ArrayData, r: ArrayData): Double = {
    val a = l.toFloatArray()
    val b = r.toFloatArray()
    // mismatched dimensionality is malformed input: return NaN (filtered by
    // every >= threshold and skipped by TopK) rather than silently computing
    // a plausible-but-wrong cosine over the common prefix
    if (a.length != b.length) Double.NaN else cosine(a, b)
  }

  /** The cosine kernel of `graft_cosine` and the streaming embedding
    * near-dup: element products in FLOAT, accumulation left-to-right in
    * DOUBLE, final division in DOUBLE ([[Portable.duckCosSql]] replays the
    * same arithmetic). NaN for a zero-norm side. Equal lengths assumed. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    val n = a.length
    while (i < n) {
      dot += (a(i) * b(i)).toDouble // float multiply, double accumulate
      na += (a(i) * a(i)).toDouble
      nb += (b(i) * b(i)).toDouble
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Raw-character polynomial hash (base 31 mod P) over the UNlowered
    * string — the whole-document fingerprint arithmetic. */
  def evalPolyHash(s: UTF8String): Long = {
    // CODE POINTS (the oracle folds ascii(substr(text, i, 1)) — one code
    // point per position); UTF-16 units would hash an astral char as two
    // surrogates and break fingerprint parity (review find)
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 31 + cp) % P
      i += Character.charCount(cp)
    }
    h
  }

  /** Single-pass text statistics: token count, distinct-token count, one
    * stopword hit count per [[Stopwords.scored]] language, summed token
    * length, and the punctuation count (chars outside [a-z0-9 ] in the RAW
    * string — uppercase counts, matching
    * `length(regexp_replace(text, '[a-z0-9 ]', ''))`). Tokenization is the
    * shared lower+split-on-non-[a-z0-9] contract. One scan replaces ~8
    * interpreted higher-order-lambda passes in the SQL form. */
  def evalTextStats(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    var nTokens = 0
    var sumLen = 0L
    var nPunct = 0
    val uniq = new java.util.HashSet[String]()
    val stopCounts = new Array[Int](Stopwords.sets.length)
    val sb = new java.lang.StringBuilder
    def flush(): Unit = if (sb.length > 0) {
      val t = sb.toString
      nTokens += 1
      sumLen += t.length
      uniq.add(t)
      var j = 0
      while (j < stopCounts.length) {
        if (Stopwords.sets(j).contains(t)) stopCounts(j) += 1
        j += 1
      }
      sb.setLength(0)
    }
    var i = 0
    while (i < str.length) {
      // advance by CODE POINT: the n_punct oracle is length() of a
      // regexp_replace'd string, which counts code points — an astral
      // char must count once, not twice (review find)
      val cp = str.codePointAt(i)
      val lc = lowerCp(cp)
      if (isTokenChar(lc)) sb.append(lc.toChar) else flush()
      val isAlnumOrSpace =
        (cp >= 'a' && cp <= 'z') || (cp >= '0' && cp <= '9') || cp == ' '
      if (!isAlnumOrSpace) nPunct += 1
      i += Character.charCount(cp)
    }
    flush()
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      nTokens, uniq.size,
      stopCounts(0), stopCounts(1), stopCounts(2), stopCounts(3),
      sumLen, nPunct))
  }

  /** Sign-random-projection signature for the embedding near-dup LSH:
    * 12 deterministic hyperplanes w[j][i] = ((i*1103 + j*907) % 2001 -
    * 1000)/1000 over a 64-dim float vector; per plane, FLOAT elements are
    * widened to DOUBLE, multiplied by the DOUBLE weight, and accumulated
    * left-to-right — exactly the SQL `aggregate(zip_with(...))` form the
    * DuckDB oracle replays, so signs are bit-identical. */
  def evalSrp12(arr: ArrayData): ArrayData = evalSrp(arr, 12)

  /** The width-parameterized generalization: `nbits` hyperplanes from the
    * same deterministic family. Bucket occupancy under (bands × width)
    * banding is N / 2^width per band — width is the LSH occupancy knob
    * that must grow ~log2(N) at scale (see ann_range_search's scaladoc);
    * the j-index formula is shared with the 12-plane demo signature so
    * width w ≤ 12 prefixes agree lane-for-lane with graft_srp12. */
  def evalSrp(arr: ArrayData, nbits: Int): ArrayData = {
    // validated HERE, not in nullSafeEval, so the codegen path (which
    // calls this directly) enforces the same bound — a negative width
    // would otherwise surface as a NegativeArraySizeException
    require(nbits >= 1 && nbits <= 1024,
      s"graft_srp nbits must be in [1, 1024], got $nbits")
    val emb = arr.toFloatArray()
    val out = new Array[Int](nbits)
    var j = 0
    while (j < nbits) {
      var acc = 0.0
      var i = 1
      val n = math.min(64, emb.length)
      while (i <= n) {
        val w = ((i * 1103 + j * 907) % 2001 - 1000).toDouble / 1000.0
        acc += emb(i - 1).toDouble * w
        i += 1
      }
      out(j) = if (acc >= 0) 1 else 0
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  val textStatsType: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_uniq", IntegerType, nullable = false),
    StructField("s_en", IntegerType, nullable = false),
    StructField("s_es", IntegerType, nullable = false),
    StructField("s_de", IntegerType, nullable = false),
    StructField("s_fr", IntegerType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("n_punct", IntegerType, nullable = false)))

  private val Self = "graft.functions.HashExpressions$.MODULE$"

  /** A text function's argument: a wrong type fails ANALYSIS instead of
    * a task (a ClassCastException or a Janino compile error). The check
    * adds nothing to the generated code. */
  trait TextArg extends ExpectsInputTypes {
    override def inputTypes: Seq[StringType] = Seq(StringType)
  }

  /** Embedding arguments, all array<float> — [[TextArg]]'s check for
    * the vector functions. */
  trait FloatArrayArgs extends ExpectsInputTypes {
    override def inputTypes: Seq[ArrayType] = children.map(_ => ArrayType(FloatType))
  }

  /** One one-argument kernel: its SQL name, result type, argument type
    * and `evalX` entry point. `eval` calls that same entry point for the
    * interpreted path. */
  final case class Kernel(name: String, dataType: DataType, inputType: DataType,
      entry: String)(val eval: Any => Any)

  /** The one-argument kernels, each a [[KernelExpr]] under its name. */
  val kernels: Seq[Kernel] = {
    def text(name: String, dataType: DataType, entry: String)(f: UTF8String => Any) =
      Kernel(name, dataType, StringType, entry)(v => f(v.asInstanceOf[UTF8String]))
    val longs = ArrayType(LongType, containsNull = false)
    val ints = ArrayType(IntegerType, containsNull = false)
    Seq(
      // the tokens themselves: the compiled `Portable.tokensSql`
      text("graft_tokens", ArrayType(StringType, containsNull = false), "evalTokens")(evalTokens),
      // token poly-hashes, with multiplicity
      text("graft_token_hashes", longs, "evalTokenHashes")(evalTokenHashes),
      // distinct 3-token shingle hashes
      text("graft_shingles", longs, "evalShingles")(evalShingles),
      // 16-lane MinHash signature; docs with no shingles yield
      // Long.MaxValue sentinels (filter on graft_shingles)
      text("graft_minhash_sig", longs, "evalMinhashSig")(evalMinhashSig),
      // 60-bit SimHash fingerprint
      text("graft_simhash", LongType, "evalSimhash")(evalSimhash),
      // distinct rolling char-5-gram hashes
      text("graft_gram5", longs, "evalGram5")(evalGram5),
      // distinct rolling 8-token window hashes
      text("graft_winhash8", longs, "evalWinHash8")(evalWinHash8),
      // 1-based content-defined chunk boundaries (rolling 16-char hash
      // = 0 mod 64)
      text("graft_cdc_bounds", ints, "evalCdcBounds")(evalCdcBounds),
      // raw-char polynomial hash (document fingerprint)
      text("graft_polyhash", LongType, "evalPolyHash")(evalPolyHash),
      // single-pass token/stopword/punctuation statistics
      text("graft_text_stats", textStatsType, "evalTextStats")(evalTextStats),
      // the gopher gate's (n_words, sum_len, n_alpha, stop_hits)
      text("graft_gopher_stats", gopherStatsType, "evalGopherStats")(evalGopherStats),
      // array<float> -> 12-bit sign-random-projection signature
      Kernel("graft_srp12", ints, ArrayType(FloatType), "evalSrp12")(
        v => evalSrp12(v.asInstanceOf[ArrayData])))
  }

  /** A [[Kernel]] as an expression: a wrong argument type fails ANALYSIS,
    * and the generated code is one direct call to the kernel's `evalX`
    * (a primitive result stays unboxed). */
  case class KernelExpr(child: Expression, kernel: Kernel)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(kernel.inputType)
    override def dataType: DataType = kernel.dataType
    override def nullSafeEval(v: Any): Any = kernel.eval(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Self.${kernel.entry}($c)")
    override protected def withNewChildInternal(c: Expression): KernelExpr =
      copy(child = c)
    override def prettyName: String = kernel.name
    // printed as `name(child)`, like the other graft_* expressions
    override protected def stringArgs: Iterator[Any] = Iterator(child)
  }

  /** (text, k, w) -> array<long> of packed winnowing fingerprints
    * (pos·2³¹ + gram_hash, pos 1-based over the gram array) — see
    * [[winnowSel]]. k and w ride the case class as plain ints (the
    * builder requires integer literals), so the expression stays unary
    * over text and the codegen call sites are constants. */
  case class WinnowSelExpr(child: Expression, k: Int, w: Int)
      extends UnaryExpression with TextArg {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      evalWinnowSel(v.asInstanceOf[UTF8String], k, w)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"${Self}.evalWinnowSel($c, $k, $w)")
    override protected def withNewChildInternal(c: Expression): WinnowSelExpr =
      copy(child = c)
    override def prettyName: String = "graft_winnow_sel"
  }

  /** array<float> cosine similarity with the oracle-parity contract:
    * element products in FLOAT, accumulation left-to-right in DOUBLE,
    * final division in DOUBLE — bit-identical to the SQL higher-order-
    * function form and to DuckDB's replay. */
  case class CosineExpr(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with FloatArrayArgs {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(l: Any, r: Any): Any =
      evalCosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$Self.evalCosine($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineExpr =
      copy(l, r)
    override def prettyName: String = "graft_cosine"
  }

  /** Count of DISTINCT common elements of two SORTED numeric arrays — the
    * verify-stage replacement for `size(array_intersect(a, b))`, which
    * builds a hash set AND materializes the intersection array per pair
    * when only the count is needed. The merge scan is O(|a|+|b|) with
    * ZERO allocation per row; callers pre-sort ONCE per doc (map-side
    * `sort_array` on the slim table) while array_intersect re-hashed per
    * CANDIDATE PAIR — the multiplicity a hot doc's array is replicated
    * into is exactly the verify-cost constant. Duplicate runs are skipped
    * on both sides, so the count equals array_intersect's distinct
    * semantics even on non-distinct inputs. */
  def evalSortedInterInt(l: ArrayData, r: ArrayData): Int = {
    val a = l.toIntArray(); val b = r.toIntArray()
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        c += 1
        while (i < a.length && a(i) == x) i += 1
        while (j < b.length && b(j) == y) j += 1
      }
    }
    c
  }

  /** Long twin of [[evalSortedInterInt]] (shingle/minhash domains > 2^31). */
  def evalSortedInterLong(l: ArrayData, r: ArrayData): Int = {
    val a = l.toLongArray(); val b = r.toLongArray()
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        c += 1
        while (i < a.length && a(i) == x) i += 1
        while (j < b.length && b(j) == y) j += 1
      }
    }
    c
  }

  /** `graft_sorted_inter(a, b)`: distinct-intersection COUNT of two sorted
    * int/long arrays (see [[evalSortedInterInt]]).
    *
    * CONTRACT (enforced where the type system can see it): both inputs
    * must be sorted ascending — the merge walk silently undercounts on
    * unsorted input (it is the caller's prepaid `sort_array`, done once
    * per row instead of per pair, that buys the speedup) — and element
    * nulls are rejected at ANALYSIS time (`containsNull = true` fails
    * type-check): `toIntArray`/`toLongArray` read null slots as garbage,
    * so unlike `array_intersect` there is no null-element semantics to
    * offer. Sortedness itself is not machine-checkable at plan time;
    * it is asserted by the HashProperties law suite instead. */
  case class SortedInterCountExpr(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = IntegerType
    private def isLong: Boolean = left.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(IntegerType, false), ArrayType(IntegerType, false)) |
             (ArrayType(LongType, false), ArrayType(LongType, false)) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case (ArrayType(it @ (IntegerType | LongType), _),
              ArrayType(jt @ (IntegerType | LongType), _)) if it == jt =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            "graft_sorted_inter does not accept arrays with nullable elements " +
              "(containsNull = true): the merge walk has no null semantics and " +
              "would read null slots as garbage — array_compact or filter nulls first")
        case (l, r) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"graft_sorted_inter requires two array<int> or two array<bigint> args " +
              s"with non-nullable elements, got $l, $r")
      }
    override def nullSafeEval(l: Any, r: Any): Any =
      if (isLong) evalSortedInterLong(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
      else evalSortedInterInt(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val fn = if (isLong) "evalSortedInterLong" else "evalSortedInterInt"
      defineCodeGen(ctx, ev, (a, b) => s"$Self.$fn($a, $b)")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedInterCountExpr =
      copy(l, r)
    override def prettyName: String = "graft_sorted_inter"
  }

  /** Width-parameterized SRP signature — `graft_srp(embedding, nbits)`.
    * Same hyperplane family as graft_srp12 (w ≤ 12 prefixes agree), with
    * the bit count as the LSH occupancy knob for corpus-sized banding. */
  case class SrpExpr(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      (left.dataType, right.dataType) match {
        case (ArrayType(FloatType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"graft_srp requires (array<float>, int), got (${l.simpleString}, ${r.simpleString})")
      }
    }
    override def nullSafeEval(l: Any, r: Any): Any =
      evalSrp(l.asInstanceOf[ArrayData], r.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$Self.evalSrp($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): SrpExpr =
      copy(l, r)
    override def prettyName: String = "graft_srp"
  }

  /** Every `graft_*` function as a (name, builder) pair — what
    * [[graft.GraftExtensions]] injects into each session: one
    * [[KernelExpr]] per [[kernels]] row, the multi-argument expressions,
    * and Spark's two runtime-filter Bloom expressions. Builders are
    * arity-checked so a wrong-arity SQL call fails analysis with a clear
    * message instead of an IndexOutOfBoundsException from `es(1)`. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = {
    def checked(name: String, arity: Int)(b: Seq[Expression] => Expression): (String, Seq[Expression] => Expression) =
      name -> { es =>
        if (es.length != arity)
          throw new IllegalArgumentException(
            s"$name requires exactly $arity argument(s), got ${es.length}")
        b(es)
      }
    kernels.map(k => checked(k.name, 1)(es => KernelExpr(es.head, k))) ++ Seq(
      checked("graft_winnow_sel", 3) { es =>
        def lit(e: Expression, what: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"graft_winnow_sel: $what must be an integer literal, got $other")
        }
        WinnowSelExpr(es.head, lit(es(1), "k"), lit(es(2), "w"))
      },
      checked("graft_cosine", 2)(es => CosineExpr(es.head, es(1))),
      checked("graft_sorted_inter", 2)(es => SortedInterCountExpr(es.head, es(1))),
      checked("graft_srp", 2)(es => SrpExpr(es.head, es(1))),
      // Spark's own runtime-filter Bloom expressions (used internally for
      // InjectRuntimeFilter but not exposed in the public FunctionRegistry
      // as of 4.1.2) — surfaced here so bloom_membership stays fully
      // native: the aggregate builds the sketch engine-side, the probe is
      // a codegen'd Predicate, and no Scala UDF / driver-side
      // `stat.bloomFilter` collect is involved. might_contain requires its
      // sketch argument to be foldable or a scalar subquery, which is how
      // the operator supplies it.
      checked("graft_bloom_agg", 3)(es =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(es.head, es(1), es(2))),
      checked("graft_might_contain", 2)(es =>
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(es.head, es(1))))
  }
}
