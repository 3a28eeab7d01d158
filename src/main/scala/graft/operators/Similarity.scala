package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Portable.{duckCosSql, duckDotSql}
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.immutable.ListMap

/** Similarity search over `embeddings` (`embedding: array<float>, dim=64`).
  *
  * Numeric parity contract with the DuckDB oracle: element products are done
  * in FLOAT (both engines), accumulated left-to-right in DOUBLE, and the
  * final cosine is a DOUBLE division — bit-identical across engines, so raw
  * doubles are safe to hash-compare.
  *
  * Scale path: `ann_cosine_topk` is the brute-force baseline (broadcast the
  * query set, map-side score + bounded TopK aggregation — see
  * [[graft.functions.TopK]]);
  * `ann_cosine_bucketed` is the IVF-style variant — restrict search to the
  * coarse partition (`label` plays the centroid-assignment role), which is
  * the linear-scan-per-bucket shape a real IVF index has at 100 TB.
  */
object Similarity {

  private val eNormSql =
    "aggregate(transform(embedding, x -> double(x * x)), double(0), (a, b) -> a + b)"

  /** DuckDB replay of [[kmeansAssign]] at the fixture's (k = 4 seeds,
    * 2 Lloyd rounds): the WITH-clause body ending in
    * `af(vec_id, cell, sim)` — the final assignment under the
    * last-round centroids, scaled-int64 centroid arithmetic and the
    * -2 zero-norm sentinel replayed exactly. ONE definition shared by
    * the `embedding_kmeans` and `prototype_prune` oracles (the same
    * desync argument as `Portable.duckToksSql`: the Lloyd replay must
    * be editable in one place). */
  private lazy val duckKmeansAf: String = {
    def round(cin: String, n: Int): String = {
      s"""s$n AS (SELECT e.vec_id, c.c_id, coalesce(${duckCosSql("c_emb", "embedding")}, -2.0) AS sim
         |  FROM embeddings e CROSS JOIN $cin c),
         |a$n AS (SELECT vec_id, c_id AS cell FROM (
         |    SELECT vec_id, c_id,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id) AS rn
         |    FROM s$n) WHERE rn = 1),
         |u$n AS (SELECT a.cell,
         |    UNNEST(range(1, 65)) AS dim,
         |    UNNEST(list_transform(range(1, 65),
         |      j -> CAST(floor(e.embedding[j]::DOUBLE * 1048576) AS BIGINT))) AS q
         |  FROM a$n a JOIN embeddings e USING (vec_id)),
         |g$n AS (SELECT cell, dim, CAST(SUM(q) AS BIGINT) AS sq, COUNT(*) AS n
         |  FROM u$n GROUP BY cell, dim),
         |c${n + 1} AS (SELECT cell AS c_id,
         |    list(CAST(sq::DOUBLE / n / 1048576 AS FLOAT) ORDER BY dim) AS c_emb
         |  FROM g$n GROUP BY cell)""".stripMargin
    }
    s"""c0 AS (SELECT vec_id AS c_id, embedding AS c_emb
       |  FROM embeddings WHERE vec_id < 4),
       |${round("c0", 0)},
       |${round("c1", 1)},
       |sf AS (SELECT e.vec_id, c.c_id, coalesce(${duckCosSql("c_emb", "embedding")}, -2.0) AS sim
       |  FROM embeddings e CROSS JOIN c2 c),
       |af AS (SELECT vec_id, c_id AS cell, sim FROM (
       |    SELECT vec_id, c_id, sim,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id) AS rn
       |    FROM sf) WHERE rn = 1)""".stripMargin
  }

  /** The DuckDB twin of [[assignCells]] at the fixture's k = 4: `cents`
    * are the first four vectors, `sc` scores every vector against them
    * (-2 zero-norm sentinel), `asg` keeps the argmax with ties to the
    * smaller c_id. ONE definition for the IVF family's oracles. */
  private val duckAsg: String =
    s"""cents AS (SELECT vec_id AS c_id, embedding AS c_emb
       |  FROM embeddings WHERE vec_id < 4),
       |sc AS (SELECT e.vec_id, c.c_id,
       |    coalesce(${duckCosSql("c_emb", "embedding")}, -2.0) AS sim
       |  FROM embeddings e CROSS JOIN cents c),
       |asg AS (SELECT vec_id, c_id AS cell FROM (
       |    SELECT vec_id, c_id,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id) AS rn
       |    FROM sc) WHERE rn = 1)""".stripMargin

  /** Each of the 8 query vectors' two nearest cells over [[duckAsg]]'s
    * `sc` — the oracle twin of [[probeCells]] at nprobe = 2. */
  private val duckProbes: String =
    """probes AS (SELECT vec_id AS q_id, c_id AS probe_cell FROM (
      |    SELECT vec_id, c_id,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id) AS rn
      |    FROM sc WHERE vec_id < 8) WHERE rn <= 2)""".stripMargin

  /** The DuckDB twin of [[inCellPairs]] over [[duckAsg]]'s cells:
    * every ordered in-cell pair with both labels and its cosine. */
  private val duckInCellPairs: String =
    s"""ce AS (SELECT e.vec_id, e.label, e.embedding, a.cell
       |  FROM embeddings e JOIN asg a USING (vec_id)),
       |pairs AS (SELECT a.vec_id AS q_id, a.label, b.vec_id, b.label AS nb_label,
       |    ${duckCosSql("a.embedding", "b.embedding")} AS cosine
       |  FROM ce a JOIN ce b ON a.cell = b.cell AND a.vec_id != b.vec_id)""".stripMargin

  /** The 12-plane SRP signature and its 4 × 3 band keys — the DuckDB
    * replay of [[srpBands]] at the fixture's demo point, shared by the
    * SRP-banded oracles. */
  private val duckSrpBands: String =
    """signed AS (
      |  SELECT vec_id, embedding,
      |    list_transform(range(0, 12), j ->
      |      CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
      |        list_transform(range(1, 65),
      |          i -> embedding[i]::DOUBLE * (((i * 1103 + j * 907) % 2001 - 1000)::DOUBLE / 1000.0))),
      |        (a, b) -> a + b) >= 0 THEN 1 ELSE 0 END) AS sg
      |  FROM embeddings),
      |bands AS (SELECT vec_id, b.band AS band,
      |    sg[b.band * 3 + 1] * 4 + sg[b.band * 3 + 2] * 2 + sg[b.band * 3 + 3] AS key
      |  FROM signed, (SELECT unnest(range(0, 4)) AS band) b)""".stripMargin

  /** The oracle-side mirror of [[graft.functions.TopK]]'s NaN drop: a
    * zero-norm vector's cosine is 0/0 = NaN, which BOTH engines order
    * FIRST under `ORDER BY cosine DESC` — but TopK discards it (its
    * comparator is not total under NaN), so every ROW_NUMBER-ranked oracle
    * must discard it too or the two top-k sets diverge on the first
    * degenerate vector. NULL (length-mismatch poisoning, null embedding)
    * falls out of the same predicate. */
  private val duckRankable = "NOT coalesce(isnan(cosine), TRUE)"

  /** The PQ codebook of embedding_pq and ann_ivf_pq: vectors 0 and 1
    * as the one-row `(e0, e1)` frame. */
  private def pqCodebook(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 2)
      .agg(max(when(col("vec_id") === 0, col("embedding"))).as("e0"),
        max(when(col("vec_id") === 1, col("embedding"))).as("e1"))

  /** Squared L2 of `embedding` to both codebook entries per subspace
    * (4 × 16 dims, fixed fold order), named `<prefix><j>0` and
    * `<prefix><j>1`; [[duckPqDists]] replays it. */
  private def pqDists(prefix: String): Seq[String] = {
    def dist(j: Int, c: String) =
      s"""aggregate(sequence(1, 16), CAST(0 AS DOUBLE), (a, i) ->
         |  a + (CAST(element_at(embedding, ${16 * j} + CAST(i AS INT)) AS DOUBLE)
         |       - CAST(element_at($c, ${16 * j} + CAST(i AS INT)) AS DOUBLE))
         |    * (CAST(element_at(embedding, ${16 * j} + CAST(i AS INT)) AS DOUBLE)
         |       - CAST(element_at($c, ${16 * j} + CAST(i AS INT)) AS DOUBLE)))""".stripMargin
    (0 until 4).flatMap(j =>
      Seq(s"${dist(j, "e0")} AS $prefix${j}0", s"${dist(j, "e1")} AS $prefix${j}1"))
  }

  /** Nearest codebook entry per subspace over [[pqDists]]("d"). */
  private val pqCodes: Seq[String] =
    (0 until 4).map(j => s"CAST(IF(d${j}0 <= d${j}1, 0, 1) AS INT) AS code$j")

  private val duckPqCb: String =
    """cb AS (SELECT
      |    (SELECT embedding FROM embeddings WHERE vec_id = 0) AS e0,
      |    (SELECT embedding FROM embeddings WHERE vec_id = 1) AS e1)""".stripMargin

  private def duckPqDists(prefix: String): String = {
    def ddist(j: Int, c: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 17), i ->
         |  (CAST(embedding[${16 * j} + i::INT] AS DOUBLE) - CAST($c[${16 * j} + i::INT] AS DOUBLE))
         |  * (CAST(embedding[${16 * j} + i::INT] AS DOUBLE) - CAST($c[${16 * j} + i::INT] AS DOUBLE)))),
         |  (a, b) -> a + b)""".stripMargin
    (0 until 4).flatMap(j =>
      Seq(s"${ddist(j, "e0")} AS $prefix${j}0", s"${ddist(j, "e1")} AS $prefix${j}1"))
      .mkString(",\n")
  }

  private def duckPqCodes(sep: String): String = (0 until 4)
    .map(j => s"CAST(CASE WHEN d${j}0 <= d${j}1 THEN 0 ELSE 1 END AS INT) AS code$j")
    .mkString(sep)

  /** Scale-safe top-k per query via the bounded [[graft.functions.TopK]]
    * Aggregator: ONE partial+final aggregation — every map task reduces its
    * slice to ≤ k entries before anything shuffles, and each group's final
    * state is ≤ k regardless of corpus size. The naive window form
    * (`row_number().over(partitionBy(q_id))` + filter) shuffles ALL N×Q
    * scored rows into ≤ |Q| reducers — with 10 query vectors that is a
    * 10-reducer bottleneck at any scale (the round-1 named scale-killer).
    * Tie-break (cosine DESC, vec_id ASC) inside the aggregator matches the
    * oracle's deterministic rank order; ranks are re-derived by position on
    * the ≤ k exploded rows. `groupCols` carries along columns functionally
    * dependent on q_id (e.g. the bucketed variant's label). */
  private def topKPerQuery(scored: DataFrame, k: Int, groupCols: String*): DataFrame = {
    val topk = udaf(new graft.functions.TopK(k),
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))
    val keyCols = ("q_id" +: groupCols).map(col)
    scored
      // NULL score (null embedding input) must drop BEFORE the udaf: the
      // tuple encoder decodes a null Double as 0.0, which would rank a
      // degenerate row as a real 0-cosine neighbor; NaN is dropped inside
      // TopK itself. The oracle mirrors both via duckRankable.
      .filter(col("cosine").isNotNull)
      .groupBy(keyCols: _*)
      .agg(topk(col("cosine"), col("vec_id")).as("top"))
      .select(keyCols :+ posexplode(col("top")).as(Seq("pos", "t")): _*)
      .select(keyCols ++ Seq(
        col("t._2").as("vec_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("t._1").as("cosine")): _*)
  }

  val defs: ListMap[String, QueryDef] = ListMap(

    // ---- brute-force cosine top-k (k=5) for 10 query vectors --------------
    "ann_cosine_topk" -> QueryDef(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
          .selectExpr("vec_id AS q_id", "embedding AS q_emb")
        val scored = broadcast(q).join(emb, expr("vec_id != q_id"))
          .selectExpr("q_id", "vec_id",
            s"graft_cosine(q_emb, embedding) AS cosine")
        topKPerQuery(scored, 5)
          .select(col("q_id"), col("vec_id"), col("rank"), col("cosine"))
          .orderBy("q_id", "rank")
      },
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT q_id, vec_id,
         |    ${duckCosSql("q_emb", "embedding")} AS cosine
         |  FROM q JOIN embeddings ON vec_id != q_id),
         |ranked AS (
         |  SELECT q_id, vec_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored WHERE $duckRankable)
         |SELECT q_id, vec_id, rank, cosine FROM ranked
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

    // ---- IVF-style bucketed ANN: search only within the coarse partition
    // (label = centroid assignment), top-3 neighbors for 20 query vectors ---
    "ann_cosine_bucketed" -> QueryDef(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 20)
          .selectExpr("vec_id AS q_id", "label AS q_label", "embedding AS q_emb")
        val scored = broadcast(q).join(emb, expr("label = q_label AND vec_id != q_id"))
          .selectExpr("q_id", "vec_id", "label",
            s"graft_cosine(q_emb, embedding) AS cosine")
        topKPerQuery(scored, 3, "label")
          .select(col("q_id"), col("vec_id"), col("label"), col("rank"), col("cosine"))
          .orderBy("q_id", "rank")
      },
      s"""WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
         |  FROM embeddings WHERE vec_id < 20),
         |scored AS (
         |  SELECT q_id, vec_id, label,
         |    ${duckCosSql("q_emb", "embedding")} AS cosine
         |  FROM q JOIN embeddings ON label = q_label AND vec_id != q_id),
         |ranked AS (
         |  SELECT q_id, vec_id, label, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored WHERE $duckRankable)
         |SELECT q_id, vec_id, label, rank, cosine FROM ranked
         |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin),

    // ---- IVF with CONTENT-DERIVED cells: coarse-quantize every vector to
    // its nearest of 4 deterministic seed centroids (vec_id < 4), then
    // probe only the query's cell (nprobe=1) for exact top-3 — the real
    // IVF recipe, upgrading ann_cosine_bucketed's pre-labeled partition to
    // an assignment computed from the data. Assignment is a 4×N map-side
    // broadcast score + one slim argmax agg (ties broken toward the
    // smaller centroid id, identically in the oracle); at 100 TB the cell
    // id becomes a partition column at index-build time and probing is
    // partition pruning, exactly as ann_cosine_bucketed's plan shows. ------
    "ann_ivf_probe" -> QueryDef(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        // persisted slim: feeds queries AND candidates
        val assigned = assignCells(emb, 4).select(col("vec_id"), col("cell"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val cellEmb = emb.join(assigned, "vec_id")
        val q = cellEmb.filter(col("vec_id") < 8)
          .selectExpr("vec_id AS q_id", "cell AS q_cell", "embedding AS q_emb")
        val scored = broadcast(q)
          .join(cellEmb, expr("cell = q_cell AND vec_id != q_id"))
          .selectExpr("q_id", "vec_id", "cell",
            "graft_cosine(q_emb, embedding) AS cosine")
        topKPerQuery(scored, 3, "cell")
          .select(col("q_id"), col("cell"), col("vec_id"), col("rank"), col("cosine"))
          .orderBy("q_id", "rank")
      },
      s"""WITH $duckAsg,
         |ce AS (SELECT e.vec_id, e.embedding, a.cell
         |  FROM embeddings e JOIN asg a USING (vec_id)),
         |q AS (SELECT vec_id AS q_id, cell AS q_cell, embedding AS q_emb
         |  FROM ce WHERE vec_id < 8),
         |scored AS (SELECT q_id, vec_id, cell,
         |    ${duckCosSql("q_emb", "embedding")} AS cosine
         |  FROM q JOIN ce ON cell = q_cell AND vec_id != q_id),
         |ranked AS (SELECT q_id, cell, vec_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored WHERE $duckRankable)
         |SELECT q_id, cell, vec_id, rank, cosine FROM ranked
         |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin),

    // ---- IVF with nprobe=2: the recall knob — each query probes its TWO
    // nearest cells instead of one (ann_ivf_probe's missed-neighbor failure
    // mode is a true neighbor quantized into the adjacent cell). Data
    // vectors keep their rank-1 assignment, so cells partition the corpus
    // and the probe union is duplicate-free by construction. At scale the
    // scored volume is nprobe × corpus / n_cells — still partition pruning
    // over the cell column, never a full scan; the query-side top-2 cell
    // ranking is a window over the 4 broadcast centroid sims per query
    // (bounded by n_cells, not by data). ------------------------------------
    "ann_ivf_nprobe" -> QueryDef(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val cents = seedCents(emb, 4)
        // persist the N-row ASSIGNMENT, not the 4N-row similarity frame:
        // assignment feeds both the cell join and the final cell re-attach,
        // while the probe ranking only needs the 8 query vectors' sims —
        // recomputing those 32 cosines is free, caching 4x the corpus to
        // share them is not (measured 1.9x vs the recorded median before
        // this change). Same sim expression both paths -> bit-identical.
        val assigned = scoreCells(emb, cents).select(col("vec_id"), col("cell"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val cellEmb = emb.join(assigned, "vec_id")
        val probes = probeCells(emb.filter(col("vec_id") < 8), cents)
        val q = emb.filter(col("vec_id") < 8)
          .selectExpr("vec_id AS q_id", "embedding AS q_emb")
          .join(probes, "q_id")
        val scored = broadcast(q)
          .join(cellEmb, expr("cell = probe_cell AND vec_id != q_id"))
          .selectExpr("q_id", "vec_id",
            "graft_cosine(q_emb, embedding) AS cosine")
        topKPerQuery(scored, 3)
          .join(assigned, "vec_id") // re-attach the neighbor's cell
          .select(col("q_id"), col("cell"), col("vec_id"), col("rank"), col("cosine"))
          .orderBy("q_id", "rank")
      },
      s"""WITH $duckAsg,
         |ce AS (SELECT e.vec_id, e.embedding, a.cell
         |  FROM embeddings e JOIN asg a USING (vec_id)),
         |$duckProbes,
         |q AS (SELECT e.vec_id AS q_id, p.probe_cell, e.embedding AS q_emb
         |  FROM embeddings e JOIN probes p ON p.q_id = e.vec_id),
         |scored AS (SELECT q_id, ce.vec_id, ce.cell,
         |    ${duckCosSql("q_emb", "embedding")} AS cosine
         |  FROM q JOIN ce ON ce.cell = q.probe_cell AND ce.vec_id != q.q_id),
         |ranked AS (SELECT q_id, cell, vec_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored WHERE $duckRankable)
         |SELECT q_id, cell, vec_id, rank, cosine FROM ranked
         |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin),

    // ---- embedding-cosine near-dup pairs: sign-random-projection LSH
    // (4 bands x 3 deterministic hyperplanes) for candidates, exact cosine
    // >= 0.45 verification. All-pairs never materializes — the 100 TB path.
    // (The fixture has no >0.52-cosine pairs, so the demo threshold is 0.45;
    // recall at a real 0.9 near-dup threshold with these bands is ~0.98.) --
    "dedup_embedding_cosine" -> QueryDef(
      (s, dir) => embeddingCosinePairs(Tables.load(s, dir, "embeddings")),
      s"""WITH $duckSrpBands,
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT id_a, id_b,
         |    ${duckCosSql("q_emb", "embedding")} AS cosine
         |  FROM cand
         |  JOIN (SELECT vec_id AS id_a, embedding AS q_emb FROM embeddings) USING (id_a)
         |  JOIN (SELECT vec_id AS id_b, embedding FROM embeddings) USING (id_b))
         |SELECT id_a, id_b, cosine FROM scored
         |WHERE cosine >= 0.45 ORDER BY id_a, id_b""".stripMargin),

    // ---- vector stats: norms and label centroid distances (agg over
    // array columns entirely in codegen'd higher-order functions) -----------
    "vector_norms" -> QueryDef(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        emb.selectExpr("label", s"sqrt($eNormSql) AS norm")
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            min(col("norm")).as("min_norm"),
            max(col("norm")).as("max_norm"))
          .orderBy("label")
      },
      s"""SELECT label, COUNT(*) AS n,
         |  MIN(sqrt(${duckDotSql("embedding", "embedding")})) AS min_norm,
         |  MAX(sqrt(${duckDotSql("embedding", "embedding")})) AS max_norm
         |FROM embeddings GROUP BY label ORDER BY label""".stripMargin),

    // ---- int8 symmetric quantization of embeddings — the storage/IO path
    // of a 100 TB ANN index (4 bytes -> 1 byte per dimension before the
    // bucketed scan). Per-vector scale = 127/max|x|; q_i = floor(x_i *
    // scale + 0.5). Map-side only, entirely codegen'd higher-order
    // functions. Every float step is a single IEEE op with the oracle SQL
    // written in the SAME operation order/parenthesization, so the DOUBLE
    // outputs (and the derived int checksums) agree bitwise; round() is
    // avoided because half-even vs half-up differs across engines —
    // floor(x + 0.5) doesn't. Output is per-vector stats (sum/first/max
    // reconstruction error), not the int array itself, so the compare
    // stays scalar. ---------------------------------------------------------
    "embedding_quantize" -> QueryDef(
      (s, dir) => {
        Tables.load(s, dir, "embeddings")
          // empty vectors are excluded up front (mirrored in the oracle):
          // ANSI element_at on an empty array throws, and sequence(1, 0)
          // would generate a DESCENDING sequence, not an empty one
          .filter("size(embedding) > 0")
          .selectExpr("vec_id", "embedding",
            """greatest(aggregate(embedding, CAST(0 AS DOUBLE),
              |  (a, x) -> greatest(a, abs(CAST(x AS DOUBLE)))), 1e-30D) AS maxabs""".stripMargin)
          .selectExpr("vec_id", "embedding", "maxabs",
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * (127.0D / maxabs) + 0.5D) AS BIGINT)) AS q")
          .selectExpr("vec_id", "maxabs",
            "aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x) AS q_sum",
            "element_at(q, 1) AS q_first",
            """aggregate(transform(sequence(1, size(q)),
              |  i -> abs(CAST(element_at(q, i) AS DOUBLE) * (maxabs / 127.0D)
              |         - CAST(element_at(embedding, i) AS DOUBLE))),
              |  CAST(0 AS DOUBLE), (a, e) -> greatest(a, e)) AS max_err""".stripMargin)
          // map-only child: persist-before-sort (QueryDef scaladoc)
          .transform(graft.Sorted.byNames(_, "vec_id"))
      },
      """WITH m AS (SELECT vec_id, embedding,
        |  greatest(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
        |    (a, b) -> greatest(a, b)), 1e-30) AS maxabs
        |  FROM embeddings WHERE len(embedding) > 0),
        |q AS (SELECT vec_id, maxabs, embedding,
        |  list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5) AS BIGINT)) AS q
        |  FROM m)
        |SELECT vec_id, maxabs,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), q), (a, b) -> a + b) AS q_sum,
        |  q[1] AS q_first,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(range(1, len(q) + 1),
        |      i -> abs(CAST(q[i] AS DOUBLE) * (maxabs / 127.0)
        |             - CAST(embedding[i] AS DOUBLE)))),
        |    (a, b) -> greatest(a, b)) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin),

    // ---- IVF recall evaluation: the index-quality report ------------------
    // recall@3 of ann_ivf_probe's cell-restricted answers against the
    // exact brute-force top-3 for the same 8 queries — the measurement a
    // production ANN deployment runs before trusting an index (and the
    // number the nprobe knob exists to raise). Scale shape: the truth pass
    // is the deliberate exact scan (broadcast 8 queries x corpus,
    // bounded-TopK fold); the comparison joins two <= 24-row frames.
    // Queries with zero overlap keep their row via the left join. ----------
    "ann_recall_report" -> QueryDef(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 8)
          .selectExpr("vec_id AS q_id", "embedding AS q_emb")
        val truthScored = broadcast(q).join(emb, expr("vec_id != q_id"))
          .selectExpr("q_id", "vec_id", "graft_cosine(q_emb, embedding) AS cosine")
        val truth = topKPerQuery(truthScored, 3)
          .select(col("q_id"), col("vec_id"))
        val ivf = defs("ann_ivf_probe").fn(s, dir)
          .select(col("q_id"), col("vec_id"), lit(1).as("m"))
        truth.join(ivf, Seq("q_id", "vec_id"), "left")
          .groupBy(col("q_id"))
          .agg(count(col("m")).as("n_hits"))
          .selectExpr("q_id", "n_hits", "CAST(n_hits AS DOUBLE) / 3 AS recall_at_3")
          .orderBy("q_id")
      },
      s"""WITH $duckAsg,
         |ce AS (SELECT e.vec_id, e.embedding, a.cell
         |  FROM embeddings e JOIN asg a USING (vec_id)),
         |q AS (SELECT vec_id AS q_id, cell AS q_cell, embedding AS q_emb
         |  FROM ce WHERE vec_id < 8),
         |iscored AS (SELECT q_id, vec_id, ${duckCosSql("q_emb", "embedding")} AS cosine
         |  FROM q JOIN ce ON cell = q_cell AND vec_id != q_id),
         |ivf AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
         |    FROM iscored WHERE $duckRankable) WHERE rank <= 3),
         |tscored AS (SELECT q.q_id, e.vec_id,
         |    ${duckCosSql("q_emb", "embedding")} AS cosine
         |  FROM q JOIN embeddings e ON e.vec_id != q.q_id),
         |truth AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
         |    FROM tscored WHERE $duckRankable) WHERE rank <= 3)
         |SELECT t.q_id, COUNT(i.vec_id) AS n_hits,
         |  CAST(COUNT(i.vec_id) AS DOUBLE) / 3 AS recall_at_3
         |FROM truth t LEFT JOIN ivf i ON i.q_id = t.q_id AND i.vec_id = t.vec_id
         |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin),

    // ---- product quantization encode (4 subspaces x 16 dims, k=2) ---------
    // THE 100 TB embedding-compression shape: each vector stores 4 small
    // codes (here 4 bits total) instead of 64 floats; ANN then scans codes
    // with per-subspace lookup tables. Codebook = the seed subvectors of
    // vec_id 0/1 (per-subspace k-means refinement is embedding_kmeans
    // composed per subspace — deliberately not repeated here); encoding is
    // argmin L2^2 per subspace, ties to the smaller centroid id. Scale
    // shape: the codebook is a ONE-ROW broadcast and encoding is pure
    // map-side lambda arithmetic — no explode, no shuffle before the
    // presentation sort; err is the summed reconstruction L2^2 in a fixed
    // fold order (float->double casts exact, identical IEEE sequence both
    // engines). ------------------------------------------------------------
    "embedding_pq" -> QueryDef(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        emb.crossJoin(broadcast(pqCodebook(emb)))
          .selectExpr(Seq("vec_id") ++ pqDists("d"): _*)
          .selectExpr(Seq("vec_id") ++ pqCodes ++
            Seq((0 until 4).map(j => s"IF(d${j}0 <= d${j}1, d${j}0, d${j}1)")
              .mkString("((", " + ", ")") + ") AS err"): _*)
          .transform(graft.Sorted.byNames(_, "vec_id"))
      },
      s"""WITH $duckPqCb,
         |d AS (SELECT vec_id,
         |${duckPqDists("d")}
         |  FROM embeddings, cb)
         |SELECT vec_id,
         |  ${duckPqCodes(",\n  ")},
         |  ((${(0 until 4).map(j => s"CASE WHEN d${j}0 <= d${j}1 THEN d${j}0 ELSE d${j}1 END").mkString(" + ")})) AS err
         |FROM d ORDER BY vec_id""".stripMargin),

    // ---- IVF+PQ ADC search: the full 100 TB ANN index composed ------------
    // ann_ivf_nprobe's probes (top-2 cells per query) scanned with
    // embedding_pq's codes via Asymmetric Distance Computation: per query
    // a 4x2 lookup table of exact subspace L2^2 distances to the codebook
    // (a ONE-ROW broadcast, same as embedding_pq), so scoring a data
    // vector inside a probed cell is 4 table lookups + 3 adds on its
    // 4 codes — the full float vector is never read in the scan phase.
    // The ADC top-8 shortlist per query (bounded TopK aggregator over the
    // NEGATED distance — exact IEEE sign flip, so -adc DESC == adc ASC)
    // is then exactly re-ranked with true cosines, emitting top-3.
    // Scale shape: cells prune the corpus (nprobe x N / n_cells codes
    // scanned), codes are 4 ints instead of 64 floats (the 16x I/O story
    // PQ exists for), the LUT and codebook broadcast, the exact re-rank
    // touches <= 8 vectors per query. Parity: every LUT/ADC double is the
    // same fixed-order IEEE sequence as embedding_pq's dist columns. ------
    "ann_ivf_pq" -> QueryDef(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val cents = seedCents(emb, 4)
        // rank-1 cell assignment — the same scoreCells as ann_ivf_nprobe
        val assigned = scoreCells(emb, cents).select(col("vec_id"), col("cell"))
        val cb = pqCodebook(emb)
        // the PQ-coded corpus: (vec_id, cell, code0..code3) — this is the
        // frame a production index PERSISTS; the float vectors are gone
        val codes = emb.crossJoin(broadcast(cb))
          .selectExpr(Seq("vec_id") ++ pqDists("d"): _*)
          .selectExpr(Seq("vec_id") ++ pqCodes: _*)
          .join(assigned, "vec_id")
        val probes = probeCells(emb.filter(col("vec_id") < 8), cents)
        // per-query ADC lookup table: 4 subspaces x 2 centroids = 8 doubles
        val qlut = emb.filter(col("vec_id") < 8)
          .crossJoin(broadcast(cb))
          .selectExpr(Seq("vec_id AS q_id") ++ pqDists("l"): _*)
          .join(probes, "q_id")
        val adc = (0 until 4).map(j => s"IF(code$j = 0, l${j}0, l${j}1)").mkString(" + ")
        val shortScored = broadcast(qlut)
          .join(codes, expr("cell = probe_cell AND vec_id != q_id"))
          .selectExpr("q_id", "vec_id", s"($adc) AS adc")
        // bounded top-8 by ADC distance ASC (negate for the DESC aggregator)
        val cand = topKPerQuery(shortScored.withColumn("cosine", -col("adc")), 8)
          .selectExpr("q_id", "vec_id", "-cosine AS adc")
          .persist(StorageLevel.MEMORY_AND_DISK)
        val qe = emb.filter(col("vec_id") < 8)
          .selectExpr("vec_id AS q_id", "embedding AS q_emb")
        val rescored = cand
          .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
          .join(broadcast(qe), "q_id")
          .selectExpr("q_id", "vec_id", "graft_cosine(q_emb, embedding) AS cosine")
        topKPerQuery(rescored, 3)
          .join(cand, Seq("q_id", "vec_id"))
          .select(col("q_id"), col("vec_id"), col("rank"), col("adc"), col("cosine"))
          .orderBy("q_id", "rank")
      }, {
        val dadc = (0 until 4)
          .map(j => s"CASE WHEN code$j = 0 THEN l${j}0 ELSE l${j}1 END").mkString(" + ")
        s"""WITH $duckAsg,
           |$duckProbes,
           |$duckPqCb,
           |dcodes AS (SELECT vec_id,
           |${duckPqDists("d")}
           |  FROM embeddings, cb),
           |codes AS (SELECT c.vec_id,
           |    ${duckPqCodes(",\n    ")},
           |    a.cell
           |  FROM dcodes c JOIN asg a USING (vec_id)),
           |qlut AS (SELECT vec_id AS q_id,
           |${duckPqDists("l")}
           |  FROM embeddings, cb WHERE vec_id < 8),
           |scored AS (SELECT q.q_id, c.vec_id, ($dadc) AS adc
           |  FROM qlut q JOIN probes p ON p.q_id = q.q_id
           |  JOIN codes c ON c.cell = p.probe_cell AND c.vec_id != q.q_id),
           |short AS (SELECT q_id, vec_id, adc FROM (
           |    SELECT q_id, vec_id, adc,
           |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc ASC, vec_id) AS rn
           |    FROM scored WHERE NOT coalesce(isnan(adc), TRUE)) WHERE rn <= 8),
           |rescored AS (SELECT s.q_id, s.vec_id, s.adc,
           |    ${duckCosSql("q_emb", "embedding")} AS cosine
           |  FROM short s JOIN embeddings e ON e.vec_id = s.vec_id
           |  JOIN (SELECT vec_id AS qv, embedding AS q_emb
           |        FROM embeddings WHERE vec_id < 8) q ON q.qv = s.q_id),
           |ranked AS (SELECT q_id, vec_id, adc, cosine,
           |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
           |  FROM rescored WHERE $duckRankable)
           |SELECT q_id, vec_id, rank, adc, cosine FROM ranked
           |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
      }),

    // ---- k-means (2 Lloyd iterations, k=4) over the embedding corpus ------
    // The IVF TRAINING step ann_ivf_probe's content-derived cells assume:
    // seed with the 4 deterministic centroids, then assign -> update twice,
    // and emit the final assignment. Scale shape per round: assignment is a
    // k x N broadcast score + window-free argmax (one partial+final agg);
    // the update is a posexplode to (cell, dim) rows — one corpus-linear
    // shuffle bounded by k*64 groups — and centroids re-enter as a
    // broadcast. localCheckpoint bounds plan depth like every iterative op
    // here. Cross-engine parity: float sums are order-dependent, so the
    // update accumulates floor(x * 2^20) scaled int64 (exact, commutative);
    // the mean returns to double (sum/n/2^20 — identical IEEE op sequence
    // both sides) and is cast to FLOAT, so round-2 cosines see bit-identical
    // centroids. Empty cells would drop (fixture cells are all populated);
    // production keeps the stale centroid via a left join — documented, not
    // needed at any tested SF. --------------------------------------------
    "embedding_kmeans" -> QueryDef(
      (s, dir) => kmeansAssign(Tables.load(s, dir, "embeddings"), k = 4, iters = 2),
      s"""WITH $duckKmeansAf
         |SELECT vec_id, cell, sim FROM af ORDER BY vec_id""".stripMargin),

    // ---- IVF index balance report -------------------------------------------
    // The operational read BEFORE trusting an IVF index: nprobe math
    // assumes cells near N/k; a skewed build (bad seeds, clustered data)
    // silently turns "probe 2 of 4 cells" into "probe the one cell
    // holding 80% of the corpus" — recall math intact, latency math
    // gone. One row: vectors, cells used/empty, min/max cell size, and
    // imbalance_milli = max_cell·k·1000/N (1000 = perfectly balanced).
    // Generic over ANY (vec_id, cell) assignment — IVF cells here, SRP
    // buckets equally. Scale shape: the per-cell count is the only
    // fold over the assignment; the report aggregates the k-row size
    // frame. Imbalance stages in DECIMAL(38,0). ------------------------------
    "ann_index_stats" -> QueryDef(
      (s, dir) => ivfIndexStats(
        kmeansAssign(Tables.load(s, dir, "embeddings"), k = 4, iters = 2)
          .select(col("vec_id"), col("cell")), k = 4),
      s"""WITH $duckKmeansAf,
         |sz AS (SELECT cell, COUNT(*)::BIGINT AS n_vecs FROM af GROUP BY 1)
         |SELECT 4::BIGINT AS k, SUM(n_vecs)::BIGINT AS n_vectors,
         |  COUNT(*)::BIGINT AS cells_used,
         |  (4 - COUNT(*))::BIGINT AS empty_cells,
         |  MIN(n_vecs) AS min_cell, MAX(n_vecs) AS max_cell,
         |  CAST(MAX(n_vecs)::HUGEINT * 4 * 1000 // SUM(n_vecs) AS BIGINT)
         |    AS imbalance_milli
         |FROM sz""".stripMargin),

    // ---- SemDeDup-style semantic dedup — see [[semanticDedup]]; the
    // fixture instantiates k = 4 cells (matching the seed count the other
    // IVF-family fixtures use); the scale knob k ~ sqrt(N) is the
    // DEFAULT of the operator signature and decade-probed in SCALE.md. --
    "dedup_semantic" -> QueryDef(
      (s, dir) => semanticDedup(Tables.load(s, dir, "embeddings"), k = 4),
      s"""WITH $duckAsg,
         |ce AS (SELECT e.vec_id, e.embedding, a.cell
         |  FROM embeddings e JOIN asg a USING (vec_id)),
         |drops AS (SELECT DISTINCT b.vec_id
         |  FROM ce a JOIN ce b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ${duckCosSql("a.embedding", "b.embedding")} >= 0.45)
         |SELECT ce.vec_id, ce.cell, CAST(d.vec_id IS NULL AS INT) AS keep
         |FROM ce LEFT JOIN drops d ON ce.vec_id = d.vec_id
         |ORDER BY ce.vec_id""".stripMargin),

    // ---- radius (ε-NN) similarity search: ALL corpus vectors within a
    // cosine radius of each query — the "find everything similar enough"
    // API next to top-k (dedup sweeps, recall-oriented retrieval, policy
    // matching), where k is unknowable a priori. Same SRP-LSH prefilter
    // as dedup_embedding_cosine (4 bands × 3 deterministic hyperplanes)
    // but ASYMMETRIC: only query-side bands join the corpus bands, so
    // candidate volume is (query buckets) × occupancy, not corpus².
    // Exact cosine ≥ 0.45 verification on candidates only; no id <
    // ordering — radius semantics return each query's full neighborhood.
    // Query set = vec_id % 25 = 0 (a corpus-resident query workload, the
    // ann_cosine_topk convention). -----------------------------------------
    "ann_range_search" -> QueryDef(
      (s, dir) => rangeSearch(Tables.load(s, dir, "embeddings")),
      s"""WITH $duckSrpBands,
         |cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id
         |  FROM bands q JOIN bands c ON q.band = c.band AND q.key = c.key
         |    AND q.vec_id % 25 = 0 AND q.vec_id != c.vec_id),
         |scored AS (
         |  SELECT q_id, cand.vec_id,
         |    ${duckCosSql("q_emb", "embedding")} AS cosine
         |  FROM cand
         |  JOIN (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings) USING (q_id)
         |  JOIN (SELECT vec_id, embedding FROM embeddings) USING (vec_id))
         |SELECT q_id, vec_id, cosine FROM scored
         |WHERE cosine >= 0.45 ORDER BY q_id, vec_id""".stripMargin),

    // ---- kNN label-probe accuracy — see [[knnLabelProbe]]; the fixture
    // instantiates k = 4 cells (the content-derived seed assignment the
    // whole IVF family shares); the k ~ sqrt(N) knob is the signature
    // default, same contract as dedup_semantic. ---------------------------
    "knn_label_probe" -> QueryDef(
      (s, dir) => knnLabelProbe(Tables.load(s, dir, "embeddings"), k = 4),
      s"""WITH $duckAsg,
         |$duckInCellPairs,
         |nn AS (SELECT q_id, label, nb_label FROM (
         |    SELECT q_id, label, nb_label,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn
         |    FROM pairs WHERE $duckRankable) WHERE rn <= 5),
         |votes AS (SELECT q_id, label, nb_label, COUNT(*) AS votes
         |  FROM nn GROUP BY 1, 2, 3),
         |pred AS (SELECT q_id, label, nb_label AS pred FROM (
         |    SELECT q_id, label, nb_label,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY votes DESC, nb_label) AS rn
         |    FROM votes) WHERE rn = 1)
         |SELECT label, COUNT(*) AS n,
         |  CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT) * 1000 // COUNT(*) AS acc_pm
         |FROM pred GROUP BY label ORDER BY label""".stripMargin),

    // ---- hard-negative mining — see [[hardNegatives]]; fixture k = 4
    // cells, top-3 negatives per query, same cell contract as the rest
    // of the family. -------------------------------------------------------
    "hard_negatives" -> QueryDef(
      (s, dir) => hardNegatives(Tables.load(s, dir, "embeddings"), k = 4),
      s"""WITH $duckAsg,
         |$duckInCellPairs,
         |nn AS (SELECT q_id, label, vec_id, nb_label, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM pairs WHERE nb_label != label AND $duckRankable)
         |SELECT q_id, label, vec_id, nb_label AS neg_label, rank, cosine
         |FROM nn WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin),

    // ---- per-label centroid-margin separability report — see
    // [[labelCentroidMargin]]; fully map-side + broadcast (no pair
    // volume), the contrast to the cell-based probes. ----------------------
    "label_centroid_margin" -> QueryDef(
      (s, dir) => labelCentroidMargin(Tables.load(s, dir, "embeddings")),
      s"""WITH u AS (SELECT label,
         |    UNNEST(range(1, 65)) AS dim,
         |    UNNEST(list_transform(range(1, 65),
         |      j -> CAST(floor(embedding[j]::DOUBLE * 1048576) AS BIGINT))) AS q
         |  FROM embeddings),
         |g AS (SELECT label, dim, CAST(SUM(q) AS BIGINT) AS sq, COUNT(*) AS n
         |  FROM u GROUP BY label, dim),
         |c AS (SELECT label AS c_label,
         |    list(CAST(sq::DOUBLE / n / 1048576 AS FLOAT) ORDER BY dim) AS c_emb
         |  FROM g GROUP BY label),
         |s AS (SELECT e.vec_id, e.label, c.c_label,
         |    coalesce(${duckCosSql("c_emb", "embedding")}, -2.0) AS sim
         |  FROM embeddings e CROSS JOIN c),
         |m AS (SELECT vec_id, label,
         |    MAX(CASE WHEN c_label = label THEN sim END) AS own,
         |    MAX(CASE WHEN c_label != label THEN sim END) AS other
         |  FROM s GROUP BY vec_id, label),
         |mm AS (SELECT label,
         |    CAST(floor((own - other) * 1000000) AS BIGINT) AS margin_ppm FROM m)
         |SELECT label, COUNT(*) AS n,
         |  CAST(SUM(margin_ppm) AS BIGINT) // COUNT(*) AS mean_margin_ppm,
         |  CAST(SUM(CASE WHEN margin_ppm > 0 THEN 1 ELSE 0 END) AS BIGINT) * 1000 // COUNT(*) AS pos_pm
         |FROM mm GROUP BY label ORDER BY label""".stripMargin),

    // ---- top principal component + per-vector projection — the
    // dominant-direction diagnostic behind "all-but-the-top" embedding
    // postprocessing (Mu & Viswanath 2018: embeddings share a large
    // common direction; removing it improves downstream similarity) and
    // the PCA step of any whitening/compression pass before ANN. The
    // whole pipeline is DETERMINISTIC cross-engine: means and the 64×64
    // covariance accumulate floor(x·2^20) scaled int64 (exact,
    // commutative — the kmeans centroid arithmetic), and each of the 8
    // power-iteration steps quantizes the matrix-vector product to
    // int64 before the (fixed-order) norm and divide, so both engines
    // walk bit-identical doubles. v₀ = e₁; a zero-covariance corpus
    // keeps v (norm-0 guard). See [[embeddingPca]] for the scale
    // shape. ------------------------------------------------------------
    "embedding_pca" -> QueryDef(
      (s, dir) => embeddingPca(Tables.load(s, dir, "embeddings"), iters = 8),
      duckPcaSelect(8)),

    // ---- all-but-the-top anisotropy report ---------------------------------
    // Mu & Viswanath (ICLR 2018): trained embeddings concentrate mass in
    // a common mean and a few dominant directions, and removing both
    // improves every downstream similarity task — THIS is the diagnostic
    // you run first: mean_share_ppm (raw second moment captured by the
    // mean) and pc1_var_ppm (centered variance along the top component;
    // isotropic 64-dim data reads ~15625 = 1e6/64). Composes the pca
    // substrate through ONE pcaParts definition (the power iteration can
    // never fork between the two operators); energies fold as
    // floor-quantized int64 so both engines sum identical integers; one
    // row out, one projection pass past the substrate. ----------------------
    "embedding_anisotropy" -> QueryDef(
      (s, dir) => embeddingAnisotropy(Tables.load(s, dir, "embeddings"), iters = 8),
      duckAnisotropySql(8)),

    // ---- prototypicality pruning (SSL prototypes, Sorscher et al. 2022
    // "Beyond neural scaling laws"): cluster the corpus with k-means,
    // score each example by cosine to its own centroid (the prototype),
    // and KEEP the hardest keepPm per mille of each cluster — in the
    // abundant-data regime, pruning the easy/prototypical examples beats
    // any random subset, and the per-CLUSTER quota preserves coverage of
    // the embedding space (a global threshold would empty the tight
    // clusters first). See [[prototypePrune]] for the scale shape; the
    // fixture instantiates the kmeans fixture's (k = 4, iters = 2) and
    // keepPm = 700. Oracle replays Lloyd via the shared duckKmeansAf
    // prefix, then the same per-cell hardness rank. --------------------
    "prototype_prune" -> QueryDef(
      (s, dir) => prototypePrune(
        Tables.load(s, dir, "embeddings"), k = 4, iters = 2, keepPm = 700),
      s"""WITH $duckKmeansAf,
         |pr AS (SELECT vec_id, cell, sim,
         |    ROW_NUMBER() OVER (PARTITION BY cell ORDER BY sim, vec_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY cell) AS nc
         |  FROM af)
         |SELECT vec_id, cell, sim,
         |  CAST(rn <= (nc * 700 + 999) // 1000 AS INT) AS keep
         |FROM pr ORDER BY vec_id""".stripMargin)
  )

  /** THE ONE definition of the k ~ √N cell sizing shared by
    * [[semanticDedup]], [[knnLabelProbe]], and [[hardNegatives]]
    * (SCALE.md "the semantic-dedup cell knob": in-cell pair volume
    * ~N²/k, so k ~ √N puts total verify work at ~N^1.5 — measured
    * across corpus decades, exponents 1.53/1.55). Resolution order:
    * an explicit `k` wins; else an explicit `corpusSize` sizes k with
    * ZERO driver actions — the 100 TB path, where the caller knows its
    * corpus size (or counts once and reuses it across every cell-based
    * operator in the run) and a redundant full-scan count per operator
    * call would be real money; else ONE `count()` job (Catalyst prunes
    * it to a parquet row-count scan) as the demo-convenience fallback. */
  private[operators] def sqrtCellK(emb: DataFrame, k: Int, corpusSize: Long): Int =
    if (k > 0) k
    else {
      val n = if (corpusSize > 0L) corpusSize else emb.count()
      math.max(1, math.round(math.sqrt(n.toDouble)).toInt)
    }

  /** Coarse cell assignment of the IVF family ([[semanticDedup]],
    * [[inCellPairs]], ann_ivf_probe): nearest of the first-k
    * content-derived seed centroids (`vec_id < k`) by [[scoreCells]].
    * Zero-norm vectors are degenerate everywhere cosine appears:
    * assignment ranks them with an explicit -2 sentinel (Spark's NaN
    * orders GREATEST, DuckDB's 0/0 is NULL and orders last — the
    * sentinel pins both engines to "worse than any real cosine"; fuzz
    * find, seed 77). */
  def assignCells(emb: DataFrame, k: Int): DataFrame =
    scoreCells(emb, seedCents(emb, k))

  /** The first-k content-derived seed centroids `(c_id, c_emb)`. */
  private def seedCents(emb: DataFrame, k: Int): DataFrame =
    emb.filter(col("vec_id") < k).selectExpr("vec_id AS c_id", "embedding AS c_emb")

  /** Every vector's cosine to every broadcast centroid `(vec_id, c_id,
    * sim)`, zero-norm vectors at the -2 sentinel. */
  private def cellSims(emb: DataFrame, cents: DataFrame): DataFrame = {
    emb.crossJoin(broadcast(cents))
      .selectExpr("vec_id", "c_id", "nanvl(graft_cosine(c_emb, embedding), -2.0) AS sim")
  }

  /** Each vector's two nearest cells `(q_id, probe_cell)` (nprobe = 2),
    * ties to the smaller c_id. The window runs over k sims per vector. */
  private def probeCells(emb: DataFrame, cents: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("sim").desc, col("c_id"))
    cellSims(emb, cents)
      .withColumn("probe", row_number().over(w))
      .filter(col("probe") <= 2)
      .selectExpr("vec_id AS q_id", "c_id AS probe_cell")
  }

  /** THE nearest-centroid assignment: [[cellSims]] and a window-free
    * min-id-tie-break argmax → `(vec_id, cell, sim)`. max(struct(sim,
    * -c_id)) picks the larger -c_id = smaller c_id on equal sims, the
    * oracle's (sim DESC, c_id ASC) row_number. One definition — every
    * IVF query, assignCells and both kmeansAssign sites (loop + final)
    * ride it, so the sentinel and tie-break contracts (both fuzz-found)
    * cannot drift apart across call sites. */
  private def scoreCells(emb: DataFrame, cents: DataFrame): DataFrame = {
    cellSims(emb, cents)
      .groupBy(col("vec_id"))
      .agg(max(struct(col("sim"), (-col("c_id")).as("nc"))).as("m"))
      .select(col("vec_id"), (-col("m.nc")).as("cell"), col("m.sim").as("sim"))
  }

  /** SemDeDup-style semantic dedup: coarse cells ([[assignCells]] — the
    * same content-derived seed assignment as ann_ivf_probe), exact cosine
    * pairing ONLY inside a cell, and of any pair >= `threshold` the larger
    * vec_id drops (min-id canonical, same rule as dedup_keep_list).
    * This is the SECOND standard embedding-dedup shape next to
    * dedup_embedding_cosine's global SRP-LSH banding: the quadratic term
    * is per-cell, and `k` is the knob that bounds it — with cells of
    * expected size N/k the pair volume is ~N²/k, so the DEFAULT `k = 0`
    * sizes k = round(sqrt(N)) via [[sqrtCellK]] (driver-action-FREE
    * when the caller passes `corpusSize`; otherwise one pruned count
    * job, the demo fallback), putting total verify
    * work at ~N^1.5 — the SemDeDup paper's sizing, measured across
    * corpus decades in SCALE.md rather than argued in prose. The cell
    * join is an equi-shuffle on the cell id, never an all-pairs product
    * (plan-pinned); the cell frame is persisted once and feeds the
    * a-side, the b-side, and the final keep join. The in-cell drop
    * filter excludes NaN (zero-norm), same contract as
    * dedup_embedding_cosine. */
  def semanticDedup(emb: DataFrame, k: Int = 0,
      threshold: Double = 0.45, corpusSize: Long = 0L): DataFrame = {
    val kk = sqrtCellK(emb, k, corpusSize)
    val ce = emb.join(assignCells(emb, kk).drop("sim"), "vec_id")
      .select(col("vec_id"), col("cell"), col("embedding"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val a = ce.selectExpr("cell", "vec_id AS id_a", "embedding AS q_emb")
    val b = ce.selectExpr("cell", "vec_id AS id_b", "embedding")
    val drops = a.join(b, "cell")
      .filter(col("id_a") < col("id_b"))
      .selectExpr("id_b", "graft_cosine(q_emb, embedding) AS cosine")
      .filter(s"NOT isnan(cosine) AND cosine >= $threshold")
      .selectExpr("id_b AS vec_id", "1 AS dropped").distinct()
    ce.join(drops, Seq("vec_id"), "left")
      .selectExpr("vec_id", "cell", "CAST(dropped IS NULL AS INT) AS keep")
      .transform(graft.Sorted.byNames(_, "vec_id"))
  }

  /** Occupancy-targeted SRP band width — the `width ~ log2(N)` growth
    * rule the decade probes measured (SCALE.md, "Round-9: the
    * radius-search band-width knob, measured"), as code: expected
    * band-bucket occupancy is N / 2^width, so holding a target mean
    * occupancy takes width = ceil(log2(N / targetOccupancy)). Mirrors [[sqrtCellK]]'s pattern: the caller
    * passes the corpus size it already knows (or counted once) and gets
    * the width that keeps candidate volume flat as the corpus grows — a
    * CONSTANT width saturates: at fixed width 3 the 100× probe's
    * candidate set grew superlinearly until the run was killed, while
    * +3 bits cut candidates 3.7× (SCALE.md "the radius-search band-width
    * knob"). Floor 3 = the fixture demo point (lane-compatible with the
    * graft_srp12 oracle replay); cap 256 keeps nbits ≤ 1024 at the
    * default 4 bands. `targetOccupancy` trades recall against candidate
    * volume at a given radius (P(band match) = p^width, p = 1 − θ/π) —
    * 64 is the probe-validated default. */
  def srpWidthFor(corpusSize: Long, targetOccupancy: Long = 64L): Int = {
    require(corpusSize > 0 && targetOccupancy > 0,
      s"corpusSize and targetOccupancy must be positive, got ($corpusSize, $targetOccupancy)")
    val w = math.ceil(
      math.log(corpusSize.toDouble / targetOccupancy) / math.log(2.0)).toInt
    math.min(256, math.max(3, w))
  }

  /** The persisted (vec_id, band, key) frame shared by the SRP family:
    * width-parameterized native signature, one explode to band keys.
    * Key encoding (bit concat) is internal — any injective encoding of
    * the width-bit tuple partitions candidates identically. */
  private def srpBands(emb: DataFrame, width: Int, nBands: Int): DataFrame = {
    val signed = emb
      .selectExpr("vec_id", s"graft_srp(embedding, ${width * nBands}) AS sg")
      .persist(StorageLevel.MEMORY_AND_DISK)
    signed.selectExpr("vec_id",
      s"""explode(transform(sequence(0, ${nBands - 1}), b -> struct(b AS band,
         | concat_ws('', slice(sg, b * $width + 1, $width)) AS key))) AS bk""".stripMargin)
      .selectExpr("vec_id", "bk.band AS band", "bk.key AS key")
  }

  /** Symmetric SRP-banded near-dup pairs — dedup_embedding_cosine's
    * body with the band WIDTH in the signature: the same occupancy knob
    * as [[rangeSearch]] (a constant key space saturates at corpus scale;
    * width must grow ~log2(N)), measured for BOTH variants in SCALE.md.
    * The fixture pins the demo point (width 3 — graft_srp's w ≤ 12
    * prefix is lane-identical to graft_srp12, so the oracle's 12-plane
    * replay is unchanged). NaN guard: a zero-norm vector's cosine is
    * 0/0 — NaN here (Spark's >= treats it as greater) but NULL in
    * DuckDB's division; degenerate vectors are never near-dups, so NaN
    * drops explicitly (fuzz find, seed 77). */
  def embeddingCosinePairs(emb: DataFrame, threshold: Double = 0.45,
      width: Int = 3, nBands: Int = 4): DataFrame = {
    val bands = srpBands(emb, width, nBands)
    val cand = BucketPairs(bands, Seq("band", "key"), "vec_id", BucketPairs.All,
      ("id_a", "id_b")).distinct()
    val ea = emb.selectExpr("vec_id AS id_a", "embedding AS q_emb")
    val eb = emb.selectExpr("vec_id AS id_b", "embedding")
    cand.join(ea, "id_a").join(eb, "id_b")
      .selectExpr("id_a", "id_b", "graft_cosine(q_emb, embedding) AS cosine")
      .filter(s"NOT isnan(cosine) AND cosine >= $threshold")
      .transform(graft.Sorted.byNames(_, "id_a", "id_b"))
  }

  /** Radius (ε-NN) similarity search — ALL corpus vectors within a cosine
    * radius of each query (queries = corpus vectors with `vec_id %
    * queryMod = 0`). SRP-LSH prefilter, ASYMMETRIC: only query-side bands
    * join the corpus bands, exact cosine ≥ `threshold` verified on
    * candidates only, full neighborhoods returned (no id ordering).
    *
    * THE SCALE KNOB IS `width` (hyperplanes per band): band-bucket
    * occupancy is N / 2^width — a CONSTANT key space saturates at corpus
    * scale no matter how the data is distributed, so width must grow
    * ~log2(N) to hold occupancy (and with it candidate volume) flat.
    * Width trades against recall at a given radius (P(band match) =
    * p^width with p = 1 − θ/π), so radius and width co-tune: the fixture
    * instantiates (threshold 0.45, width 3 — 12 bits, lane-compatible
    * with graft_srp12 and the oracle replay; 0.45 because the fixture has
    * no higher-cosine pairs, dedup_embedding_cosine's documented demo
    * threshold), while a production near-dup radius (~0.9, p ≈ 0.86)
    * holds ~75% recall per 4-band split at width 8. The width sizing is
    * MEASURED across corpus decades in SCALE.md ("Round-9: the
    * radius-search band-width knob, measured"), not argued in prose.
    * Key encoding is internal: any injective encoding
    * of the width-bit tuple yields the same candidate set, so the demo
    * oracle's arithmetic 3-bit keys and this method's concat keys agree. */
  def rangeSearch(emb: DataFrame, queryMod: Int = 25, threshold: Double = 0.45,
      width: Int = 3, nBands: Int = 4): DataFrame = {
    val bands = srpBands(emb, width, nBands)
    val cand = bands.filter(s"vec_id % $queryMod = 0")
      .selectExpr("vec_id AS q_id", "band", "key")
      .join(bands, Seq("band", "key"))
      .filter("q_id != vec_id")
      .select(col("q_id"), col("vec_id")).distinct()
    cand
      .join(emb.selectExpr("vec_id AS q_id", "embedding AS q_emb"), "q_id")
      .join(emb.selectExpr("vec_id", "embedding"), "vec_id")
      .selectExpr("q_id", "vec_id", "graft_cosine(q_emb, embedding) AS cosine")
      // NaN guard: same contract as dedup_embedding_cosine — a zero-norm
      // vector is never inside any radius
      .filter(s"NOT isnan(cosine) AND cosine >= $threshold")
      .transform(graft.Sorted.byNames(_, "q_id", "vec_id"))
  }

  /** Scored in-cell pairs shared by [[knnLabelProbe]] and
    * [[hardNegatives]]: the persisted cell frame ([[assignCells]], k ~ √N
    * default — ONE definition of the kk sizing), both pair sides off the
    * cache, exact cosine per pair with BOTH endpoint labels carried.
    * Pair volume ~N²/k — the measured knob (SCALE.md, "Round-9: the
    * semantic-dedup cell knob, measured"). */
  private def inCellPairs(emb: DataFrame, k: Int, corpusSize: Long): DataFrame = {
    val kk = sqrtCellK(emb, k, corpusSize)
    val ce = emb.join(assignCells(emb, kk).drop("sim"), "vec_id")
      .select(col("vec_id"), col("label"), col("cell"), col("embedding"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val a = ce.selectExpr("cell", "vec_id AS q_id", "label", "embedding AS q_emb")
    val b = ce.selectExpr("cell", "vec_id", "label AS nb_label", "embedding")
    a.join(b, "cell")
      .filter(col("q_id") =!= col("vec_id"))
      .selectExpr("q_id", "label", "vec_id", "nb_label",
        "graft_cosine(q_emb, embedding) AS cosine")
  }

  /** kNN label-probe: leave-one-out k-nearest-neighbor classification of
    * every vector by majority vote of its `kNN` nearest IN-CELL neighbors,
    * reported as per-label accuracy — the standard probe for "does the
    * embedding space separate the labels", run before trusting embeddings
    * for semantic dedup or clustering-based curation. Exact all-N kNN is
    * N² pairs, so neighbors come from the coarse cells the whole IVF
    * family shares ([[assignCells]]): pair volume ~N²/k, and the DEFAULT
    * `k = 0` sizes k = round(sqrt(N)) (total work ~N^1.5 — the same knob
    * as [[semanticDedup]], decade-measured in SCALE.md). Per-query top-kNN
    * rides the bounded [[graft.functions.TopK]] aggregator (map-side
    * partial reduction to ≤ kNN rows per vector — never a window over the
    * full pair volume); the vote argmax is window-free (max over a
    * (votes, -label) struct, ties to the smaller label). Zero-norm
    * vectors drop from both sides of the vote (NaN cosine — TopK and the
    * oracle's rankable guard agree). Accuracy is integer per-mille. */
  def knnLabelProbe(emb: DataFrame, k: Int = 0, kNN: Int = 5,
      corpusSize: Long = 0L): DataFrame = {
    val scored = inCellPairs(emb, k, corpusSize).drop("nb_label")
    val nn = topKPerQuery(scored, kNN, "label")
    val pred = nn
      .join(emb.selectExpr("vec_id", "label AS nb_label"), "vec_id")
      .groupBy(col("q_id"), col("label"), col("nb_label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("q_id"), col("label"))
      .agg(max(struct(col("votes"), (-col("nb_label")).cast("long").as("nl"))).as("m"))
      .selectExpr("q_id", "label", "CAST(-m.nl AS INT) AS pred")
    pred.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(expr("IF(pred = label, 1L, 0L)")).as("n_correct"))
      .selectExpr("label", "n", "n_correct", "n_correct * 1000L div n AS acc_pm")
      .orderBy("label")
  }

  /** Hard-negative mining: for every vector, its `topN` most-similar
    * IN-CELL neighbors carrying a DIFFERENT label — the contrastive-
    * training data step (DPR/Contriever-style retrievers train on
    * exactly this frame: in-batch negatives are easy, the hard ones live
    * in the query's own neighborhood). Same cell machinery and N²/k
    * bound as [[knnLabelProbe]] ([[inCellPairs]] — one definition);
    * the label-mismatch filter runs BEFORE the bounded TopK fold, so
    * nothing label-matching ever enters the aggregator. Ranks re-derive
    * from the ≤ topN exploded rows; the negative's label re-attaches by
    * a slim join. */
  def hardNegatives(emb: DataFrame, k: Int = 0, topN: Int = 3,
      corpusSize: Long = 0L): DataFrame = {
    val negs = inCellPairs(emb, k, corpusSize)
      .filter(col("nb_label") =!= col("label"))
      .drop("nb_label")
    topKPerQuery(negs, topN, "label")
      .join(emb.selectExpr("vec_id", "label AS neg_label"), "vec_id")
      .select(col("q_id"), col("label"), col("vec_id"), col("neg_label"),
        col("rank"), col("cosine"))
      .transform(graft.Sorted.byNames(_, "q_id", "rank"))
  }

  /** Per-label centroid-margin report: each vector's cosine to its OWN
    * label centroid minus its best cosine to any OTHER label centroid,
    * aggregated per label (mean margin in ppm, fraction positive in
    * per-mille) — the nearest-centroid-classifier separability check run
    * before trusting labels for stratified curation. Centroids use the
    * k-means update recipe (floor(x·2²⁰) int64 sums → double mean →
    * FLOAT, bit-identical cross-engine); the |labels|-row centroid frame
    * BROADCASTS and margins compute map-side — no pair volume at all,
    * the contrast to the cell-based probes. Margin quantizes to ppm
    * int64 before the mean so the aggregate is order-independent.
    * Zero-norm vectors score the -2 sentinel against every centroid
    * (margin 0, counted non-positive) — the assignCells contract. */
  def labelCentroidMargin(embIn: DataFrame): DataFrame = {
    // 64-dim contract, pinned EXPLICITLY: the DuckDB oracle replays the
    // centroid sum over a fixed range(1, 65) (dims past the actual length
    // contribute NULL to the sum but still count in n), so slice+zero-pad
    // every embedding to exactly 64 dims before ANY arithmetic — a padded
    // zero adds nothing to sums or cosines while keeping n identical to
    // the oracle's, so ragged inputs agree between engines instead of
    // silently drifting (posexplode over the raw length would omit the
    // missing dims from n). The CASE guards the ANSI out-of-bounds index.
    val emb = embIn.withColumn("embedding", expr(
      """transform(sequence(0, 63), i ->
        |  CASE WHEN i < size(embedding) THEN embedding[i]
        |       ELSE CAST(0.0 AS FLOAT) END)""".stripMargin))
    val cents = emb
      .select(col("label"), posexplode(col("embedding")))
      .selectExpr("label", "pos AS dim",
        "CAST(floor(CAST(col AS DOUBLE) * 1048576) AS BIGINT) AS q")
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      .selectExpr("label", "dim", "CAST(sq AS DOUBLE) / n / 1048576 AS comp")
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, comp)))," +
        " s -> CAST(s.comp AS FLOAT))").as("c_emb"))
      .selectExpr("label AS c_label", "c_emb")
    val margins = emb.crossJoin(broadcast(cents))
      .selectExpr("vec_id", "label", "c_label",
        "nanvl(graft_cosine(c_emb, embedding), -2.0D) AS sim")
      .groupBy(col("vec_id"), col("label"))
      .agg(max(expr("IF(c_label = label, sim, CAST(NULL AS DOUBLE))")).as("own"),
        max(expr("IF(c_label != label, sim, CAST(NULL AS DOUBLE))")).as("other"))
      .selectExpr("label",
        "CAST(floor((own - other) * 1000000) AS BIGINT) AS margin_ppm")
    margins.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("margin_ppm")).as("sum_ppm"),
        sum(expr("IF(margin_ppm > 0, 1L, 0L)")).as("n_pos"))
      .selectExpr("label", "n", "sum_ppm div n AS mean_margin_ppm",
        "n_pos * 1000L div n AS pos_pm")
      .orderBy("label")
  }

  /** Balance report of any `(vec_id, cell)` index assignment — see the
    * `ann_index_stats` registry comment. `k` is the INTENDED cell count
    * (empty cells = k − cells actually used). One row out. */
  def ivfIndexStats(assign: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(assign.columns.contains("cell"),
      s"assignment frame needs a cell column, has ${assign.columns.mkString(",")}")
    assign
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs")) // the only fold
      .agg(sum(col("n_vecs")).as("n_vectors"),
        count(lit(1)).as("cells_used"),
        min(col("n_vecs")).as("min_cell"),
        max(col("n_vecs")).as("max_cell"))
      .selectExpr(s"${k}L AS k", "n_vectors", "cells_used",
        s"${k}L - cells_used AS empty_cells", "min_cell", "max_cell",
        s"""CASE WHEN n_vectors IS NULL OR n_vectors = 0 THEN 0L
           |  ELSE (CAST(max_cell AS DECIMAL(38,0)) * ${k}L * 1000) div n_vectors
           |END AS imbalance_milli""".stripMargin)
  }

  /** k-means (`iters` Lloyd iterations over the first-k seeds) — the IVF
    * TRAINING step ann_ivf_probe's content-derived cells assume. Scale
    * shape per round: assignment is a k×N broadcast score + window-free
    * argmax (one partial+final agg); the update is a posexplode to
    * (cell, dim) rows — one corpus-linear shuffle bounded by k×dim
    * groups — and centroids re-enter as a broadcast. localCheckpoint
    * bounds plan depth like every iterative op here. Cross-engine
    * parity: float sums are order-dependent, so the update accumulates
    * floor(x * 2^20) scaled int64 (exact, commutative); the mean returns
    * to double (sum/n/2^20 — identical IEEE op sequence both sides) and
    * is cast to FLOAT, so round-2 cosines see bit-identical centroids.
    * Empty cells would drop (fixture cells are all populated);
    * production keeps the stale centroid via a left join — documented,
    * not needed at any tested SF. */
  def kmeansAssign(emb0: DataFrame, k: Int = 4, iters: Int = 2): DataFrame = {
    val emb = emb0.select(col("vec_id"), col("embedding"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var cents = seedCents(emb, k)
    for (_ <- 1 to iters) {
      val asg = scoreCells(emb, cents).select(col("vec_id"), col("cell"))
      cents = emb.join(asg, "vec_id")
        .select(col("cell"), posexplode(col("embedding")))
        .selectExpr("cell", "pos AS dim",
          "CAST(floor(CAST(col AS DOUBLE) * 1048576) AS BIGINT) AS q")
        .groupBy(col("cell"), col("dim"))
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
        .selectExpr("cell", "dim", "CAST(sq AS DOUBLE) / n / 1048576 AS comp")
        .groupBy(col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, comp)))," +
          " s -> CAST(s.comp AS FLOAT))").as("c_emb"))
        .selectExpr("cell AS c_id", "c_emb")
        .localCheckpoint(true)
    }
    // final assignment under the last-round centroids; emb cache stays
    // for this lazy frame (the harness clears cache per query)
    scoreCells(emb, cents)
      .transform(graft.Sorted.byNames(_, "vec_id"))
  }

  /** The shared PCA substrate: (centered 64-dim frame, 1-row mean list,
    * 1-row top component) — one definition behind embedding_pca and the
    * anisotropy report so the power-iteration arithmetic can never fork. */
  private[graft] def pcaParts(embIn: DataFrame,
      iters: Int): (DataFrame, DataFrame, DataFrame) = {
    require(iters >= 1 && iters <= 32, s"iters must be in [1, 32], got $iters")
    // the labelCentroidMargin 64-dim contract: slice+zero-pad up front
    val emb = embIn.withColumn("e64", expr(
      """transform(sequence(0, 63), i ->
        |  CASE WHEN i < size(embedding) THEN embedding[i]
        |       ELSE CAST(0.0 AS FLOAT) END)""".stripMargin))
    val mrow = emb
      .select(posexplode(col("e64")))
      .selectExpr("pos AS dim",
        "CAST(floor(CAST(col AS DOUBLE) * 1048576) AS BIGINT) AS q")
      .groupBy(col("dim"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      .selectExpr("dim", "CAST(sq AS DOUBLE) / n / 1048576 AS comp")
      .groupBy()
      .agg(expr("transform(array_sort(collect_list(struct(dim, comp)))," +
        " s -> s.comp)").as("md"))
    val centered = emb.crossJoin(broadcast(mrow))
      .selectExpr("vec_id", "label",
        "transform(sequence(0, 63), ci -> " +
          "CAST(element_at(e64, ci + 1) AS DOUBLE) - element_at(md, ci + 1)) AS cent")
      .persist(StorageLevel.MEMORY_AND_DISK)
    var srow = centered
      .select(explode(expr("sequence(0, 4095)")).as("ij"), col("cent"))
      .selectExpr("ij",
        "CAST(floor(element_at(cent, CAST(ij div 64 AS INT) + 1) * " +
          "element_at(cent, CAST(ij % 64 AS INT) + 1) * 1048576D) AS BIGINT) AS q")
      .groupBy(col("ij"))
      .agg(sum(col("q")).as("s"))
      .groupBy()
      .agg(expr("transform(array_sort(collect_list(struct(ij, s)))," +
        " x -> CAST(x.s AS DOUBLE))").as("sm"))
      .crossJoin(broadcast(mrow))
      .withColumn("v", expr("transform(sequence(0, 63), i -> IF(i = 0, 1.0D, 0.0D))"))
    for (_ <- 1 to iters) {
      srow = srow
        .withColumn("wd", expr(
          "transform(sequence(0, 63), wi -> CAST(aggregate(sequence(0, 63), 0L, " +
            "(acc, wj) -> acc + CAST(floor(element_at(sm, wi * 64 + wj + 1) * " +
            "element_at(v, wj + 1) * 1048576D) AS BIGINT)) AS DOUBLE) / 1048576D)"))
        .withColumn("nrm",
          expr("sqrt(aggregate(wd, 0.0D, (na, nx) -> na + nx * nx))"))
        .withColumn("v",
          expr("IF(nrm = 0.0D, v, transform(wd, vx -> vx / nrm))"))
        .drop("wd", "nrm")
    }
    (centered, mrow, srow.select(col("v")))
  }

  /** The shared per-vector PC1 projection expression (scaled-int64 fold,
    * same order both engines). */
  private val pc1Expr: String =
    "CAST(aggregate(sequence(0, 63), 0L, (acc, pi) -> " +
      "acc + CAST(floor(element_at(cent, pi + 1) * element_at(v, pi + 1) * " +
      "1048576D) AS BIGINT)) AS DOUBLE) / 1048576D"

  /** Top principal component by deterministic power iteration — see the
    * `embedding_pca` registry comment. Scale shape: TWO corpus passes
    * (the mean fold, then the covariance fold) plus one projection
    * pass; the covariance explode emits dim² = 4096 quantized products
    * per vector, but they flow into a combiner-perfect 4096-group
    * aggregate — map-side partials absorb the volume, nothing
    * corpus-sized crosses an exchange (plan-pinned: the only wide
    * exchanges carry ≤ 4096 rows). The iteration itself runs on the
    * ONE-ROW (covariance, means) frame — 8 chained projections, each a
    * 64×64 HOF — and the resulting direction re-enters the projection
    * pass as a broadcast. dim is the knob: the update is dim² groups
    * (d = 1024 → 1M groups, still model-sized); components beyond the
    * first come from deflation (S ← S − λvvᵀ on the same one-row
    * frame), same arithmetic, documented not duplicated. */
  def embeddingPca(embIn: DataFrame, iters: Int = 8): DataFrame = {
    val (centered, _, vrow) = pcaParts(embIn, iters)
    centered.crossJoin(broadcast(vrow))
      .selectExpr("vec_id", "label", s"$pc1Expr AS pc1")
      .transform(graft.Sorted.byNames(_, "vec_id"))
  }

  /** All-but-the-top anisotropy report (Mu & Viswanath 2018): embedding
    * sets concentrate mass in a common mean and a few dominant
    * directions; this quantifies both — mean_share_ppm = the raw second
    * moment captured by the mean, pc1_var_ppm = the centered variance
    * along the top component. High values justify the mean-subtract +
    * top-PC-removal preprocessing; isotropic embeddings read pc1 near
    * 1e6/64. All energies fold as floor-quantized int64 (the pca
    * discipline) so both engines sum identical integers; the shares are
    * single ppm-bounded trunc divisions staged in DECIMAL(38,0). One
    * row out; everything after the pca substrate is one per-vector
    * projection pass + 1-row folds. */
  def embeddingAnisotropy(embIn: DataFrame, iters: Int = 8): DataFrame = {
    val (centered, mrow, vrow) = pcaParts(embIn, iters)
    val per = centered.crossJoin(broadcast(vrow))
      .selectExpr(s"$pc1Expr AS pc1",
        "CAST(aggregate(cent, 0L, (a, x) -> " +
          "a + CAST(floor(x * x * 1048576D) AS BIGINT)) AS BIGINT) AS qe")
      .selectExpr("qe", "CAST(floor(pc1 * pc1 * 1048576D) AS BIGINT) AS qp")
    val tot = per.agg(count(lit(1)).as("n"),
      coalesce(sum(col("qe")), lit(0L)).as("te"),
      coalesce(sum(col("qp")), lit(0L)).as("pe"))
    val mq = mrow.selectExpr(
      "CAST(aggregate(md, 0L, (a, x) -> " +
        "a + CAST(floor(x * x * 1048576D) AS BIGINT)) AS BIGINT) AS me")
    tot.crossJoin(broadcast(mq))
      .selectExpr("n",
        """CASE WHEN te = 0 THEN 0L
          |  ELSE (CAST(pe AS DECIMAL(38,0)) * 1000000) div te
          |END AS pc1_var_ppm""".stripMargin,
        """CASE WHEN te + CAST(me AS DECIMAL(38,0)) * n = 0 THEN 0L
          |  ELSE (CAST(me AS DECIMAL(38,0)) * n * 1000000)
          |       div (te + CAST(me AS DECIMAL(38,0)) * n)
          |END AS mean_share_ppm""".stripMargin)
  }

  /** DuckDB twin of [[pc1Expr]] against centered alias `c` and component
    * alias `f`. */
  private def duckPc1: String =
    "list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 64), pi -> " +
      "CAST(floor(c.cent[pi + 1] * f.v[pi + 1] * 1048576) AS BIGINT))), " +
      "(acc, x) -> acc + x)::DOUBLE / 1048576"

  /** DuckDB CTE chain of the pca substrate at `iters` power iterations
    * (the WITH body, no final SELECT) — the same scaled-int64
    * arithmetic, generated (not hand-unrolled) so the per-iteration
    * text cannot drift between steps; shared by the pca and anisotropy
    * oracles. */
  private def duckPcaSql(iters: Int): String = {
    // matvec + norm + guarded normalize, expanded textually per CTE;
    // duplicate evaluation is fine on the one-row frame
    val d = "list_transform(range(0, 64), wi -> " +
      "list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 64), " +
      "wj -> CAST(floor(sm[wi * 64 + wj + 1] * v[wj + 1] * 1048576) AS BIGINT))), " +
      "(acc, x) -> acc + x)::DOUBLE / 1048576)"
    val nrm = s"sqrt(list_reduce(list_prepend(0.0::DOUBLE, " +
      s"list_transform($d, nx -> nx * nx)), (na, nx) -> na + nx))"
    val its = (1 to iters).map { k =>
      val prev = if (k == 1) "s0" else s"it${k - 1}"
      s"""it$k AS (SELECT sm, md,
         |  CASE WHEN $nrm = 0.0 THEN v
         |       ELSE list_transform($d, vx -> vx / $nrm) END AS v
         |FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, label,
       |    list_transform(range(1, 65), i ->
       |      CASE WHEN i <= len(embedding) THEN embedding[i]::DOUBLE
       |           ELSE 0.0::DOUBLE END) AS e64
       |  FROM embeddings),
       |mq AS (SELECT dim,
       |    CAST(SUM(CAST(floor(e64[dim] * 1048576) AS BIGINT)) AS BIGINT) AS sq,
       |    COUNT(*) AS n
       |  FROM (SELECT e64, UNNEST(range(1, 65)) AS dim FROM e) GROUP BY dim),
       |m AS (SELECT list(sq::DOUBLE / n / 1048576 ORDER BY dim) AS md FROM mq),
       |c AS (SELECT e.vec_id, e.label,
       |    list_transform(range(1, 65), ci -> e.e64[ci] - m.md[ci]) AS cent
       |  FROM e CROSS JOIN m),
       |sq AS (SELECT ij,
       |    CAST(SUM(CAST(floor(cent[ij // 64 + 1] * cent[ij % 64 + 1] * 1048576)
       |      AS BIGINT)) AS BIGINT) AS s
       |  FROM (SELECT cent, UNNEST(range(0, 4096)) AS ij FROM c) GROUP BY ij),
       |s0 AS (SELECT (SELECT list(s::DOUBLE ORDER BY ij) FROM sq) AS sm,
       |    md,
       |    list_transform(range(0, 64), i ->
       |      CASE WHEN i = 0 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) AS v
       |  FROM m),
       |$its""".stripMargin
  }

  /** DuckDB replay of [[embeddingPca]] — the generated CTE chain plus
    * the per-vector projection. */
  private def duckPcaSelect(iters: Int): String =
    s"""WITH ${duckPcaSql(iters)}
       |SELECT c.vec_id, c.label, $duckPc1 AS pc1
       |FROM c CROSS JOIN it$iters f ORDER BY c.vec_id""".stripMargin

  /** DuckDB replay of [[embeddingAnisotropy]] — the pca CTE chain plus
    * the quantized energy folds and the two ppm shares. */
  private def duckAnisotropySql(iters: Int): String = {
    s"""WITH ${duckPcaSql(iters)},
       |pj AS (SELECT $duckPc1 AS pc1, c.cent
       |  FROM c CROSS JOIN it$iters f),
       |per AS (SELECT
       |    list_reduce(list_prepend(0::BIGINT, list_transform(pj.cent,
       |      x -> CAST(floor(x * x * 1048576) AS BIGINT))),
       |      (a, b) -> a + b) AS qe,
       |    CAST(floor(pc1 * pc1 * 1048576) AS BIGINT) AS qp FROM pj),
       |t AS (SELECT COUNT(*)::BIGINT AS n,
       |    COALESCE(SUM(qe), 0)::BIGINT AS te,
       |    COALESCE(SUM(qp), 0)::BIGINT AS pe FROM per),
       |men AS (SELECT list_reduce(list_prepend(0::BIGINT, list_transform(md,
       |      x -> CAST(floor(x * x * 1048576) AS BIGINT))),
       |      (a, b) -> a + b) AS me FROM m)
       |SELECT n,
       |  CASE WHEN te = 0 THEN 0
       |       ELSE CAST(pe::HUGEINT * 1000000 // te AS BIGINT)
       |  END AS pc1_var_ppm,
       |  CASE WHEN te + me::HUGEINT * n = 0 THEN 0
       |       ELSE CAST(me::HUGEINT * n * 1000000
       |            // (te + me::HUGEINT * n) AS BIGINT)
       |  END AS mean_share_ppm
       |FROM t CROSS JOIN men""".stripMargin
  }

  /** Prototypicality pruning (Sorscher et al. 2022): keep the hardest
    * `keepPm` per mille of each k-means cell, hardness = ascending
    * cosine to the own-cell centroid (the cell's prototype), ties to
    * the smaller vec_id. `keep_n = ceil(n_cell * keepPm / 1000)` in
    * exact integer arithmetic, so a non-empty cell always keeps at
    * least one example when keepPm > 0. Scale shape: the clustering is
    * [[kmeansAssign]] (assignment broadcast-scored, update a k×dim
    * group — documented there); the prune adds exactly ONE extra
    * exchange — a window partitioned BY CELL carrying both the
    * hardness rank and the cell count (same partitioning, one shuffle,
    * never a SinglePartition sort). Nothing here is pair-volume: the
    * quota is a rank against a windowed count, not a comparison
    * against other examples — so unlike the in-cell pair family, k is
    * NOT a safety knob. Measured (SCALE.md round-10 continuation):
    * fixed k stays near-flat across two decades (1.89 → 3.88 s) while
    * k ~ √N drives the N·k assignment cosines to N^1.5 (267 s at
    * 100×). Size k for clustering granularity and so N/k rows fit one
    * window task (the shard_shuffle argument); beyond that the
    * documented paths are two-level coarse-to-fine assignment and the
    * ccnet_buckets distribution-cutoff replacement for the per-cell
    * sort. */
  def prototypePrune(emb: DataFrame, k: Int = 4, iters: Int = 2,
      keepPm: Int = 700): DataFrame = {
    require(keepPm >= 0 && keepPm <= 1000,
      s"keepPm must be in [0, 1000], got $keepPm")
    val byCell = org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))
    kmeansAssign(emb, k, iters)
      .withColumn("rn",
        row_number().over(byCell.orderBy(col("sim").asc, col("vec_id").asc)))
      .withColumn("nc", count(lit(1)).over(byCell))
      .selectExpr("vec_id", "cell", "sim",
        s"CAST(rn <= (nc * ${keepPm}L + 999L) div 1000L AS INT) AS keep")
      .transform(graft.Sorted.byNames(_, "vec_id"))
  }
}
