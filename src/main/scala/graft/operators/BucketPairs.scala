package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The in-bucket candidate-pair emitter behind every near-dup operator:
  * pairs (a < b by id) among rows that share every key column, under one
  * [[BucketPairs.Volume]] policy. The depth census, the hub tier, the
  * resident rank and both caps exist once here, so a cap retune moves
  * every operator (and its DuckDB twin, which interpolates the same
  * constants) at once. Callers keep their own `.distinct()` and
  * `persist`.
  */
private[graft] object BucketPairs {

  /** Full in-bucket pairing ceiling of the depth-tiered families (ngram
    * Jaccard, winnowing, edit blocking, substring, containment): a
    * bucket of at most 50 members emits at most 1,225 pairs. */
  val DepthCap = 50

  /** Default resident cap of the capped emitter, and of the streaming
    * near-dup state (`maxPerBucket`): 64 residents cost at most
    * 64·63/2 ≈ 2k resident pairs per bucket and bound the volume at
    * 64·n beyond. */
  val DefaultBucketCap = 64

  /** How many pairs a bucket of depth n emits. */
  sealed trait Volume { def label: String }

  /** Every pair: n(n−1)/2. */
  case object All extends Volume { val label = "all" }

  /** Each member with the bucket minimum: n − 1. */
  case object Star extends Volume { val label = "star" }

  /** The first `cap` members by id with every member: n(n−1)/2 up to
    * the cap, cap·n − cap(cap+1)/2 beyond. cap = 1 pairs like [[Star]]. */
  final case class Capped(cap: Int) extends Volume { val label = "capped" }

  /** All pairs for 2 ≤ n ≤ `dfCap`; beyond it `deep` decides: `None`
    * drops the bucket, [[Star]] pairs each member with the census hub
    * (the bucket minimum), any other policy pairs the deep members. */
  final case class Tiered(dfCap: Int, deep: Option[Volume]) extends Volume {
    val label = "tiered"
  }

  /** Candidate pairs `(out._1, out._2)` of `rows` under `volume`. */
  private[operators] def apply(rows: DataFrame, keys: Seq[String], id: String,
      volume: Volume, out: (String, String) = ("doc_a", "doc_b")): DataFrame = {
    val keyCols = keys.map(col)
    def pairsOf(a: DataFrame, b: DataFrame): DataFrame =
      a.alias("a").join(b.alias("b"),
          expr((keys.map(c => s"a.$c = b.$c") :+ s"a.$id < b.$id").mkString(" AND ")))
        .selectExpr(s"a.$id AS ${out._1}", s"b.$id AS ${out._2}")
    volume match {
      case All => pairsOf(rows, rows)
      case Star =>
        val canon = rows.groupBy(keyCols: _*).agg(min(col(id)).as(out._1))
        rows.join(canon, keys)
          .filter(col(id) > col(out._1))
          .select(col(out._1), col(id).as(out._2))
      case Capped(cap) =>
        // the rank is a per-bucket window sort on the join's own shuffle
        val residents = rows
          .withColumn("rk", row_number().over(
            Window.partitionBy(keyCols: _*).orderBy(col(id))))
          .filter(col("rk") <= cap)
          .select((keys :+ id).map(col): _*)
        pairsOf(residents, rows)
      case Tiered(dfCap, deep) =>
        val depth = census(rows, keys, id)
        val self = apply(within(rows, depth, keys, s"df BETWEEN 2 AND $dfCap"), keys, id, All, out)
        deep.fold(self) {
          case Star =>
            // the census already carries the bucket minimum: no window
            self.unionByName(rows
              .join(depth.filter(s"df > $dfCap").select(keyCols :+ col("hub"): _*), keys)
              .filter(col(id) =!= col("hub"))
              .selectExpr(s"hub AS ${out._1}", s"$id AS ${out._2}"))
          case v =>
            self.unionByName(apply(within(rows, depth, keys, s"df > $dfCap"), keys, id, v, out))
        }
    }
  }

  /** The rows of buckets holding 2 to [[DepthCap]] members: the pairing
    * input of `Tiered(DepthCap, None)`, for a caller that persists it. */
  private[operators] def shallow(rows: DataFrame, keys: Seq[String], id: String): DataFrame =
    within(rows, census(rows, keys, id), keys, s"df BETWEEN 2 AND $DepthCap")

  /** Depth census: members (`df`) and minimum id (`hub`) per bucket. */
  private def census(rows: DataFrame, keys: Seq[String], id: String): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("df"), min(col(id)).as("hub"))

  private def within(rows: DataFrame, depth: DataFrame, keys: Seq[String],
      cond: String): DataFrame =
    rows.join(depth.filter(cond).select(keys.map(col): _*), keys)
}
