package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator: a Spark implementation plus (when SQL-expressible)
  * an equivalent DuckDB oracle query over the same parquet tables.
  *
  * Oracle-parity design rules (so value hashes match bit-for-bit):
  *  - money/measure sums: quantize per-row to DECIMAL (exact, order-independent
  *    sum), cast the final aggregate to DOUBLE;
  *  - averages: exact decimal sum cast to double, divided by count in double;
  *  - no transcendentals (ln/exp/pow) in outputs — libm results differ across
  *    engines; sqrt is IEEE-exact and allowed;
  *  - timestamps exported as epoch micros (bigint) or formatted strings, never
  *    raw nanosecond-origin timestamps;
  *  - every result deterministically ordered with a unique tie-break key.
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(fn: (SparkSession, String) => DataFrame, oracle: String): QueryDef =
    QueryDef(fn, Some(oracle))
}

/** Persist-then-sort for final presentation ordering.
  *
  * A global `orderBy` shuffles by range partitioning, whose bound-sampling
  * pass EXECUTES the child plan once and the shuffle map tasks execute it
  * again. When the child's final stage is expensive and has no shuffle
  * boundary of its own (map-heavy projections, chains of broadcast joins),
  * that doubles the query. Results here are small (≤ tens of thousands of
  * rows), so persisting the result first turns the sampling pass into the
  * single real execution and the sort into a cache read. Queries whose sort
  * child already ends in a shuffle (plain aggregations) don't need this —
  * sampling only re-runs the cheap post-shuffle step there. */
object Sorted {
  import org.apache.spark.storage.StorageLevel
  def byNames(df: DataFrame, first: String, rest: String*): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK).orderBy(first, rest: _*)
}
