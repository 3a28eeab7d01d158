package graft

import org.apache.spark.sql.DataFrame

/** The ONE timed materialization action and median, shared by [[Bench]]
  * and the gmallbench harness so their timings stay comparable by
  * construction.
  *
  * Action rationale (load-bearing, see git history): the hash-agg
  * materializes EVERY output column (count() would let Catalyst prune the
  * projections and under-time map-only queries) while letting the
  * optimizer drop the presentation sort; head() not count() (a count on
  * top is itself an aggregate and prunes the hash back out); bit_xor not
  * sum (summing full-range int64 hashes overflows under ANSI mode). The
  * noop-write fallback covers output types hash() can't take.
  */
private[graft] object BenchAction {
  def run(df: DataFrame): Unit =
    try df.selectExpr("bit_xor(xxhash64(struct(*))) AS h").head()
    catch { case _: Throwable =>
      df.write.format("noop").mode("overwrite").save()
    }

  /** True median: average the middle pair on even counts (with reps=2, or
    * one failed rep out of 4, taking the upper-middle would systematically
    * bias recorded baselines upward). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}
