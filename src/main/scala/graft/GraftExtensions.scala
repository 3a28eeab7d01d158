package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Library-grade session integration: injects every graft_* native function
  * at session-build time via the standard extensions mechanism —
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * or `SparkSession.builder().withExtensions(new GraftExtensions)`. This is
  * the packaging a user of the library deploys cluster-wide, and the only
  * way a session gets the functions: [[GraftSession.configure]] applies
  * it, and sessions derived from one (`newSession`, the clone a streaming
  * query runs `foreachBatch` on) inherit them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    graft.functions.HashExpressions.builders.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.HashExpressions", name),
        builder))
    }
    // No planner strategies are injected BY DESIGN: the one candidate we
    // prototyped — a heap-based two-stage rewrite of the rank-filter
    // pattern Filter(row_number() <= k, Window(...)) — turned out to
    // duplicate Spark 3.5+'s native InferWindowGroupLimit, which already
    // plans that exact pattern as Partial/Final WindowGroupLimitExec
    // around the shuffle (PlanAuditSpec pins it firing on
    // q7_window_rank). Catalyst-first: the native, spill-safe pushdown
    // wins over a custom operator that re-implements it.
  }
}
