package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Writes each registry query's formatted plan to `<outDir>/<query>.txt`
  * (a query that fails to build writes its error instead), so two
  * commits' plans can be compared with `tools/plan_diff.py`:
  *
  * {{{
  * sbt "Test/runMain graft.PlanDump /path/to/sf0.001 /tmp/plans"
  * }}}
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = args match {
      case Array(a, b) => (a, b)
      case _ =>
        System.err.println("usage: graft.PlanDump <sfDir> <outDir>")
        sys.exit(2)
    }
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan =
        try fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        catch { case e: Throwable => s"FAILED: ${e.getMessage}\n" }
      Files.writeString(Paths.get(outDir, s"$name.txt"), plan)
      // as in Verify: one query's persisted frames never reach the next
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
