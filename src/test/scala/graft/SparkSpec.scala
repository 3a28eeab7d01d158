package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  // the suites run the SAME session definition production deploys
  // (GraftSession.configure): the graft_* native functions from the
  // extensions (no planner strategies are injected, by the decision
  // recorded in GraftExtensions' scaladoc), so plan audits pin the plans
  // users actually get; the RocksDB state store, so every stateful-
  // streaming test runs under the provider that survives billion-key
  // state; and the codegen cache size, a static conf that the first
  // session to generate code fixes for the whole forked test JVM
  lazy val spark: SparkSession =
    GraftSession.configure(SparkSession.builder().master("local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
