package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Jobs and stages a block started. */
final case class JobCount(jobs: Int, stages: Int)

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

  /** Jobs and stages started while `body` runs, counted after the listener
    * bus drains on both sides (the bus is private[spark] to scalac but
    * public in bytecode), so no earlier event is counted and no late one
    * missed. */
  def jobsDuring[T](body: => T): (JobCount, T) = {
    val sc = spark.sparkContext
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
        .invoke(bus, java.lang.Long.valueOf(60000L))
    }
    val jobs, stages = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    }
    drain()
    sc.addSparkListener(l)
    try {
      val r = body
      drain()
      (JobCount(jobs.get, stages.get), r)
    } finally sc.removeSparkListener(l)
  }
}
