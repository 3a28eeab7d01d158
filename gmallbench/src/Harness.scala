package graft.gmallbench

import graft.{BenchAction, GraftSession, SparkEntry, Tables}
import graft.sources.HttpIngest
import graft.streaming.{BounceDetect, LogPipeline, LogSchema, UniqueVisits}
import graft.streaming.LogSchema.LogEvent
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import java.io.{BufferedReader, File, InputStreamReader}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** JSON rendering for the result file (numbers keep every digit). */
private[gmallbench] object Out {
  def str(s: String): String = graft.Json.str(s)
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Process-level counters read from the OS, not from Spark. */
private[gmallbench] object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  /** Busy and steal CPU seconds of the whole host (all processes) from
    * /proc/stat; busy includes steal. USER_HZ is 100 on Linux. */
  def busyStealS: (Double, Double) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    ((f(0) + f(1) + f(2) + f(5) + f(6) + f(7)) / 100.0, f(7) / 100.0)
  }
  def loadavg: String = Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString(",")
  def rssPeakMb: Double = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  def heapLiveMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Measures one timed window: wall, own CPU, other processes' CPU, load. */
private[gmallbench] final class Window {
  val wall0: Long = System.currentTimeMillis()
  private val cpu0 = Host.cpuNs
  private val (busy0, steal0) = Host.busyStealS
  private val load0 = Host.loadavg
  def close(res: mutable.Map[String, Any]): Unit = {
    val cpu = (Host.cpuNs - cpu0) / 1e9
    res("window_start_ms") = wall0
    res("window_end_ms") = System.currentTimeMillis()
    res("cpu_s") = cpu
    res("window_cpu_s") = cpu
    val (busy1, steal1) = Host.busyStealS
    res("host_busy_s") = busy1 - busy0
    res("host_steal_s") = steal1 - steal0
    res("loadavg_start") = load0
    res("loadavg_end") = Host.loadavg
  }
}

/** JVM side of gmallbench: runs one workload in this JVM and writes
  * `result.json` (plus, when traced, `trace.json` and `spans.jsonl`) to
  * the work directory. Usage: Harness <workload> <workDir> <cpus> <trace 0|1>.
  * Chains talk to the Python runner over stdout/stdin: `@@PACED <target>`
  * announces the paced phase, a `DONE` line on stdin ends it. */
object Harness {
  def main(args: Array[String]): Unit = {
    val Array(workload, work, cpusS, traceS) = args
    val cpus = cpusS.toInt
    val res = mutable.LinkedHashMap.empty[String, Any]
    val t0 = System.currentTimeMillis()
    val spark = GraftSession.build(Some(s"local[$cpus]"), cpus, "gmallbench")
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.currentTimeMillis()
    res("session_build_s") = (t1 - t0) / 1e3
    val tr = if (traceS == "1") Some(new Tracer(spark.sparkContext)) else None
    tr.foreach { t => t.attach(spark); t.record("GraftSession.build", 0L, t0, t1) }
    val traceOut = mutable.LinkedHashMap.empty[String, Any]
    val stageOf = mutable.Map.empty[String, String]
    workload match {
      case "registry_slice" => Registry.run(spark, work, res, tr, traceOut)
      case "log_chain" => LogChain.run(spark, work, res, tr, traceOut, stageOf)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    res("rss_peak_mb") = Host.rssPeakMb
    tr.foreach { t =>
      t.drain()
      t.writeSpans(s"$work/spans.jsonl", stageOf.toMap)
      Files.writeString(Paths.get(s"$work/trace.json"), Out.render(traceOut))
    }
    Files.writeString(Paths.get(s"$work/result.json"), Out.render(res))
    spark.stop()
    println("@@END")
  }

  /** Exec-layer figures over [t0, t1] from two tracer snapshots. */
  def execFigures(t: Tracer, a: Map[String, Long], b: Map[String, Long], t0: Long, t1: Long,
      out: mutable.Map[String, Any]): Unit = {
    t.drain()
    def d(k: String) = b(k) - a(k)
    out("exec.jobs") = d("jobs")
    out("exec.stages") = d("stages")
    out("exec.tasks") = d("tasks")
    out("exec.sched_wait_s") = t.idleMs(t0, t1) / 1e3
    out("exec.task_cpu_s") = d("task_cpu_ns") / 1e9
    out("exec.task_run_s") = d("task_run_ms") / 1e3
    out("exec.shuffle_mb") = d("shuffle_bytes") / 1048576.0
    out("exec.spill_mb") = d("spill_bytes") / 1048576.0
    out("exec.gc_s") = d("gc_ms") / 1e3
    out("exec.peak_exec_mem_mb") = b("peak_exec_mem") / 1048576.0
  }

  /** Move files into a spool directory in name order (atomic renames). */
  def publish(files: Seq[File], spool: String): Unit =
    files.sortBy(_.getName).foreach(f => Files.move(f.toPath,
      Paths.get(spool, f.getName), StandardCopyOption.ATOMIC_MOVE))

  def listed(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).map(_.toSeq).getOrElse(Nil).filter(_.isFile)

  def readParams(work: String): Map[String, String] =
    Files.readAllLines(Paths.get(s"$work/params.txt")).asScala
      .filter(_.contains("=")).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap

  /** Per-batch progress of a query, as the runner needs it to date sink
    * files: batch id, trigger start and end (epoch ms) and input rows. */
  def progressRows(ps: Seq[StreamingQueryProgress]): Seq[Map[String, Any]] = ps.map { p =>
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    Map("batch" -> p.batchId, "start_ms" -> start, "end_ms" -> (start + d.getOrElse("triggerExecution", 0L)),
      "rows" -> p.numInputRows)
  }

  /** Streaming-layer figures for one stage from its progress events. */
  def streamFigures(stage: String, ps: Seq[StreamingQueryProgress],
      out: mutable.Map[String, Any]): Unit = {
    val data = ps.filter(_.numInputRows > 0)
    def dur(p: StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val trig = data.map(dur(_, "triggerExecution")).sum
    val add = data.map(dur(_, "addBatch")).sum
    val rows = data.map(_.numInputRows).sum
    val so = ps.flatMap(_.stateOperators.toSeq)
    val last = ps.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    val p = s"streaming.$stage."
    out(p + "batches") = data.size.toLong
    out(p + "overhead_ms") = (trig - add).toDouble / math.max(1, data.size)
    out(p + "add_batch_ms") = add.toDouble / math.max(1, data.size)
    out(p + "rows_per_s") = if (trig > 0) rows * 1000.0 / trig else 0.0
    out(p + "state_commit_ms") = so.map(_.commitTimeMs).sum.toDouble / math.max(1, data.size)
    out(p + "late_dropped_rows") = so.map(_.numRowsDroppedByWatermark).sum
    out(p + "state_rows") = last.map(_.numRowsTotal).sum
    out(p + "state_bytes") = last.map(s => s.memoryUsedBytes +
      Option(s.customMetrics.get("rocksdbSstFileSize")).map(_.longValue).getOrElse(0L)).sum
    // watermark lag: the newest event time a batch saw minus the watermark
    // it ran with (event time is synthetic, so wall clock is no reference)
    val lags = data.flatMap { q =>
      for (w <- Option(q.eventTime.get("watermark")).filter(_ != "1970-01-01T00:00:00.000Z");
           m <- Option(q.eventTime.get("max")))
        yield java.time.Instant.parse(m).toEpochMilli - java.time.Instant.parse(w).toEpochMilli
    }
    out(p + "watermark_lag_ms") = if (lags.isEmpty) 0.0 else lags.sum.toDouble / lags.size
  }
}

/** registry_slice: a fixed, stratified slice of SparkEntry.queries timed
  * with BenchAction.run under Bench's protocol. */
private[gmallbench] object Registry {
  def fallbacks(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => fallbacks(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => fallbacks(q.plan)
    case p =>
      p.expressions.map(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback => e
      }.size).sum + p.children.map(fallbacks).sum + p.subqueries.map(fallbacks).sum
  }

  def run(spark: SparkSession, work: String, res: mutable.Map[String, Any],
      tr: Option[Tracer], tout: mutable.Map[String, Any]): Unit = {
    val params = Harness.readParams(work)
    val warehouse = params("warehouse").split(',').toSeq
    val corpus = params("corpus").split(',').toSeq
    val names = warehouse ++ corpus
    val dir = s"$work/tables"
    def traced[T](name: String)(body: => T): T = tr.fold(body)(_.span(name)(body))
    val tw = System.currentTimeMillis()
    // resolve every table (footers, schema); the warm passes do the reads
    traced("Tables.load") { Tables.all.foreach(t => traced(s"Tables.load $t") { Tables.load(spark, dir, t) }) }
    res("table_warm_s") = (System.currentTimeMillis() - tw) / 1e3
    // warm pass, untimed: each result is written for the oracle compare
    val failed = mutable.LinkedHashMap.empty[String, String]
    val tp = System.currentTimeMillis()
    // traced: count CodegenFallback expressions in every plan the warm pass
    // executes, driver-paced intermediate actions included
    val fallbackCount = new java.util.concurrent.atomic.AtomicLong
    val planListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = fallbackCount.addAndGet(fallbacks(qe.executedPlan))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    tr.foreach(_ => spark.listenerManager.register(planListener))
    traced("warm pass") {
      names.foreach { n =>
        try SparkEntry.queries(n)(spark, dir).write.mode("overwrite").parquet(s"$work/results/$n")
        catch { case e: Throwable => failed(n) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(200) }
        spark.catalog.clearCache()
      }
    }
    tr.foreach { t => t.drain(); spark.listenerManager.unregister(planListener) }
    // a second warm pass with the timed action itself: one pass leaves the
    // JIT still compiling through the first timed passes
    traced("warm pass 2") {
      names.filterNot(failed.contains).foreach { n =>
        BenchAction.run(SparkEntry.queries(n)(spark, dir))
        spark.catalog.clearCache()
      }
    }
    res("warm_pass_s") = (System.currentTimeMillis() - tp) / 1e3
    res("warm_s") = (System.currentTimeMillis() - tw) / 1e3
    Files.writeString(Paths.get(s"$work/oracle_sql.json"),
      Out.render(SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))
    // timed passes: Bench's protocol (clearCache + gc outside the window);
    // each query reports its median over the passes
    val passes = params("passes").toInt
    val times = mutable.LinkedHashMap.empty[String, List[Double]].withDefaultValue(Nil)
    val cpus = mutable.LinkedHashMap.empty[String, List[Double]].withDefaultValue(Nil)
    val detail = mutable.LinkedHashMap.empty[String, Any]
    val before = tr.map(_.snapshot())
    val w = new Window
    res("first_timed_ms") = w.wall0
    for (pass <- 1 to passes) traced(s"timed pass $pass") {
      names.foreach { n =>
        val fn = SparkEntry.queries(n)
        val s0 = tr.map { t => t.drain(); t.snapshot() }
        val c0 = Host.cpuNs
        val q0 = System.nanoTime()
        try traced(s"query $n") { BenchAction.run(fn(spark, dir)) }
        catch { case e: Throwable => failed(n) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(200) }
        val q = (System.nanoTime() - q0) / 1e9
        times(n) = times(n) :+ q
        cpus(n) = cpus(n) :+ (Host.cpuNs - c0) / 1e9
        tr.foreach { t =>
          t.drain()
          val s1 = t.snapshot()
          detail(n) = Map("wall_s" -> q, "jobs" -> (s1("jobs") - s0.get("jobs")),
            "tasks" -> (s1("tasks") - s0.get("tasks")),
            "task_cpu_s" -> (s1("task_cpu_ns") - s0.get("task_cpu_ns")) / 1e9)
        }
        spark.catalog.clearCache(); System.gc()
      }
    }
    w.close(res)
    val secs = names.map(n => n -> BenchAction.median(times(n))).toMap
    // CPU inside the query windows, over all timed passes (as work_s)
    res("cpu_s") = names.map(n => cpus(n).sum).sum
    res("heap_live_mb") = Host.heapLiveMb
    res("query_s") = names.map(n => n -> secs(n)).toMap
    res("pass_s") = (0 until passes).map(i => names.map(n => times(n)(i)).sum)
    res("failed") = failed
    res("attempted") = names.size
    tr.foreach { t =>
      val after = t.snapshot()
      Harness.execFigures(t, before.get, after, w.wall0, res("window_end_ms").asInstanceOf[Long], tout)
      def half(ns: Seq[String], k: String): Any =
        if (k == "s") ns.map(secs).sum
        else ns.map(n => detail(n).asInstanceOf[Map[String, Any]]("jobs").asInstanceOf[Long]).sum
      tout("operators.warehouse_s") = half(warehouse, "s")
      tout("operators.corpus_s") = half(corpus, "s")
      tout("operators.warehouse_jobs") = half(warehouse, "jobs")
      tout("operators.corpus_jobs") = half(corpus, "jobs")
      tout("functions.codegen_fallbacks") = fallbackCount.get
      tout("detail") = detail
    }
  }
}

/** log_chain: P1 HttpIngest -> spool -> P2 LogPipeline (parse + 3-way
  * split to parquet), and P4 UniqueVisits and P5 BounceDetect on the same
  * spool's page split, RocksDB state. P4/P5 do not read P2's parquet output:
  * a foreachBatch parquet append becomes visible file by file, so a file
  * stream over it can see part of a batch and take the rest a trigger later,
  * out of event-time order, which changes which visits bounce. */
private[gmallbench] object LogChain {
  def run(spark: SparkSession, work: String, res: mutable.Map[String, Any],
      tr: Option[Tracer], tout: mutable.Map[String, Any],
      stageOf: mutable.Map[String, String]): Unit = {
    import spark.implicits._
    val params = Harness.readParams(work)
    def traced[T](name: String)(body: => T): T = tr.fold(body)(_.span(name)(body))
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val spool = s"$work/spool"
    new File(spool).mkdirs()
    val server = traced("HttpIngest.Server") { new HttpIngest.Server(spool) }
    server.start()
    // HttpIngest.source plus a fixed file count per trigger
    def raw() = spark.readStream.option("maxFilesPerTrigger", params("files_per_trigger"))
      .text(spool).toDF("value")
    val p2 = traced("LogPipeline.run") { LogPipeline.run(spark, raw(), s"$work/p2") }
    def pages() = BounceDetect.withEventTime(
      LogPipeline.pageStream(LogSchema.parse(raw())).select(col("mid"),
        lit("").as("isNew"), coalesce(col("page_id"), lit("")).as("pageId"),
        coalesce(col("last_page_id"), lit("")).as("lastPageId"), lit(false).as("hasStart"),
        col("ts")), params("watermark_delay")).as[LogEvent]
    def sink(ds: org.apache.spark.sql.Dataset[LogEvent], name: String) =
      ds.toDF().writeStream.format("parquet").outputMode("append")
        .option("path", s"$work/$name/out").option("checkpointLocation", s"$work/$name/_chk")
        .start()
    val p4 = traced("UniqueVisits") { sink(UniqueVisits(pages()), "p4") }
    val p5 = traced("BounceDetect") { sink(BounceDetect(pages()), "p5") }
    val stages = Seq("p2_split" -> p2, "p4_uv" -> p4, "p5_bounce" -> p5)
    stages.foreach { case (n, q) => stageOf(q.id.toString) = n }
    def settle(): Unit = stages.foreach(_._2.processAllAvailable())
    Chain.measure(work, stages, settle, res, tr, tout, params,
      pacedTarget = server.boundPort.toString, spool = spool,
      endPaced = () => server.flush())
    server.stop()
  }
}

/** The chain measurement protocol: warm-up, backlog drain, paced phase,
  * flush. */
private[gmallbench] object Chain {
  def measure(work: String, stages: Seq[(String, StreamingQuery)],
      settle: () => Unit, res: mutable.Map[String, Any], tr: Option[Tracer],
      tout: mutable.Map[String, Any], params: Map[String, String], pacedTarget: String,
      spool: String, endPaced: () => Unit): Unit = {
    // warm-up (set-up): the first slice of the feed, untimed
    val tw = System.currentTimeMillis()
    Harness.publish(Harness.listed(s"$work/warm"), spool)
    settle()
    res("warm_s") = (System.currentTimeMillis() - tw) / 1e3
    // drain: a fixed pre-spooled backlog at a fixed file count per trigger
    val backlog = Harness.listed(s"$work/backlog")
    val before = tr.map { t => t.drain(); t.snapshot() }
    val w = new Window
    res("first_timed_ms") = w.wall0
    Harness.publish(backlog, spool)
    settle()
    val drainEnd = System.currentTimeMillis()
    tr.foreach(_.record("drain", 0L, w.wall0, drainEnd))
    res("drain_s") = (drainEnd - w.wall0) / 1e3
    res("drain_rows") = params("backlog_rows").toLong
    // paced: the external generator feeds the chain on its own schedule
    println(s"@@PACED $pacedTarget")
    System.out.flush()
    val in = new BufferedReader(new InputStreamReader(System.in))
    val done = in.readLine()
    require(done != null && done.startsWith("DONE"), s"runner ended the paced phase with $done")
    endPaced()
    settle()
    w.close(res)
    tr.foreach(_.record("paced", 0L, drainEnd, res("window_end_ms").asInstanceOf[Long]))
    res("heap_live_mb") = Host.heapLiveMb
    val after = tr.map { t => t.drain(); t.snapshot() }
    // flush: sentinels far past every timeout make pending state emit
    Seq("sentinel1", "sentinel2").foreach { s =>
      Harness.publish(Harness.listed(s"$work/$s"), spool)
      settle()
    }
    val failedBatches = stages.map(_._2).count(_.exception.nonEmpty)
    stages.foreach(_._2.stop())
    res("failed_batches") = failedBatches.toLong
    res("progress") = stages.map { case (n, q) => n -> Harness.progressRows(q.recentProgress.toSeq) }.toMap
    tr.foreach { t =>
      Harness.execFigures(t, before.get, after.get, w.wall0, res("window_end_ms").asInstanceOf[Long], tout)
      t.drain()
      stages.foreach { case (n, q) =>
        Harness.streamFigures(n, t.progress.getOrElse(q.id.toString, Nil).toSeq, tout)
      }
    }
  }
}
