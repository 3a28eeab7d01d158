package graft.gmallbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Spans and counters recorded from outside the program: around calls into
  * its public entry points, and from Spark's public listener events. Spans
  * stay in memory and are written once, when the run ends. */
final class Tracer(sc: SparkContext) {
  final case class Span(id: Long, name: String, parent: Long, start: Long, end: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def span[T](name: String)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.get.headOption.getOrElse(0L)
    stack.set(id :: stack.get)
    sc.setLocalProperty("gmallbench.span", id.toString)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      stack.set(stack.get.tail)
      sc.setLocalProperty("gmallbench.span", stack.get.headOption.map(_.toString).orNull)
      record(name, parent, t0, System.currentTimeMillis(), id)
    }
  }

  def record(name: String, parent: Long, start: Long, end: Long, id: Long = -1L): Unit =
    synchronized {
      val sid = if (id > 0) id else { nextId += 1; nextId }
      spans += Span(sid, name, parent, start, end)
    }

  // ---- SparkListener counters (exec layer)
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, shuffleBytes, spillBytes, gcMs, peakExecMem = 0L
  private val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, (Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += 1
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty("gmallbench.span")))
        .map(_.toLong).getOrElse(0L)
      jobStart(e.jobId) = (e.time, parent)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, parent) =>
        record(s"job ${e.jobId}", parent, t0, e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      tasks += 1
      taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        gcMs += m.jvmGCTime
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  // ---- StreamingQueryListener: one span per trigger, progress kept per query
  val progress = mutable.Map.empty[String, mutable.ArrayBuffer[
    org.apache.spark.sql.streaming.StreamingQueryProgress]]
  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        progress.getOrElseUpdate(p.id.toString, mutable.ArrayBuffer.empty) += p
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        record(s"trigger ${p.id} ${p.batchId}", 0L, start, start + dur)
      }
  }

  def attach(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc.addSparkListener(listener)
    spark.streams.addListener(queryListener)
  }

  /** Wait until every event posted so far has reached the listeners. The
    * bus is private[spark] to scalac but public in bytecode, hence the
    * reflective call; no fixed sleep, which a loaded box outlasts. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
      .invoke(bus, java.lang.Long.valueOf(60000L))
  }

  /** Wall time inside [t0, t1] during which no task ran. */
  def idleMs(t0: Long, t1: Long): Long = synchronized {
    val iv = taskIntervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy, curA, curB = 0L
    var open = false
    iv.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else { if (open) busy += curB - curA; curA = a; curB = b; open = true }
    }
    if (open) busy += curB - curA
    (t1 - t0) - busy
  }

  def snapshot(): Map[String, Long] = synchronized {
    Map("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_run_ms" -> taskRunMs, "task_cpu_ns" -> taskCpuNs, "shuffle_bytes" -> shuffleBytes,
      "spill_bytes" -> spillBytes, "gc_ms" -> gcMs, "peak_exec_mem" -> peakExecMem)
  }

  /** Writes every span; query ids in trigger names become stage names. */
  def writeSpans(path: String, stageOf: Map[String, String]): Unit = synchronized {
    val sb = new StringBuilder
    spans.sortBy(_.start).foreach { s =>
      val name = stageOf.foldLeft(s.name) { case (n, (id, stage)) => n.replace(id, stage) }
      sb ++= s"""{"id":${s.id},"name":${Out.str(name)},"parent":${s.parent},"start_ms":${s.start},"end_ms":${s.end}}""" + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}
