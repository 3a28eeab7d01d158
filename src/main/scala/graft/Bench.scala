package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // optional comma-separated subset for local iteration (the driver sets
    // nothing and measures the full registry). Validated BEFORE the
    // session build + table warmup: a typo'd name silently disappearing
    // from the run would read as a successful measurement of that query —
    // fail loudly instead, and fail instantly (not after tens of seconds
    // of startup cost).
    val names = sys.env.get("SPARK_GRAFT_BENCH_QUERIES") match {
      case Some(f) =>
        val want = f.split(',').map(_.trim).filter(_.nonEmpty).toSet
        val unknown = want -- SparkEntry.queries.keySet
        if (unknown.nonEmpty) {
          System.err.println(
            s"[bench] unknown queries in SPARK_GRAFT_BENCH_QUERIES: ${unknown.toSeq.sorted.mkString(",")}")
          sys.exit(2)
        }
        SparkEntry.queries.keys.toSeq.filter(want)
      case None => SparkEntry.queries.keys.toSeq
    }
    // machine-load forensics: record /proc/loadavg at run start and end
    // plus the run's total JVM GC time, so a uniformly-slow bench (busy
    // machine, registry-growth GC pressure) is self-explaining in
    // bench_times.json instead of needing after-the-fact guesswork
    def loadAvg: String =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")),
        java.nio.charset.StandardCharsets.UTF_8).trim
        .split(" ").take(3).mkString(",")
      catch { case _: Throwable => "" }
    // the 1-minute field as a NUMBER, so the contamination check below is
    // machine-checkable from the JSON without string-parsing loadavg
    def loadAvg1: Double =
      try loadAvg.split(",").head.toDouble catch { case _: Throwable => -1.0 }
    // self-adjudication: two consecutive driver sittings ran at loadavg ~4
    // and each needed a manual judge re-bench to separate ambient load from
    // real regressions. (1) bounded idle spin-wait: poll up to
    // SPARK_GRAFT_BENCH_WAIT_IDLE_SEC (default 120 s, 5 s period) for the
    // 1-min loadavg to fall to <= 1.0 before the timed run; (2) whatever
    // load remains at run start is recorded as `contaminated` in the
    // summary, so a dirty sitting flags ITSELF instead of needing
    // after-the-fact tail forensics. The wait happens before the session
    // build so Spark's own startup threads don't count against the box.
    val idleWaitBudget =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WAIT_IDLE_SEC", "120").toInt
    var idleWaited = 0
    while (loadAvg1 > 1.0 && idleWaited < idleWaitBudget) {
      Thread.sleep(5000); idleWaited += 5
    }
    // captured BEFORE the session build: the 32-thread warmup alone lifts
    // the 1-min loadavg past 1 (32 cores for ~10 s ≈ +4.9), so a reading
    // taken after startup would flag every run as contaminated by ITSELF —
    // this reading measures the box's AMBIENT load only. ONE read, parsed
    // once: separate reads can straddle a kernel loadavg tick and emit a
    // loadavg_start string whose first field contradicts loadavg1_start /
    // contaminated — the fields must be mutually consistent to be
    // machine-checkable.
    val loadStart = loadAvg
    val load1Start =
      try loadStart.split(",").head.toDouble catch { case _: Throwable => -1.0 }
    val contaminated = load1Start > 1.0
    // the ONE session factory (GraftSession) so the bench measures the
    // same configuration the library tells users to deploy — the four
    // entrypoints had hand-rolled near-identical builders that drifted
    val spark = GraftSession.build(Some(s"local[$cpus]"), cpus.toInt, "graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (codegen, parquet footers) so the first timed query
    // doesn't absorb one-time init cost. Failure-tolerant: a missing or
    // partial sf dir must fall through to the per-query error accounting
    // (which emits a parseable line with -1s and messages), not kill the
    // run before any JSON is printed.
    Tables.all.foreach(t =>
      try Tables.load(spark, sfDir, t).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $t failed: ${Option(e.getMessage).getOrElse("").take(120)}")
      })
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val gcs = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val errs = scala.collection.mutable.Map.empty[String, String]
    // cumulative JVM GC time — the per-query delta separates "query was
    // slow" from "the JVM was collecting someone else's garbage" (the
    // round-2 q12 outlier shape) without a profiler attach
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    }
    // JIT code-cache occupancy (the three CodeHeap pools), reported at
    // run end: the round-12 bimodal multimodal readings carried a
    // code-cache-sweep hypothesis that was unfalsifiable from the JSON —
    // with used/max recorded every run, "the cache saturated and the JIT
    // started flushing hot codegen kernels" is machine-checkable
    def codeCacheMb: (Double, Double) = {
      import scala.jdk.CollectionConverters._
      val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
        .asScala.filter(_.getName.startsWith("CodeHeap"))
      (pools.map(_.getUsage.getUsed).sum / 1e6,
        pools.map(_.getUsage.getMax.max(0L)).sum / 1e6)
    }
    // Janino compiles so far in this JVM: every generated class that missed
    // Spark's codegen cache (spark.sql.codegen.cache.maxEntries). The
    // per-rep delta per query shows cache pressure: once rep 1 has
    // compiled a query's classes, a later rep that compiles again means
    // the cache evicted them, and that recompile lands in the timed window
    def compiles: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cacheCapacity = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    val comps = scala.collection.mutable.Map.empty[String, List[Long]]
      .withDefaultValue(Nil)
    val gcRunStart = gcMillis
    var gcForced = 0
    for (_ <- 1 to reps; name <- names) {
      val fn = SparkEntry.queries(name)
      val gc0 = gcMillis
      val c0 = compiles
      val t0 = System.nanoTime()
      // the timed action lives in BenchAction (shared with the gmallbench
      // harness so its timings stay comparable by construction)
      val failed: Option[String] =
        try { BenchAction.run(fn(spark, sfDir)); None }
        catch { case e: Throwable =>
          // keep messages short: they ride on the bounded stdout JSON line
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(80)}")
        }
      val secs = (System.nanoTime() - t0) / 1e9
      comps(name) = (compiles - c0) :: comps(name)
      failed match {
        case Some(msg) => errs(name) = msg // failures poison the query, not the run
        case None =>
          times(name) = secs :: times(name)
          gcs(name) = (gcMillis - gc0) / 1e3 :: gcs(name)
      }
      // ~25 queries persist intermediates (Sorted, LSH signature tables,
      // connected-components rounds). Without this the caches accumulate
      // across the 70-query run and GC pressure inflates the back half
      // 6-21x (round-2 driver bench). Cleared OUTSIDE the timing window —
      // each query is timed cold-cache, same as a fresh session.
      spark.catalog.clearCache()
      // UNCONDITIONAL forced collection, deliberately (round 12 measured
      // the alternative): gating this on heap occupancy (tried at max/2,
      // /8 and /16) saves ~160 s of harness wall per full sitting (642
      // calls x ~250 ms STW) — but it INFLATES the binary-decode family's
      // TIMED windows ~3x (multimodal_meta 0.90 -> 2.9-3.6 s,
      // multimodal_features 0.82 -> 2.4-3.7 s across three full gated
      // sittings, reproduced on a 13-query subset, with in-window GC
      // pause time at ~0 both ways — the collect was not saving pauses,
      // it was QUIESCING G1's background work so the humongous-allocation
      // storms start on a drained heap). 160 s of untimed harness wall is
      // the cheaper cost: the timed window is the product. gcForced keeps
      // counting so any future re-gating experiment stays self-reporting.
      System.gc(); gcForced += 1
    }
    def median(xs: List[Double]): Double = BenchAction.median(xs)
    // Locale.ROOT: the f-interpolator formats with the JVM default locale,
    // and a comma-decimal locale (de_DE, fr_FR) would emit 0,123 — not JSON
    def jnum(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    def jstr(s: String): String = Json.str(s)
    // a query with ANY failed rep reports -1: a median over the surviving
    // reps would look like a clean number while `errors` says otherwise,
    // and the driver can't tell a full median from a partially-poisoned one
    val perQuery = names.map { n =>
      n -> (if (times(n).nonEmpty && !errs.contains(n)) median(times(n)) else -1.0)
    }
    val qs = perQuery.map { case (k, v) => jstr(k) + ":" + jnum(v) }
      .mkString("{", ",", "}")
    // the errors map must stay BOUNDED or a registry-wide failure (bad sf
    // dir) blows the stdout tail budget with 90+ messages: first 3 in
    // full, plus an omitted count.
    val errShown = errs.toSeq.sortBy(_._1).take(3)
    val errJson = (errShown.map { case (k, v) => jstr(k) + ":" + jstr(v) } ++
      (if (errs.size > 3) Seq(jstr("_omitted") + ":" + jstr(s"${errs.size - 3} more")) else Nil))
      .mkString("{", ",", "}")
    // a query with ANY failed rep is excluded here too — a clean-looking
    // partial gc median next to its -1 in `queries` would read as success
    val gcJson = names.filter(n => gcs(n).nonEmpty && !errs.contains(n))
      .map(n => jstr(n) + ":" + jnum(median(gcs(n)))).mkString("{", ",", "}")
    val total = perQuery.collect { case (_, v) if v >= 0 => v }.sum
    // per-rep compile counts in rep order, failed reps included (a failed
    // query still compiled its classes)
    val compJson = names.map(n => jstr(n) + ":" + comps(n).reverse.mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val compTotal = comps.values.map(_.sum).sum
    // The driver records a 2000-char stdout TAIL (measured in
    // BENCH_r05.json: len(tail) == 2000 exactly), and sbt's [success]
    // epilogue eats ~75 more. The 92-query map alone is ~2.3k chars, so it
    // CANNOT ride on stdout (rounds 1-5 all recorded "parsed": null from
    // head-truncation). The one stdout line is therefore a compact summary
    // (~200 chars; ~550 worst-case with 3 bounded error messages) and the
    // full per-query + gc maps go to (a) bench_times.json on disk and
    // (b) stderr, which the driver tails separately.
    // contamination verdict rides BOTH lines: loadavg1_start is the parsed
    // pre-startup ambient 1-min load, `contaminated` its >1.0 adjudication
    val adjudication =
      s""""loadavg1_start":${jnum(load1Start)},"contaminated":$contaminated,"idle_waited_sec":$idleWaited"""
    val (ccUsed, ccMax) = codeCacheMb
    val fullLine =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","queries":$qs,"gc_sec":$gcJson,"errors":$errJson,"reps":$reps,"sf":${jstr(sfDir)},"loadavg_start":${jstr(loadStart)},"loadavg_end":${jstr(loadAvg)},$adjudication,"gc_total_sec":${jnum((gcMillis - gcRunStart) / 1e3)},"gc_forced":$gcForced,"codecache_used_mb":${jnum(ccUsed)},"codecache_max_mb":${jnum(ccMax)},"codegen_cache_max_entries":$cacheCapacity,"codegen_compiles_total":$compTotal,"codegen_compiles":$compJson}"""
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_times.json")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(detailPath),
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $detailPath: ${Option(e.getMessage).getOrElse("").take(120)}")
    }
    System.err.println(fullLine)
    println(s"""{"metric":"total","value":${jnum(total)},"unit":"sec","n":${names.size},"ok":${names.size - errs.size},"errors":$errJson,"reps":$reps,"sf":${jstr(sfDir)},$adjudication,"detail":${jstr(detailPath)}}""")
    spark.stop()
  }
}
