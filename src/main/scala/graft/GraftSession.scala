package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-tuned defaults.
  *
  * The same builder serves local verification (`local[N]`, N shuffle
  * partitions) and a real cluster (leave `master` unset, size
  * `shufflePartitions` to ~2-3x total cores). Scale-relevant settings:
  *  - AQE on: runtime partition coalescing, skew-join splitting, and
  *    dynamic broadcast demotion/promotion replace hand-tuning per query;
  *  - skew-join handling explicitly enabled (hot keys — order ids, band
  *    buckets — get split instead of stalling a straggler);
  *  - UTC session time zone (oracle parity and sane event-time math);
  *  - nanosAsLong for the ns-precision parquet fixtures;
  *  - a codegen cache that holds the registry's generated classes;
  *  - a `file:` scheme that does not fork a shell (LocalFs.scala).
  */
object GraftSession {
  /** Capacity of Spark's generated-code cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100), sized to the
    * registry's working set. At the default, gmallbench's registry_slice
    * (10 queries, ~200 distinct generated classes) evicted what the next
    * query needed, so every pass paid Janino and a cold JIT again for
    * each class: 372 compiles in its two timed passes, whose tasks used
    * 4.5 s of the JVM's 33.8 s CPU (traced run). Census (unbounded
    * cache, 4 cores): one full 223-query pass compiles 3,579 distinct
    * classes at sf0.1 (Bench, reps=1) and 3,598 at sf0.01. 4,096 leaves
    * ~500 entries (14 %) for registry growth and for the few queries
    * whose repeat runs generate new sources. Cost per retained entry,
    * measured by emptying a full cache between two full GCs: ~60 KB heap
    * (source text, bytecode, class loader) and ~8.5 KB metaspace, so
    * ~250 MB heap and ~35 MB metaspace when full. The cache fills only as
    * far as the distinct code a JVM runs (registry_slice: ~200 entries).
    * A static conf: the session that first generates code in a JVM fixes
    * it for that JVM. */
  val CodegenCacheEntries: Int = 4096

  /** The settings every graft session carries, production and test alike
    * (SparkSpec applies this same definition). One definition matters
    * twice over: the suites must run the configuration users deploy, and
    * the codegen cache size is a STATIC conf, fixed by the session that
    * first generates code in a JVM, so one test session built by hand
    * without it could run the whole forked suite at Spark's default. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new GraftExtensions) // graft_* functions in every session
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // RocksDB-backed keyed state for every streaming query: the default
    // HDFSBackedStateStoreProvider keeps ALL keys on the executor heap,
    // which at the reference's per-device cardinality (UniqueVisitApp's
    // per-mid dedup state — billions of keys at 100 TB) is an executor
    // OOM, not a tuning problem. RocksDB holds state off-heap with
    // incremental (changelog) checkpoints; heap usage becomes bounded
    // block-cache + memtable instead of O(keys). The streaming suites
    // prove their semantics (UV dedup, bounce CEP, order-wide join
    // buffers) under this same provider.
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)

  def build(master: Option[String], shufflePartitions: Int,
      appName: String = "graft"): SparkSession = {
    val b = configure(SparkSession.builder().appName(appName))
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let AQE re-optimize CACHED plans too (off by default for
      // output-partitioning compatibility only — SPARK-35332). The engine
      // persists many intermediates (Sorted results, LSH signature tables,
      // token-frequency frames); without this every `persist` materializes
      // with the static shuffle-partition count and NO partition
      // coalescing, so a KB-sized cached frame carries
      // `spark.sql.shuffle.partitions` near-empty blocks and every
      // downstream stage over it schedules that many near-empty tasks
      // (measured round 16: 23 such 32-task stages per pretrain_prep run
      // at sf0.1, 40-370 ms each of pure scheduling). At cluster scale the
      // same flag sizes cached-plan partitions by AQE's advisory bytes
      // instead of a static constant — strictly more scale-adaptive.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    master.foreach(b.master)
    b.getOrCreate()
  }

  /** Local session sized from SPARK_GRAFT_CPUS (driver contract). */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    build(Some(s"local[$cpus]"), cpus.toInt)
  }
}
