package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Reads whose schema is inferred once per file identity. A file read
  * without a schema runs one Spark job to infer it (a parquet footer, a
  * CSV header line): 93–138 ms of JVM CPU for a warm load of one fixture
  * table, against 9–15 ms with the schema known (SCALE.md, "Local I/O:
  * shell forks and per-read schema inference"). The repeated readers
  * read through here: `Tables.load`, P6's six dims every trigger
  * (`OrderWide.dimsFromParquet`) and P3's routing config every trigger
  * (`CdcRouter.run`).
  *
  * The key is the session, the format and options, the path, the file's
  * identity (length and modification time; for a directory, the file
  * count, total length and latest modification time over the directory
  * and every file under it) and `nanosAsLong`, the one setting that
  * changes the inferred parquet types of the fixtures. A rewritten file
  * has a new identity and infers again. */
object SchemaMemo {
  // entries kept; a session reads at most a few dozen distinct inputs
  private val MaxEntries = 256

  private final case class Key(session: SparkSession, format: String,
      options: Map[String, String], path: String, files: Long, bytes: Long,
      mtime: Long, nanosAsLong: String)

  private val memo = new java.util.LinkedHashMap[Key, StructType](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, StructType]): Boolean =
      size() > MaxEntries
  }

  def read(spark: SparkSession, path: String, format: String = "parquet",
      options: Map[String, String] = Map.empty): DataFrame = {
    val (files, bytes, mtime) = identity(spark, path)
    val key = Key(spark, format, options, path, files, bytes, mtime,
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong"))
    val reader = spark.read.format(format).options(options)
    memo.synchronized(Option(memo.get(key))) match {
      case Some(schema) => reader.schema(schema).load(path)
      case None =>
        val df = reader.load(path)
        memo.synchronized(memo.put(key, df.schema))
        df
    }
  }

  /** (file count, total length, latest modification time) of `path`
    * and, for a directory, every file under it. */
  private def identity(spark: SparkSession, path: String): (Long, Long, Long) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val st = fs.getFileStatus(p)
    var (files, bytes, mtime) = (1L, st.getLen, st.getModificationTime)
    if (st.isDirectory) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        files += 1
        bytes += f.getLen
        mtime = math.max(mtime, f.getModificationTime)
      }
    }
    (files, bytes, mtime)
  }
}
