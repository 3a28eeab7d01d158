package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * `events.ts` is physically parquet `timestamp[ns]`; depending on
  * `spark.sql.legacy.parquet.nanosAsLong` Spark surfaces it either as a
  * long (nanos) or errors. We normalize to a microsecond TimestampType
  * column (truncating, which matches DuckDB's ns->us conversion) so every
  * downstream operator sees one canonical schema.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // defensive: events.parquet is timestamp[ns]; without this runtime conf
    // a session built outside Verify/Bench/GraftSession would fail the read
    // with PARQUET_TYPE_ILLEGAL (conf is runtime-settable).
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // same defensive posture for the timezone: the TIMESTAMP_NTZ ->
      // TimestampType cast below is instant-preserving ONLY under a UTC
      // session timezone. GraftSession pins it, but a session built
      // elsewhere would silently shift every ts by its zone offset —
      // unlike the nanos path, which at least fails loudly. This is a
      // SESSION-WIDE flip (the cast is lazy, so it cannot be scoped to
      // this read: the session timezone at EXECUTION time is what the
      // cast sees) — when it overrides a deliberate non-UTC caller
      // setting it changes rendering/parsing semantics for every later
      // query in the session, so that case warns instead of staying
      // silent.
      // getOption, NOT get(key, ""): Spark 4 validates a supplied default
      // through the conf entry's checkValue even when only used as a
      // fallback, and '' fails isValidTimezone — the sentinel would crash
      // exactly the external non-GraftSession sessions this warn protects
      val tz = spark.conf.getOption("spark.sql.session.timeZone").getOrElse("")
      if (tz.nonEmpty && tz != "UTC")
        System.err.println(
          s"[graft] Tables.load(events): overriding session timezone '$tz' with UTC " +
            "for instant-preserving TIMESTAMP_NTZ normalization; " +
            "subsequent timestamp rendering/parsing in this session is UTC")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
    val df = SchemaMemo.read(spark, path(dir, name))
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        // integer division: `/` on longs is double division and loses
        // microsecond precision at epoch-nano magnitudes (~1.7e18).
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        // a fixture written as parquet timestamp[us] with isAdjustedToUTC
        // = false surfaces as TIMESTAMP_NTZ; the session timezone is
        // pinned UTC (GraftSession), so this cast relabels the same
        // microsecond instant into the canonical TimestampType every
        // downstream operator (unix_micros, windows, watermarks) expects.
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
}
