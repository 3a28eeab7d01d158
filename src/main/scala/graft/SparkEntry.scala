package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.immutable.ListMap

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory from SURVEY.md §2 (batch analytic
  * core + pipeline-semantic analogs + LLM-data ops); each entry with an
  * `oracleSql` is hash-compared against DuckDB at sf0.01 by the driver.
  */
object SparkEntry {

  /** All registered operators, in a stable order. */
  val registry: ListMap[String, QueryDef] =
    operators.Analytics.defs ++
      operators.EventOps.defs ++
      operators.Dedup.defs ++
      operators.TextOps.defs ++
      operators.Similarity.defs ++
      operators.Multimodal.defs ++
      operators.Extras.defs ++
      operators.Curation.defs ++
      operators.CorpusOps.defs ++
      operators.AsOf.defs ++
      operators.Retrieval.defs ++
      operators.Graph.defs ++
      operators.Tokenizer.defs ++
      operators.TimeSeries.defs ++
      operators.Pretrain.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    registry("order_wide").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, d) => k -> d.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case (k, QueryDef(_, Some(sql))) => k -> sql }
}
