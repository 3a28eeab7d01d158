package graft

import org.apache.spark.sql.DataFrame

/** `Tables.load` infers a table's schema once per file identity
  * (SchemaMemo): a repeat load starts no job, a rewritten table infers
  * again, and the rows are those of a plain read. */
class TablesSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a repeat load of an unchanged table starts no job; a rewritten one infers again") {
    val dir = tmpDir("tables")
    val path = Tables.path(dir, "t")
    spark.range(40).selectExpr("id", "id * 3 AS v").coalesce(1).write.parquet(path)
    val (firstJobs, first) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(firstJobs.jobs >= 1, "the first load infers the schema")
    val (againJobs, again) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(againJobs.jobs == 0, s"the repeat load started ${againJobs.jobs} jobs")
    assert(again.schema == first.schema)
    assert(rows(again) == rows(spark.read.parquet(path)))

    spark.range(40).selectExpr("id", "id * 3 AS v", "id % 4 AS w").coalesce(1)
      .write.mode("overwrite").parquet(path)
    val (rewrittenJobs, rewritten) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(rewrittenJobs.jobs >= 1, "a rewritten table infers again")
    assert(rewritten.columns.toSeq == Seq("id", "v", "w"))
    assert(rows(rewritten) == rows(spark.read.parquet(path)))
  }
}
