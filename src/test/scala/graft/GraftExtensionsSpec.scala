package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Builds its own session (extensions are session-construction-time), so
  * not part of the shared SparkSpec fixture. */
class GraftExtensionsSpec extends AnyFunSuite {

  /** Run `f` on a session built through [[GraftSession.configure]], then
    * restore whatever default/active session the JVM held. */
  private def withExtensionsSession(f: SparkSession => Unit): Unit = {
    // extensions apply at session construction; other suites in this JVM may
    // hold a default session, so clear (and later restore) rather than
    // stop() — the underlying SparkContext is shared
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // `.config("spark.sql.extensions", ...)` is a STATIC conf — honored
      // only when the SparkContext itself is built (true in a fresh
      // deployment; this JVM's context belongs to the shared fixture).
      // `withExtensions` (in GraftSession.configure) drives the exact same
      // GraftExtensions.apply. The rest of configure matters when this
      // suite runs first: its context's static confs (the codegen cache
      // size) then hold for every later suite in the JVM.
      f(GraftSession.configure(SparkSession.builder())
        .master("local[2]")
        .appName("graft-extensions-spec")
        .getOrCreate())
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("spark.sql.extensions=graft.GraftExtensions registers graft_* for SQL") {
    withExtensionsSession { spark =>
      val r = spark.sql(
        "SELECT graft_simhash('hello world hello') AS sh, " +
          "size(graft_shingles('a b c d')) AS n, " +
          "graft_cosine(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c").head()
      assert(r.getLong(0) != 0L)
      assert(r.getInt(1) == 2) // shingles of 4 tokens = 2 distinct 3-grams
      assert(r.getDouble(2) == 1.0)
      // EVERY builder resolves through the extensions path — the review
      // find was exactly this drift (the extension shipped 9 of 11
      // functions); resolving each name pins the shared-list fix
      graft.functions.HashExpressions.builders.foreach { case (name, _) =>
        // type-correct args per signature: every function type-checks
        // its arguments at analysis
        val args = name match {
          case "graft_cosine" => "array(1.0f), array(1.0f)"
          case "graft_srp12" => "array(1.0f)"
          case "graft_sorted_inter" => "array(1), array(1)"
          case "graft_bloom_agg" => "xxhash64('x'), 1000L, 8192L"
          case "graft_might_contain" => "CAST(NULL AS BINARY), xxhash64('x')"
          case "graft_srp" => "array(1.0f), 8"
          case "graft_winnow_sel" => "'x', 3, 4"
          case _ => "'x'"
        }
        // analysis only — no execution needed to prove resolution
        spark.sql(s"SELECT $name($args)").queryExecution.analyzed
      }
      // wrong arity fails analysis with the builder's message, not an
      // IndexOutOfBoundsException
      val e = intercept[Exception](
        spark.sql("SELECT graft_cosine(array(1.0f))").queryExecution.analyzed)
      assert(messages(e).exists(_.contains("requires exactly 2 argument")),
        s"unexpected failure shape: $e")
      // nullable-element arrays are rejected at ANALYSIS: the merge walk
      // has no null semantics (toIntArray would read null slots as
      // garbage), so the SQL surface must refuse rather than miscount
      val en = intercept[Exception](spark.sql(
        "SELECT graft_sorted_inter(array(1, CAST(NULL AS INT)), array(1))")
        .queryExecution.analyzed)
      assert(messages(en).exists(_.contains("nullable elements")),
        s"unexpected failure shape: $en")
      // and the documented remedy (array_compact narrows containsNull)
      // passes analysis
      spark.sql("SELECT graft_sorted_inter(" +
        "array_compact(array(1, CAST(NULL AS INT))), array(1))")
        .queryExecution.analyzed
    }
  }

  test("graft_* functions reject wrong argument types at analysis") {
    withExtensionsSession { spark =>
      // a text function fed a number, and a vector function fed text, must
      // fail ANALYSIS (not a task: a ClassCastException or a Janino error)
      val textFns = graft.functions.HashExpressions.builders.map(_._1).filterNot(Set(
        "graft_cosine", "graft_sorted_inter", "graft_bloom_agg",
        "graft_might_contain", "graft_srp", "graft_srp12", "graft_winnow_sel"))
      val calls = textFns.map(n => s"$n(1)") ++ Seq("graft_winnow_sel(1, 3, 4)",
        "graft_cosine('x', 'x')", "graft_cosine(array(1.0D), array(1.0D))",
        "graft_srp12('x')")
      calls.foreach { c =>
        val e = intercept[org.apache.spark.sql.AnalysisException](
          spark.sql(s"SELECT $c").queryExecution.analyzed)
        assert(messages(e).exists(_.contains("DATATYPE_MISMATCH")), s"$c: $e")
      }
    }
  }

  test("graft_* functions resolve in sessions derived from a configured one") {
    withExtensionsSession { spark =>
      // "ab c" -> token hashes [a*31 + b, c] = [3105, 99];
      // cos([1, 0], [1, 1]) = 1 / sqrt(2)
      val want = (Seq(3105L, 99L), 1.0 / math.sqrt(2.0))
      def call(df: org.apache.spark.sql.DataFrame): (Seq[Long], Double) = {
        val r = df.selectExpr("graft_token_hashes(t)",
          "graft_cosine(array(1.0f, 0.0f), array(1.0f, CAST(n AS FLOAT)))").head()
        (r.getSeq[Long](0), r.getDouble(1))
      }
      // newSession: fresh SQL state, shared context
      val fresh = spark.newSession()
      assert(call(fresh.createDataFrame(Seq(("ab c", 1)))
        .toDF("t", "n")) == want)
      // foreachBatch: the batch runs on the stream's cloned session
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val ms = MemoryStream[(String, Int)]
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[Long], Double)]()
      val sessions = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
      val q = ms.toDF().toDF("t", "n").writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          sessions.add(b.sparkSession)
          seen.add(call(b))
          ()
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-ext-stream").toString)
        .start()
      try {
        ms.addData(("ab c", 1))
        q.processAllAvailable()
      } finally q.stop()
      assert(!sessions.isEmpty && sessions.stream().allMatch(_ ne spark),
        "foreachBatch must run on a session other than the configured one")
      assert(seen.size == 1 && seen.peek() == want, s"got $seen")
    }
  }
}
