package graft.sources

import graft.SparkSpec

import java.net.{Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.nio.charset.StandardCharsets

/** Live end-to-end: HTTP POST/GET -> spool files -> streaming read ->
  * parsed rows (the P1 collector path the reference serves with Spring). */
class HttpIngestSpec extends SparkSpec {
  import spark.implicits._

  private def log(mid: String, ts: Long): String =
    s"""{"common":{"mid":"$mid"},"ts":$ts}"""

  test("POST and GET /applog records flow through the spool to a streaming read") {
    val spool = tmpDir("httpspool")
    val srv = new HttpIngest.Server(spool, flushEvery = 100)
    srv.start()
    try {
      val client = HttpClient.newHttpClient()
      val base = s"http://localhost:${srv.boundPort}/applog"
      // form-body POST (the reference's param binding)
      val post = HttpRequest.newBuilder(URI.create(base))
        .POST(BodyPublishers.ofString(
          "param=" + java.net.URLEncoder.encode(log("mid_1", 1000L), "UTF-8")))
        .header("Content-Type", "application/x-www-form-urlencoded").build()
      val r1 = client.send(post, HttpResponse.BodyHandlers.ofString())
      assert(r1.statusCode() == 200)
      assert(r1.body() == log("mid_1", 1000L), "endpoint echoes the record")
      // query-param GET
      val get = HttpRequest.newBuilder(URI.create(
        base + "?param=" + java.net.URLEncoder.encode(log("mid_2", 2000L), "UTF-8"))).GET().build()
      assert(client.send(get, HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
      // raw-body POST (non-form payload)
      val raw = HttpRequest.newBuilder(URI.create(base))
        .POST(BodyPublishers.ofString(log("mid_3", 3000L), StandardCharsets.UTF_8)).build()
      assert(client.send(raw, HttpResponse.BodyHandlers.ofString()).statusCode() == 200)

      srv.flush() // roll the spool file
      val q = HttpIngest.source(spark, spool)
        .writeStream.format("memory").queryName("httpingest").outputMode("append").start()
      try {
        q.processAllAvailable()
        val mids = spark.table("httpingest").as[String].collect()
          .map(v => v.split("\"mid\":\"")(1).takeWhile(_ != '"')).toSet
        assert(mids == Set("mid_1", "mid_2", "mid_3"))
      } finally q.stop()
    } finally srv.stop()
  }

  test("flushEvery rolls files without an explicit flush; batch view sees them") {
    val spool = tmpDir("httpspool2")
    val srv = new HttpIngest.Server(spool, flushEvery = 2)
    srv.start()
    try {
      val client = HttpClient.newHttpClient()
      val base = s"http://localhost:${srv.boundPort}/applog"
      (1 to 4).foreach { i =>
        val req = HttpRequest.newBuilder(URI.create(
          base + "?param=" + java.net.URLEncoder.encode(log(s"m$i", i * 100L), "UTF-8"))).GET().build()
        client.send(req, HttpResponse.BodyHandlers.ofString())
      }
      // 4 records at flushEvery=2 => 2 rolled files, no flush() needed
      assert(HttpIngest.batchSource(spark, spool).count() == 4)
    } finally srv.stop()
  }

  test("a POST on a kept-alive connection is answered without the delayed-ACK stall") {
    val srv = new HttpIngest.Server(tmpDir("httpspool3"), flushEvery = 1000)
    srv.start()
    try {
      val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      val post = HttpRequest.newBuilder(URI.create(s"http://localhost:${srv.boundPort}/applog"))
        .POST(BodyPublishers.ofString(log("mid_k", 1L))).build()
      def send(): Unit =
        assert(client.send(post, HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
      (1 to 5).foreach(_ => send()) // open the connection and warm the path
      val ms = (1 to 41).map { _ =>
        val t0 = System.nanoTime()
        send()
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(ms(20) < 5.0, f"keep-alive POST p50 ${ms(20)}%.1f ms")
    } finally srv.stop()
  }

  test("spool files flushed in one millisecond are read in flush order, none dropped as late") {
    val spool = tmpDir("httpspool4")
    val srv = new HttpIngest.Server(spool, flushEvery = 1) // a spool file per record
    srv.start()
    val n = 300
    try (0 until n).foreach { i =>
      // one short-lived connection per record, as app SDKs send: a few
      // records per millisecond
      val body = s"""{"seq":$i,"ts":${(i + 1) * 1000L}}""".getBytes(StandardCharsets.UTF_8)
      val s = new Socket("localhost", srv.boundPort)
      try {
        s.getOutputStream.write((s"POST /applog HTTP/1.1\r\nHost: localhost\r\n" +
          s"Content-Length: ${body.length}\r\nConnection: close\r\n\r\n")
          .getBytes(StandardCharsets.UTF_8) ++ body)
        s.getInputStream.readAllBytes()
      } finally s.close()
    } finally srv.stop()
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]
    val q = spark.readStream.option("maxFilesPerTrigger", 20).text(spool)
      .selectExpr("CAST(get_json_object(value, '$.seq') AS BIGINT) AS seq",
        "timestamp_millis(CAST(get_json_object(value, '$.ts') AS BIGINT)) AS ts")
      .withWatermark("ts", "0 seconds")
      .dropDuplicates("seq", "ts")
      .writeStream.option("checkpointLocation", tmpDir("httpspool4chk"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.add(id -> b.select("seq").as[Long].collect().toSeq.sorted)
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val dropped = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      val read = batches.toArray(Array.empty[(Long, Seq[Long])]).sortBy(_._1).flatMap(_._2).toSeq
      assert(dropped == 0L, s"$dropped rows dropped as late")
      assert(read == (0L until n.toLong), "spool files read out of flush order")
    } finally q.stop()
  }
}
