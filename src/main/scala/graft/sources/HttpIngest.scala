package graft.sources

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.collection.mutable.ArrayBuffer

/** P1 — HTTP log ingestion endpoint, the engine's analog of the reference's
  * Spring collector (gmall-logger LoggerController.java:15-24: `/applog`
  * takes a `param` record, logs it, produces to the `ods_base_log` topic).
  *
  * Spark-first shape: the endpoint is a thin JDK `HttpServer` (no web
  * framework dependency) that appends records to a SPOOL DIRECTORY of
  * immutable files — the durable-log role Kafka plays in the reference —
  * and the engine consumes it with the file stream source
  * (`readStream.text`), which gives exactly-once source semantics (files
  * are tracked in the checkpoint). Records buffer in memory and roll into
  * a new spool file every `flushEvery` records (atomic tmp-file + move, so
  * the stream never sees partial files). At scale the collector tier is
  * horizontally shardable: each instance writes its own spool files into
  * the same directory, and file-source parallelism follows file count.
  */
object HttpIngest {

  /** The streaming view over the spool — one string column `value`, the
    * shape Spark's Kafka source gives after `CAST(value AS STRING)`. */
  def source(spark: SparkSession, spoolDir: String): DataFrame =
    spark.readStream.text(spoolDir).toDF("value")

  /** Batch view (backfill / replay over the same spool). */
  def batchSource(spark: SparkSession, spoolDir: String): DataFrame =
    spark.read.text(spoolDir).toDF("value")

  /** Collector endpoint: GET/POST `/applog` with `param=<record>` (query or
    * form body) or a raw non-form body. Echoes the record back (reference
    * behavior) and spools it. */
  final class Server(spoolDir: String, port: Int = 0, flushEvery: Int = 100) {
    Files.createDirectories(Paths.get(spoolDir))
    // The JDK server sends the headers and the body in two writes. With
    // Nagle on, the body waits for the client's delayed ACK of the headers,
    // about 40 ms per request on a kept-alive connection. The JDK server
    // reads this property once, when the JVM's first HttpServer is made.
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
    private val server = HttpServer.create(new InetSocketAddress(port), 0)
    private val buf = new ArrayBuffer[String]
    private var fileNo = 0
    // the file source orders files by whole-millisecond mtime and breaks
    // ties arbitrarily, so every spool file gets a later mtime than the last
    private var lastStamp = 0L
    // per-instance token: multiple collector instances share one spool dir
    // (the horizontal-shard deployment) without file-name collisions
    private val token = java.util.UUID.randomUUID().toString.take(8)

    server.createContext("/applog", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val query = Option(x.getRequestURI.getRawQuery).getOrElse("")
        val record = param(query).orElse(param(body)).getOrElse(body)
        if (record.nonEmpty) append(record)
        val resp = record.getBytes(StandardCharsets.UTF_8)
        x.sendResponseHeaders(200, resp.length)
        x.getResponseBody.write(resp)
        x.close()
      }
    })

    private def param(s: String): Option[String] =
      s.split('&').collectFirst {
        case kv if kv.startsWith("param=") =>
          URLDecoder.decode(kv.stripPrefix("param="), "UTF-8")
      }

    private def append(record: String): Unit = synchronized {
      buf += record
      if (buf.size >= flushEvery) flushLocked()
    }

    /** Roll buffered records into a new immutable spool file (atomic move —
      * the file source never observes a partially-written file). */
    def flush(): Unit = synchronized { flushLocked() }

    private def flushLocked(): Unit = {
      if (buf.nonEmpty) {
        // temp file INSIDE spoolDir, not java.io.tmpdir: ATOMIC_MOVE is only
        // guaranteed same-filesystem, and deployments put the spool on a data
        // disk while /tmp is elsewhere — a cross-device move would throw
        // AtomicMoveNotSupportedException and strand the buffered records.
        // A dot-prefixed name keeps the file source from matching it pre-move.
        val tmp = Files.createTempFile(Paths.get(spoolDir), ".httpingest", ".tmp")
        Files.write(tmp, buf.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        lastStamp = math.max(System.currentTimeMillis(), lastStamp + 1)
        Files.setLastModifiedTime(tmp, FileTime.fromMillis(lastStamp))
        val dest: Path = Paths.get(spoolDir, f"part-$token%s-$lastStamp%d-$fileNo%05d.jsonl")
        Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
        fileNo += 1
        buf.clear()
      }
    }

    def start(): Unit = server.start()
    def boundPort: Int = server.getAddress.getPort
    def stop(): Unit = { flush(); server.stop(0) }
  }
}
