package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The `file:` scheme every graft session registers (LocalFs.scala): no
  * shell forks, and the same results as Hadoop's own local file system. */
class LocalFsSpec extends SparkSpec {

  /** Commands of the processes the JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.map(_.getString("command")).toSeq
    } finally { rec.close(); Files.delete(f) }
  }

  test("a RocksDB-state streaming query with a parquet sink forks no chmod or readlink") {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), hadoopConf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(hadoopConf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
    import spark.implicits._
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmpDir("localfs")
    val in = MemoryStream[(Long, Timestamp)]
    val commands = processStarts {
      val q = in.toDF().toDF("k", "ts")
        .withWatermark("ts", "1 second")
        .dropDuplicates("k", "ts")
        .writeStream.format("parquet")
        .option("path", s"$dir/out").option("checkpointLocation", s"$dir/chk")
        .start()
      // event times start after the epoch, the initial watermark
      try (1 to 3).foreach { b =>
        in.addData((0L until 20L).map(k => (k % 7, new Timestamp(b * 10000L + k * 100L))))
        q.processAllAvailable()
      } finally q.stop()
    }
    val forks = commands.filter(c => Set("chmod", "readlink")(c.trim.split("\\s+").head))
    assert(forks.isEmpty, s"${forks.size} forks, first: ${forks.take(3).mkString("; ")}")
    assert(spark.read.parquet(s"$dir/out").count() == 60L)
  }

  test("files and directories get the permission bits Hadoop's chmod path sets") {
    val conf = new Configuration()
    def init[F <: FileSystem](fs: F): F = { fs.initialize(URI.create("file:///"), conf); fs }
    val stock = init(new RawLocalFileSystem)
    val ours = init(new ForkFreeRawLocalFileSystem)
    def mode(p: Path): Int =
      Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode").asInstanceOf[Int] & 0xfff
    def modes(fs: FileSystem, root: Path): Seq[Int] = {
      val created = Seq("0640", "0755", "0600").map { m =>
        val f = new Path(root, s"file$m")
        fs.create(f, new FsPermission(m), true, 4096, 1.toShort, 1L << 20, null).close()
        f
      }
      val dirs = Seq(new Path(root, "d/e"), new Path(root, "d2"))
      fs.mkdirs(dirs(0))
      fs.mkdirs(dirs(1), new FsPermission("0750"))
      val sticky = new Path(root, "sticky")
      fs.mkdirs(sticky)
      fs.setPermission(sticky, new FsPermission("1777"))
      (created ++ dirs :+ new Path(root, "d") :+ sticky).map(mode)
    }
    val base = tmpDir("perms")
    val expected = modes(stock, new Path(s"$base/stock"))
    assert(expected.contains(0x3ff), "the sticky directory must keep its sticky bit")
    assert(modes(ours, new Path(s"$base/ours")) == expected)
  }

  test("link status matches Hadoop's for files, symlinks and missing paths") {
    val conf = new Configuration()
    val stock = new RawLocalFileSystem
    val ours = new ForkFreeRawLocalFileSystem
    Seq(stock, ours).foreach(_.initialize(URI.create("file:///"), conf))
    val dir = tmpDir("links")
    val file = Paths.get(dir, "f")
    Files.write(file, "abc".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(Paths.get(dir, "l"), file)
    Seq(file, link, Paths.get(dir, "d")).foreach { p =>
      val hp = new Path(p.toUri)
      val a = scala.util.Try(stock.getFileLinkStatus(hp))
      val b = scala.util.Try(ours.getFileLinkStatus(hp))
      assert(a.isSuccess == b.isSuccess, p)
      a.foreach { s =>
        val t = b.get
        assert((t.isSymlink, t.isFile, t.getLen, t.getPath) == (s.isSymlink, s.isFile, s.getLen, s.getPath), p)
      }
    }
  }
}
