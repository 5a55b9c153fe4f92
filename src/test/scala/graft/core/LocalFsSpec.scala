package graft.core

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException,
  FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.streaming.{ScoringStream, StatefulOps}

/** The `file` scheme every session is built with ([[NioLocalFs]]):
  * the streaming and sink paths start no process through Hadoop's
  * `Shell`, and the stock local-filesystem behaviour is kept. */
class LocalFsSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = FileSystem.get(URI.create("file:///"), conf)
  private def fc = FileContext.getFileContext(URI.create("file:///"), conf)
  // Scheme-less: stock `getFileLinkStatus` resolves a link from
  // `Path.toString`, which for a `file:` URI names no file.
  private def hpath(p: JPath) = new Path(p.toString)

  test("sessions serve the file scheme from the NIO local filesystem") {
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("a stream-stream join and an alert text write start no Shell " +
      "process") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // Shell's class initialiser probes for bash and setsid once per
    // JVM; run it before recording so only per-write spawns count.
    Class.forName("org.apache.hadoop.util.Shell")
    val ckpt = Files.createTempDirectory("graft_localfs_ckpt").toString
    val alertDir = Files.createTempDirectory("graft_localfs_alerts")
      .resolve("alerts").toString
    def ts(minute: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")
    val l = MemoryStream[(Long, java.sql.Timestamp)]
    val r = MemoryStream[(Long, java.sql.Timestamp)]

    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val q = StatefulOps.streamStreamJoin(l.toDF().toDF("k", "eventTime"),
        r.toDF().toDF("k", "eventTime"), "k")
      .writeStream.format("memory").queryName("localfs_join")
      .option("checkpointLocation", ckpt).start()
    try (1 to 3).foreach { i =>
      l.addData((i.toLong, ts(i)))
      r.addData((i.toLong, ts(i)))
      q.processAllAvailable()
    } finally q.stop()
    ScoringStream.alerts(Seq((1L, 1.0), (2L, 0.0)).toDF("id", "prediction"))
      .write.mode("append").text(alertDir)
    rec.stop()

    val jfr = Files.createTempFile("graft_localfs", ".jfr")
    rec.dump(jfr)
    rec.close()
    val spawns = RecordingFile.readAllEvents(jfr).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
    Files.delete(jfr)
    val shellSpawns = spawns.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(
        _.getMethod.getType.getName == "org.apache.hadoop.util.Shell")))
      .map(_.getString("command"))
    assert(shellSpawns.isEmpty)

    // The recorded work really wrote through the filesystem.
    assert(spark.table("localfs_join").count() == 3)
    assert(new java.io.File(ckpt, "commits").list().count(!_.startsWith("."))
      >= 3)
    assert(spark.read.text(alertDir).count() == 1)
  }

  test("a created file gets the umask-applied permission and a .crc " +
      "sidecar") {
    val dir = Files.createTempDirectory("graft_localfs_perm")
    fs.create(hpath(dir.resolve("f"))).close()
    val expected = FsPermission.getFileDefault
      .applyUMask(FsPermission.getUMask(conf))
    assert(PosixFilePermissions.toString(
      Files.getPosixFilePermissions(dir.resolve("f"))) == expected.toString)
    assert(Files.exists(dir.resolve(".f.crc")))
  }

  test("a FileContext rename without OVERWRITE onto an existing file fails") {
    val dir = Files.createTempDirectory("graft_localfs_rename")
    val (src, dst) = (hpath(dir.resolve("src")), hpath(dir.resolve("dst")))
    Seq(src, dst).foreach(p =>
      fc.create(p, EnumSet.of(CreateFlag.CREATE)).close())
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    assert(Files.exists(dir.resolve("src")))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(dir.resolve("src")))
    assert(Files.exists(dir.resolve("dst")))
  }

  test("a real symlink still reports isSymlink; a plain file does not") {
    val dir = Files.createTempDirectory("graft_localfs_link")
    val target = Files.writeString(dir.resolve("target"), "x")
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    assert(fs.getFileLinkStatus(hpath(link)).isSymlink)
    assert(fc.getFileLinkStatus(hpath(link)).isSymlink)
    assert(!fs.getFileLinkStatus(hpath(target)).isSymlink)
    assert(!fc.getFileLinkStatus(hpath(target)).isSymlink)
  }

  test("a sticky-bit permission still applies") {
    val dir = Files.createTempDirectory("graft_localfs_sticky")
    val mode = Integer.parseInt("1777", 8)
    fs.setPermission(hpath(dir), new FsPermission(mode.toShort))
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff)
      == mode)
  }
}
