package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import scala.util.Try
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, FsConstants, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}
import graft.sinks.{ParquetSink, TtlLeaderboard}
import graft.streaming.{Fanout, Sources}

/** The fork-free `file:` filesystem: the same permission bits and link
  * statuses as Hadoop's `RawLocalFileSystem`, installed by `Conf.ensure`
  * in every session, and no `chmod`/`readlink` process on the fan-out's
  * write and checkpoint path. */
class ForkFreeLocalFsSpec extends SparkTestBase {
  import spark.implicits._

  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(FsConstants.LOCAL_FS_URI, new Configuration()); fs
  }
  private lazy val hadoop = init(new RawLocalFileSystem)
  private lazy val forkFree = init(new ForkFreeRawLocalFileSystem)

  test("setPermission: the same bits as RawLocalFileSystem on files and directories") {
    val tmp = Files.createTempDirectory("graft-perm")
    for (mode <- Seq("600", "644", "700", "755", "770", "777"); dir <- Seq(false, true)) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      val bits = Seq(hadoop -> "hadoop", forkFree -> "forkfree").map { case (fs, name) =>
        val p = tmp.resolve(s"$name-$mode-$dir")
        if (dir) Files.createDirectory(p) else Files.createFile(p)
        fs.setPermission(new Path(p.toString), perm)
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }
      assert(bits == Seq(perm.toString, perm.toString), s"mode $mode dir=$dir: (hadoop, fork-free)")
    }
    intercept[FileNotFoundException] {
      forkFree.setPermission(new Path(tmp.resolve("missing").toString), new FsPermission("644"))
    }
  }

  test("getFileLinkStatus: file, directory, symlink, dangling symlink and missing path as Hadoop") {
    val tmp = Files.createTempDirectory("graft-link")
    val file = Files.write(tmp.resolve("file"), "abc".getBytes)
    Files.createDirectory(tmp.resolve("dir"))
    Files.createSymbolicLink(tmp.resolve("link"), file)
    Files.createSymbolicLink(tmp.resolve("dangling"), tmp.resolve("gone"))
    // the status, or the exception class (a scheme-qualified dangling link
    // reads as a missing path in both)
    def view(fs: RawLocalFileSystem, p: Path) = Try(fs.getFileLinkStatus(p)).map { s =>
      (s.isSymlink, s.isDirectory, s.getLen, s.getPath, s.getModificationTime,
        if (s.isSymlink) Some(s.getSymlink) else None, s.getPermission, s.getOwner)
    }.toEither.left.map(_.getClass)
    for (name <- Seq("file", "dir", "link", "dangling", "missing");
         path <- Seq(tmp.resolve(name).toString, "file:" + tmp.resolve(name))) {
      val p = new Path(path)
      assert(view(forkFree, p) == view(hadoop, p), path)
    }
    val link = new Path(tmp.resolve("link").toString)
    assert(forkFree.getFileLinkStatus(link).isSymlink, "an unqualified path reads the link")
    assert(view(forkFree, new Path(tmp.resolve("dangling").toString)).exists(_._1),
      "an unqualified dangling link is a link")
    assert(forkFree.getLinkTarget(link) == hadoop.getLinkTarget(link))
    assert(forkFree.getLinkTarget(new Path(tmp.resolve("dangling").toString)) ==
      new Path(tmp.resolve("gone").toString))
  }

  test("Conf.ensure installs the fork-free FileSystem and FileContext, also in a second session") {
    def installed(s: SparkSession): Unit = {
      val conf = s.sessionState.newHadoopConf()
      assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[ForkFreeLocalFileSystem])
      assert(new Path("/tmp").getFileSystem(conf).isInstanceOf[ForkFreeLocalFileSystem])
      assert(FileContext.getFileContext(URI.create("file:///"), conf)
        .getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    }
    installed(spark)
    installed(Conf.ensure(spark.newSession()))
  }

  test("a parquet write and a checkpointed micro-batch start no chmod or readlink") {
    val tmp = Files.createTempDirectory("graft-nofork").toString
    val in = Files.createDirectories(Paths.get(s"$tmp/in"))
    Files.write(in.resolve("b1.json"), Seq(
      """{"after":{"id":1,"content_id":"c-1","user_id":"u","event_type":"play","event_ts":"2024-01-01 10:00:00","duration_ms":1000,"device":"web","raw_payload":"{}"},"op":"c"}"""
    ).asJava)
    val dim = Seq(("c-1", "podcast", Some(1800))).toDF("content_id", "content_type", "length_seconds")
    val lb = new TtlLeaderboard()
    val cfg = Fanout.Config(checkpointDir = s"$tmp/ckpt", analyticsDir = Some(s"$tmp/analytics"),
      leaderboard = Some(lb), triggerMs = 50L)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      ParquetSink.write(Fanout.enriched(spark.read.text(in.toString).toDF("json"), dim), s"$tmp/direct")
      val q = Fanout.start(Sources.fileJson(spark, in.toString), dim, cfg)
      try q.processAllAvailable() finally q.stop()
    } finally rec.stop()
    val dump = Paths.get(s"$tmp/process.jfr")
    rec.dump(dump); rec.close()
    val commands = RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    assert(lb.get("c-1") == 1L && spark.read.parquet(s"$tmp/analytics").count() == 1L,
      "the micro-batch ran")
    assert(Files.exists(Paths.get(s"$tmp/ckpt/commits/0")), "the micro-batch committed")
    val forks = commands.filter(c => c.contains("chmod") || c.contains("readlink"))
    assert(forks.size == 0, s"process starts: ${forks.take(3).mkString("; ")}")
  }
}
