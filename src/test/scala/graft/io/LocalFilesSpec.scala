package graft.io

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Path => NPath}
import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{SparkTestSession, Tables}
import graft.streaming.Replay

/** graft's `file:` filesystem ([[NioLocalFileSystem]], [[NioLocalFs]]):
  * a configured session uses it, the reads, writes and replays of a query
  * fork no process through Hadoop's `Shell`, and what it creates and
  * reports equals what Hadoop's own `LocalFileSystem` does on the same
  * conf and umask: file modes (a sticky bit and an inherited set-group-id
  * bit among them), link status and the errors on a missing path. */
class LocalFilesSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private def tmpDir(): NPath = Files.createTempDirectory("graft_localfilesspec_")

  private def conf: Configuration = spark.sparkContext.hadoopConfiguration

  /** Hadoop's own checksummed local filesystem and graft's, on `conf`. */
  private def both(): Seq[(String, LocalFileSystem)] = {
    val stock = new LocalFileSystem
    val nio = new NioLocalFileSystem
    Seq(stock, nio).foreach(_.initialize(URI.create("file:///"), conf))
    Seq("stock" -> stock, "nio" -> nio)
  }

  /** The command lines of the processes Hadoop's `Shell` starts while
    * `body` runs, seen by an in-process JFR stream. A marker process
    * started after `body` shows that the stream has caught up. */
  private def shellLaunches(body: => Unit): Seq[String] = {
    val marker = s"graft-localfilesspec-${UUID.randomUUID()}"
    val launches = new ConcurrentLinkedQueue[String]
    val caughtUp = new CountDownLatch(1)
    val rs = new RecordingStream
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.onEvent("jdk.ProcessStart", e => {
        val command = e.getString("command")
        val frames = Option(e.getStackTrace).map(_.getFrames.asScala).getOrElse(Nil)
        if (command.contains(marker)) caughtUp.countDown()
        else if (frames.exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell")))
          launches.add(command): Unit
      })
      rs.startAsync()
      body
      new ProcessBuilder("true", marker).start().waitFor()
      caughtUp.await(60, TimeUnit.SECONDS) shouldBe true
      launches.asScala.toList
    } finally rs.close()
  }

  test("a configured session's file: filesystems are graft's") {
    // the FileSystem cache is keyed by scheme and user, not by conf: a
    // `file:` filesystem made before the session's conf applied would win
    FileSystem.get(URI.create("file:///"), conf) shouldBe a[NioLocalFileSystem]
    AbstractFileSystem.get(URI.create("file:///"), conf) shouldBe a[NioLocalFs]
  }

  test("a table read, a parquet write and read, and a replay fork no process through Hadoop's Shell") {
    val s = spark
    import s.implicits._
    val dir = tmpDir().toString
    s.range(0, 400, 1, 4).toDF("id").write.parquet(s"$dir/t.parquet") // 4 files
    def queries(): Unit = {
      Tables.table(s, dir, "t").count() shouldBe 400
      val out = s"$dir/w_${UUID.randomUUID()}.parquet"
      Seq((1L, "a"), (2L, "b")).toDF("id", "k").write.parquet(out)
      s.read.parquet(out).count() shouldBe 2
      Replay.run(s, "graft_localfilesspec_", "append", Seq((1L, 2.0)).toDF("id", "v"))(
        identity).count() shouldBe 1
    }
    queries() // loads every class once (Shell's class init probes `setsid`)
    shellLaunches(queries()) shouldBe empty
  }

  test("files and directories get the same modes as through Hadoop's LocalFileSystem") {
    // each mode with its type and set-id and sticky bits; under a plain
    // root and under a set-group-id one (its new directories inherit the
    // bit, and Hadoop's `chmod 0755` keeps it)
    def modes(root: NPath): Map[String, Int] = {
      val walk = Files.walk(root)
      try walk.iterator().asScala.map { p =>
        root.relativize(p).toString -> Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
      }.toMap finally walk.close()
    }
    for (rootMode <- Seq("755", "2755")) {
      val dir = tmpDir()
      val made = both().map { case (name, fs) =>
        val root = new Path(dir.resolve(name).toUri)
        fs.mkdirs(root) shouldBe true
        Files.setAttribute(dir.resolve(name), "unix:mode", Integer.parseInt(rootMode, 8))
        fs.mkdirs(new Path(root, "a/b")) shouldBe true
        fs.mkdirs(new Path(root, "c"), new FsPermission("700")) shouldBe true
        fs.mkdirs(new Path(root, "s")) shouldBe true
        fs.create(new Path(root, "a/f")).close()
        fs.create(new Path(root, "c/g"), new FsPermission("640"), false, 4096, 1.toShort,
          1L << 20, null).close()
        fs.setPermission(new Path(root, "a/f"), new FsPermission("604"))
        fs.setPermission(new Path(root, "s"), new FsPermission(Integer.parseInt("1777", 8).toShort))
        name -> modes(dir.resolve(name))
      }.toMap
      made("stock").keySet should contain allOf ("a/b", "a/f", "a/.f.crc", "c/g", "c/.g.crc")
      val setGid = if (rootMode == "2755") Integer.parseInt("2000", 8) else 0
      made("stock")("a/b") & setGid shouldBe setGid
      made("stock")("s") shouldBe (Integer.parseInt("41777", 8) | setGid) // a directory, rwxrwxrwt
      made("nio") shouldBe made("stock")
    }
  }

  test("getFileLinkStatus agrees with Hadoop's on a symlink, a file and a missing path") {
    val dir = tmpDir()
    val target = Files.write(dir.resolve("target"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    // unqualified paths: Hadoop reads the link of `new File(path.toString)`
    val seen = both().map { case (name, fs) =>
      val l = fs.getFileLinkStatus(new Path(link.toString))
      val f = fs.getFileLinkStatus(new Path(target.toString))
      name -> (l.isSymlink, l.getSymlink, f.isSymlink, f.getLen, f.getPath)
    }.toMap
    seen("stock")._1 shouldBe true
    seen("stock")._2.toUri.getPath shouldBe target.toString
    seen("nio") shouldBe seen("stock")

    for ((_, fs) <- both()) {
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(dir.resolve("none").toString)))
      intercept[FileNotFoundException](fs.getFileStatus(new Path(dir.resolve("none").toString)))
    }
    val errors = both().map { case (_, fs) =>
      intercept[IOException](fs.setPermission(new Path(dir.resolve("none").toString),
        new FsPermission("644"))).getClass
    }
    errors.distinct should have size 1
  }
}
