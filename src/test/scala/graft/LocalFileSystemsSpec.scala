package graft

import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.pipeline.SparkTestSession
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Pins the fork-free `file` filesystem to Hadoop's own local semantics
  * (modes, symlinks, no-overwrite renames), checks that the test session
  * runs on it, and checks that a sink write and a relay micro-batch
  * start no process at all.
  */
class LocalFileSystemsSpec extends AnyFunSuite {

  private val fileUri = URI.create("file:///")

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def init(fs: FileSystem, c: Configuration): FileSystem = {
    fs.initialize(fileUri, c)
    fs
  }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix)

  /** Every `jdk.ProcessStart` the JVM records while `body` runs. */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-process-starts", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
    } finally {
      rec.close()
      Files.delete(file)
    }
  }

  test("new files and directories get the shell path's modes under the umask") {
    def modes(fs: FileSystem): Seq[(String, Int)] = {
      val root = tmp("graft-fs-modes")
      def p(name: String) = new Path(root.resolve(name).toString)
      fs.mkdirs(p("d/e"))
      fs.mkdirs(p("x"), new FsPermission("751"))
      fs.create(p("f")).close()
      fs.create(p("g"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close()
      fs.create(p("s")).close()
      fs.setPermission(p("s"), new FsPermission("1777"))
      fs.create(p("z")).close()
      fs.setPermission(p("z"), new FsPermission("000"))
      fs.create(p("a")).close()
      fs.setPermission(p("a"), new FsPermission("777"))
      Seq("d", "d/e", "x", "f", "g", "s", "z", "a").map { n =>
        n -> (Files.getAttribute(root.resolve(n), "unix:mode").asInstanceOf[Int] & 0xfff)
      }
    }
    for (umask <- Seq("002", "022", "027", "077")) {
      val c = conf(umask)
      val ours = modes(init(new ForkFreeRawLocalFileSystem, c))
      assert(ours == modes(init(new RawLocalFileSystem, c)), s"umask $umask")
      if (umask == "027")
        assert(ours == Seq("d" -> 0x1e8, "d/e" -> 0x1e8, "x" -> 0x1e8, "f" -> 0x1a0,
          "g" -> 0x1a0, "s" -> 0x3ff, "z" -> 0, "a" -> 0x1ff), "0750 dirs, 0640 files, sticky kept")
    }
  }

  test("a symlink still resolves through getFileLinkStatus") {
    val root = tmp("graft-fs-link")
    val target = Files.write(root.resolve("target"), "abc".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(root.resolve("link"), target)
    val c = conf("022")
    val ours = init(new ForkFreeRawLocalFileSystem, c)
    val stock = init(new RawLocalFileSystem, c)
    val linkPath = new Path(link.toString)
    val st = ours.getFileLinkStatus(linkPath)
    assert(st.isSymlink)
    assert(st.getSymlink == ours.makeQualified(new Path(target.toString)))
    def view(fs: FileSystem, p: Path) = {
      val s = fs.getFileLinkStatus(p)
      (s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.getLen, s.isDirectory)
    }
    for (p <- Seq(linkPath, ours.makeQualified(linkPath), new Path(target.toString),
        new Path(root.toString)))
      assert(view(ours, p) == view(stock, p), p)
    Files.delete(target)
    assert(ours.getFileLinkStatus(linkPath).isSymlink, "a dangling link is still a link")
    intercept[java.io.FileNotFoundException](
      ours.getFileLinkStatus(new Path(root.resolve("missing").toString)))
  }

  test("FileContext create-then-rename without overwrite refuses to replace a file") {
    val c = conf("022")
    c.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
    val fc = FileContext.getFileContext(fileUri, c)
    assert(fc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    val root = tmp("graft-fs-rename")
    def write(name: String, body: String): Path = {
      val p = new Path(root.resolve(name).toString)
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(body.getBytes("UTF-8")) finally out.close()
      p
    }
    def read(p: Path): String = {
      val in = fc.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val dst = write("dst", "old")
    val src = write("src", "new")
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    assert(read(dst) == "old" && fc.util.exists(src))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(read(dst) == "new" && !fc.util.exists(src))
  }

  test("the session's file FileSystem and AbstractFileSystem are the fork-free classes") {
    val hc = SparkTestSession.spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.file.impl") == classOf[ForkFreeLocalFileSystem].getName)
    assert(hc.get("fs.AbstractFileSystem.file.impl") == classOf[ForkFreeLocalFs].getName)
    val fs = FileSystem.newInstance(fileUri, hc)
    try {
      assert(fs.isInstanceOf[ForkFreeLocalFileSystem])
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    } finally fs.close()
    assert(FileContext.getFileContext(fileUri, hc).getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
  }

  test("a parquet BatchSink write and one ingestRelay micro-batch start no process") {
    assert(processStarts(new ProcessBuilder("true").start().waitFor()).size == 1,
      "the recording must see a process start")
    val spark = SparkTestSession.spark
    import spark.implicits._
    val root = tmp("graft-fs-nofork").toString
    val docs = Seq(
      (1L, "srcA", "en", 51L, ("alpha beta gamma " * 3).trim),
      (2L, "srcB", "en", 8L, "tiny doc")
    ).toDF("doc_id", "source", "lang", "n_chars", "text")
    docs.write.parquet(root + "/in")
    val starts = processStarts {
      BatchSink.writeBatch(docs, 0L, root + "/sink", full = false)
      graft.streaming.EventStreams.ingestRelay(spark, root + "/in", root + "/points",
        root + "/checkpoint", trigger = Some(Trigger.AvailableNow())).awaitTermination()
    }
    assert(spark.read.parquet(root + "/sink").count() == 2)
    assert(spark.read.parquet(root + "/points").count() == 2)
    assert(starts.isEmpty, starts.map(_.getString("command")).mkString("; "))
  }
}
