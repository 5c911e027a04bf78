package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

/** [[NioRawLocalFileSystem]] against stock Hadoop: the same permissions,
  * link statuses and rename errors, and no `chmod`/`readlink` process
  * started by the engine's writes. */
class LocalFsSpec extends SparkSpec {

  private def sessionConf = spark.sparkContext.hadoopConfiguration

  private def withUmask(umask: String): Configuration = {
    val c = new Configuration(sessionConf)
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def init(fs: FileSystem, c: Configuration): FileSystem = {
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  private def stockContext(c: Configuration): FileContext = {
    val s = new Configuration(c)
    s.set("fs.AbstractFileSystem.file.impl",
      "org.apache.hadoop.fs.local.LocalFs")
    FileContext.getLocalFSFileContext(s)
  }

  /** Permission bits, sticky bit included. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer] & 0x0fff

  test("create, mkdirs and setPermission leave the stock permission bits") {
    for (umask <- Seq(sessionConf.get("fs.permissions.umask-mode", "022"),
                      "027", "077")) {
      val c = withUmask(umask)
      def modes(fs: FileSystem): Map[String, Int] = {
        val root = Files.createTempDirectory("graft-perm")
        val r = new Path(root.toUri)
        fs.create(new Path(r, "plain/f")).close() // parent made by create
        fs.create(new Path(r, "f640"), new FsPermission("640"), false,
          4096, 1.toShort, 1L << 20, null).close()
        fs.mkdirs(new Path(r, "a/b/c"))
        fs.mkdirs(new Path(r, "d750"), new FsPermission("750"))
        fs.mkdirs(new Path(r, "sticky"))
        fs.setPermission(new Path(r, "sticky"), new FsPermission("1777"))
        fs.create(new Path(r, "chmod")).close()
        fs.setPermission(new Path(r, "chmod"), new FsPermission("604"))
        Files.walk(root).iterator().asScala.filter(_ != root)
          .map(p => root.relativize(p).toString -> mode(p)).toMap
      }
      val stock = modes(init(new LocalFileSystem(), c))
      val nio = modes(init(new NioLocalFileSystem(), c))
      assert(stock.keySet.exists(_.endsWith(".crc"))) // checksummed view
      assert(nio === stock, s"umask $umask")
      assert(nio("sticky") === Integer.parseInt("1777", 8))
    }
  }

  test("getFileLinkStatus matches stock on files, dirs, links and misses") {
    val root = Files.createTempDirectory("graft-links")
    Files.write(root.resolve("f"), "12345".getBytes(UTF_8))
    Files.createDirectory(root.resolve("d"))
    Files.createSymbolicLink(root.resolve("ln"), root.resolve("f"))
    Files.createSymbolicLink(root.resolve("dl"), root.resolve("nowhere"))
    // stock resolves a qualified dangling link to FileNotFoundException:
    // compare the outcome, thrown class included
    def view(s: => FileStatus) = scala.util.Try(s)
      .map(s => (s.isSymlink, if (s.isSymlink) s.getSymlink.toString else "",
        s.getLen, s.isDirectory))
      .toEither.left.map(_.getClass.getName)
    val stock = init(new org.apache.hadoop.fs.RawLocalFileSystem, sessionConf)
    val nio = init(new NioRawLocalFileSystem, sessionConf)
    val fcStock = stockContext(sessionConf)
    val fcNio = FileContext.getLocalFSFileContext(sessionConf)
    val names = Seq("f", "d", "ln", "dl")
    // both the qualified (file:/...) and the bare form of each path
    val paths = names.flatMap { n =>
      Seq(new Path(root.resolve(n).toUri), new Path(root.resolve(n).toString))
    }
    for (p <- paths) {
      assert(view(nio.getFileLinkStatus(p)) === view(stock.getFileLinkStatus(p)),
        p.toString)
      assert(view(fcNio.getFileLinkStatus(p)) ===
        view(fcStock.getFileLinkStatus(p)), p.toString)
    }
    // a real link must still read as one through the raw file system
    assert(nio.getFileLinkStatus(new Path(root.resolve("dl").toString)).isSymlink)
    val missing = new Path(root.resolve("missing").toUri)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
    intercept[FileNotFoundException](fcStock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](fcNio.getFileLinkStatus(missing))
  }

  test("FileContext.rename onto an existing path needs OVERWRITE, as stock") {
    for (fc <- Seq(stockContext(sessionConf),
                   FileContext.getLocalFSFileContext(sessionConf))) {
      val root = Files.createTempDirectory("graft-rename")
      Files.write(root.resolve("src"), "new".getBytes(UTF_8))
      Files.write(root.resolve("dst"), "old".getBytes(UTF_8))
      val src = new Path(root.resolve("src").toUri)
      val dst = new Path(root.resolve("dst").toUri)
      intercept[FileAlreadyExistsException](fc.rename(src, dst))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(new String(Files.readAllBytes(root.resolve("dst")), UTF_8) === "new")
      assert(!Files.exists(root.resolve("src")))
    }
  }

  test("appends, snapshot overwrites and a drain start no chmod or readlink") {
    import spark.implicits._
    // Hadoop caches one FileSystem per scheme: a default instance cached
    // before the session would serve every write, so check what it serves
    assert(FileSystem.get(URI.create("file:///"), sessionConf).getClass ===
      classOf[NioLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(sessionConf).getDefaultFileSystem
      .getClass === classOf[NioLocalFs])
    val root = Files.createTempDirectory("graft-forks")
    val inbox = root.resolve("inbox")
    Files.createDirectories(inbox)
    DeclarationZipFixture.corpus(inbox)
    def drain(): Unit = Sinks.drainDeclarations(spark, inbox.toString,
      s"$root/out", s"$root/archive", s"$root/ckpt").awaitTermination()

    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      new ProcessBuilder("true").start().waitFor() // the recording sees forks
      Sinks.append(Seq((1L, "a")).toDF("k", "v"), s"$root/history")
      Sinks.snapshotOverwrite(spark, Seq(1).toDF("v"), s"$root/kb", s"$root/bk")
      Sinks.snapshotOverwrite(spark, Seq(2).toDF("v"), s"$root/kb", s"$root/bk")
      drain()
      // the next batch archives the first one's inputs
      Files.copy(inbox.resolve("DA250401EX.zip"), inbox.resolve("DC250403EX.zip"))
      drain()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def archived = Files.walk(root.resolve("archive")).iterator().asScala
        .count(Files.isRegularFile(_))
      while (!(Files.exists(root.resolve("archive")) && archived == 2) &&
        System.nanoTime() < deadline) Thread.sleep(100)
      assert(archived === 2)
    } finally rec.stop()
    val dump = root.resolve("forks.jfr")
    rec.dump(dump)
    rec.close()
    val commands = RecordingFile.readAllEvents(dump).asScala
      .map(_.getString("command").trim).toSeq
    def program(cmd: String) =
      Paths.get(cmd.split("\\s+").head).getFileName.toString
    assert(commands.map(program).contains("true"), commands)
    val forks = commands.filter(c => Set("chmod", "readlink")(program(c)))
    if (forks.nonEmpty)
      fail(s"${forks.size} forks, e.g. ${forks.take(3).mkString("; ")}")
  }
}
