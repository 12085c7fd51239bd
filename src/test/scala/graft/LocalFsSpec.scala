package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.etl.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem}
import graft.streaming.StreamParity

/** Marks the end of a recorded workload in a JFR stream. */
class LocalFsSpecMark extends jdk.jfr.Event

/** The shipped `core-site.xml` binds `file:` to the engine's fork-free
  * local file system: it must be the one every JVM resolves, start no
  * process for metadata, report exactly what Hadoop's own local file
  * system reports for the same files, and keep the `.crc` checksums. */
class LocalFsSpec extends SparkSuite {

  private val FileUri = URI.create("file:///")

  /** Hadoop's own local file system and file context, bypassing the
    * shipped registration. */
  private lazy val stockConf = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c
  }
  private lazy val stock = FileSystem.newInstance(FileUri, stockConf)
  private lazy val graftFs = FileSystem.newInstance(FileUri, new Configuration())

  private def tmpDir(): java.nio.file.Path = Files.createTempDirectory("graft_localfs")

  /** Every field a status carries (FileStatus.equals compares paths only). */
  private def fields(st: FileStatus): Seq[Any] =
    Seq(st.getPath, st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
      st.getGroup, st.isSymlink, if (st.isSymlink) st.getSymlink else null)

  private def outcome(st: => FileStatus): Either[String, Seq[Any]] =
    try Right(fields(st))
    catch { case e: FileNotFoundException => Left(e.getClass.getName) }

  test("file: resolves to the graft classes for FileSystem and FileContext") {
    val conf = new Configuration()
    assert(FileSystem.get(FileUri, conf).getClass == classOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass == classOf[GraftRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext.getDefaultFileSystem.getClass ==
      classOf[GraftLocalFs])
    val session = new Path("file:///tmp").getFileSystem(spark.sessionState.newHadoopConf())
    assert(session.getClass == classOf[GraftLocalFileSystem])
  }

  test("a stream replay, a parquet round trip and a located listing start no process from Hadoop's file system") {
    spark.range(1).count() // session and executors up before recording
    val dir = tmpDir()
    val control = dir.resolve("control")
    Files.createFile(control)
    val hadoopStarts = new ConcurrentLinkedQueue[String]()
    val marked = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[LocalFsSpecMark])
      rs.onEvent("jdk.ProcessStart", e => {
        val frames = e.getStackTrace.getFrames.asScala
        if (frames.exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.fs")))
          hadoopStarts.add(e.getString("command"))
      })
      rs.onEvent(classOf[LocalFsSpecMark].getName, _ => marked.countDown())
      rs.startAsync()
      // control: Hadoop's own local file system forks `chmod` here, so
      // the recording demonstrably sees such starts
      stock.setPermission(new Path(control.toString), new FsPermission(Integer.parseInt("600", 8).toShort))
      assert(StreamParity.streamHllParity(spark, sf).count() > 0)
      val out = dir.resolve("range.parquet").toString
      spark.range(0, 1000, 1, 4).write.parquet(out)
      assert(spark.read.parquet(out).count() == 1000)
      // a located listing copies each status's permission, owner and group
      val files = FileSystem.get(FileUri, new Configuration()).listFiles(new Path(out), true)
      var parts = 0
      while (files.hasNext) if (files.next().getPath.getName.startsWith("part-")) parts += 1
      assert(parts == 4)
      new LocalFsSpecMark().commit()
      assert(marked.await(60, TimeUnit.SECONDS), "the JFR stream never delivered the end mark")
    } finally rs.close()
    val starts = hadoopStarts.asScala.toSeq
    assert(starts.size == 1 && starts.head.contains("chmod") &&
      starts.head.contains(control.toString), starts)
  }

  test("setPermission leaves the modes Hadoop's own file system reports") {
    val dir = tmpDir()
    val file = new Path(Files.createFile(dir.resolve("f")).toString)
    val sub = new Path(Files.createDirectory(dir.resolve("d")).toString)
    for (p <- Seq(file, sub); mode <- Seq("644", "755", "700", "1777")) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      graftFs.setPermission(p, perm)
      val set = fields(stock.getFileStatus(p))
      assert(graftFs.getFileStatus(p).getPermission == perm, s"$p $mode")
      assert(fields(graftFs.getFileStatus(p)) == set, s"$p $mode")
      stock.setPermission(p, perm)
      assert(fields(graftFs.getFileStatus(p)) == set, s"$p $mode")
      if (p == file)
        assert(graftFs.listStatus(p).map(fields).toSeq == stock.listStatus(p).map(fields).toSeq)
    }
    assert(graftFs.listStatus(new Path(dir.toString)).map(fields).toSeq ==
      stock.listStatus(new Path(dir.toString)).map(fields).toSeq)
  }

  test("getFileLinkStatus matches Hadoop's on files, dirs, links and missing paths") {
    val dir = tmpDir()
    val file = Files.write(dir.resolve("f"), "x".getBytes(UTF_8))
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val missing = dir.resolve("missing")
    for {
      p <- Seq(file, sub, link, dangling, missing)
      path <- Seq(new Path(p.toString), new Path(p.toUri))
    } {
      val got = outcome(graftFs.getFileLinkStatus(path))
      assert(got == outcome(stock.getFileLinkStatus(path)), path)
      if (p == missing) assert(got.isLeft, path)
    }
    // the bare-path forms reach Hadoop's symlink branch
    assert(graftFs.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(graftFs.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    for (p <- Seq(dangling, missing))
      intercept[FileNotFoundException](graftFs.getFileStatus(new Path(p.toString)))
  }

  test("FileSystem.rename keeps the contract of the service-loaded file: system") {
    // without the shipped registration `file:` resolves through the
    // service loader (to Hive's ProxyLocalFileSystem when hive-exec is
    // on the classpath, as it is in Spark's distribution)
    val loadedConf = new Configuration()
    loadedConf.unset("fs.file.impl")
    val loaded = FileSystem.newInstance(FileUri, loadedConf)
    def renames(fs: FileSystem): Seq[(Boolean, Seq[String])] = {
      val dir = tmpDir()
      def p(name: String) = new Path(dir.resolve(name).toString)
      for (f <- Seq("a", "b", "c", "d/x")) {
        val out = fs.create(p(f))
        try out.write(f.getBytes(UTF_8)) finally out.close()
      }
      fs.mkdirs(p("e"))
      val results = Seq("a" -> "b", "b" -> "new", "c" -> "d", "e" -> "d")
        .map { case (from, to) => fs.rename(p(from), p(to)) }
      val tree = Files.walk(dir).iterator.asScala.map(dir.relativize(_).toString).toSeq.sorted
      results.map(_ -> tree)
    }
    val got = renames(graftFs)
    assert(got == renames(loaded), loaded.getClass)
    assert(!got.head._1, "a rename onto an existing file must return false")
  }

  test("FileContext.rename with OVERWRITE onto an existing file matches Hadoop's") {
    def renamed(fc: FileContext): (Seq[String], String) = {
      val dir = tmpDir()
      val src = new Path(dir.resolve("src").toString)
      val dst = new Path(dir.resolve("dst").toString)
      for ((p, body) <- Seq(src -> "new", dst -> "old")) {
        val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        try out.write(body.getBytes(UTF_8)) finally out.close()
      }
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val in = fc.open(dst)
      val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
      (Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSeq.sorted, body)
    }
    val got = renamed(FileContext.getLocalFSFileContext)
    assert(got == renamed(FileContext.getFileContext(FileUri, stockConf)))
    assert(got == (Seq(".dst.crc", "dst"), "new"))
  }

  test("checksums stay on: .crc side files are written and a flipped byte is caught") {
    val dir = tmpDir()
    val viaFs = new Path(dir.resolve("fs.bin").toString)
    val out = FileSystem.get(FileUri, new Configuration()).create(viaFs)
    try out.write(Array.fill[Byte](2048)(7)) finally out.close()
    assert(Files.isRegularFile(dir.resolve(".fs.bin.crc")))

    val fc = FileContext.getLocalFSFileContext
    val viaFc = new Path(dir.resolve("fc.bin").toString)
    val out2 = fc.create(viaFc, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    try out2.write(Array.fill[Byte](2048)(7)) finally out2.close()
    assert(Files.isRegularFile(dir.resolve(".fc.bin.crc")))
    val raf = new java.io.RandomAccessFile(dir.resolve("fc.bin").toFile, "rw")
    try { raf.seek(1000); raf.write(8) } finally raf.close()
    // ChecksumFs verifies through open(path, bufferSize) (FileContext's
    // one-argument open reads the raw file, in Hadoop's own LocalFs too)
    val in = fc.getDefaultFileSystem.open(viaFc, 4096)
    try intercept[ChecksumException](in.readFully(new Array[Byte](2048)))
    finally Try(in.close())
  }
}
