package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.graft.SessionClone
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]] must be Hadoop's local filesystem with the forks taken
  * out: the same permissions, the same link statuses, and the same
  * stream-gate answers as the stock classes it replaces.
  */
class LocalFsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  /** [[LocalFs.Conf]] as plain Hadoop keys. */
  private val hadoopKeys: Seq[(String, String)] =
    LocalFs.Conf.toSeq.map { case (k, v) => k.stripPrefix("spark.hadoop.") -> v }

  private def init(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private def stock() = init(new RawLocalFileSystem)
  private def noFork() = init(new LocalFs.RawFileSystem)

  private def perms(p: JPath): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("setPermission leaves the stock permissions for all 512 rwx modes") {
    val base = Files.createTempDirectory("localfs_perm")
    val (a, b) = (Files.createFile(base.resolve("a")), Files.createFile(base.resolve("b")))
    val (s, n) = (stock(), noFork())
    for (mode <- 0 until 512) {
      val p = new FsPermission(mode.toShort)
      s.setPermission(new Path(a.toString), p)
      n.setPermission(new Path(b.toString), p)
      assert(perms(b) === perms(a), f"mode $mode%03o")
    }
  }

  test("a sticky-bit mode falls back to the stock path") {
    val base = Files.createTempDirectory("localfs_sticky")
    val (a, b) = (Files.createDirectory(base.resolve("a")), Files.createDirectory(base.resolve("b")))
    val (s, n) = (stock(), noFork())
    val p = new FsPermission(Integer.parseInt("1753", 8).toShort)
    s.setPermission(new Path(a.toString), p)
    n.setPermission(new Path(b.toString), p)
    assert(perms(b) === perms(a))
    assert(s.getFileStatus(new Path(b.toString)).getPermission ===
      s.getFileStatus(new Path(a.toString)).getPermission)
    assert(s.getFileStatus(new Path(b.toString)).getPermission.getStickyBit)
  }

  test("getFileLinkStatus agrees with the stock class on files, dirs, links and missing paths") {
    val base = Files.createTempDirectory("localfs_link")
    val file = Files.write(base.resolve("file"), "abc".getBytes)
    val sub = Files.createDirectory(base.resolve("dir"))
    val link = Files.createSymbolicLink(base.resolve("link"), file)
    val dangling = Files.createSymbolicLink(base.resolve("dangling"), base.resolve("gone"))
    val missing = base.resolve("missing")
    val (s, n) = (stock(), noFork())
    def view(st: FileStatus) = (st.getPath, st.getLen, st.isDirectory, st.isSymlink,
      if (st.isSymlink) Some(st.getSymlink) else None, st.getModificationTime,
      st.getPermission, st.getOwner, st.getGroup)
    def status(fs: RawLocalFileSystem, p: Path): Either[Class[_], Any] =
      try Right(view(fs.getFileLinkStatus(p)))
      catch { case e: java.io.IOException => Left(e.getClass) }
    for (p <- Seq(file, sub, link, dangling, missing);
         hp <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(status(n, hp) === status(s, hp), hp)
    }
    assert(status(n, new Path(missing.toString)) === Left(classOf[FileNotFoundException]))
  }

  test("FileContext and FileSystem resolve file: to LocalFs under GraftSession's keys") {
    val conf = new Configuration()
    hadoopKeys.foreach { case (k, v) => conf.set(k, v) }
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass === classOf[LocalFs.Fs])
    // newInstance, not get: the FileSystem cache is JVM-wide
    val fs = FileSystem.newInstance(URI.create("file:///"), conf)
    try {
      assert(fs.getClass === classOf[LocalFs.FileSystem])
      assert(fs.asInstanceOf[LocalFs.FileSystem].getRaw.getClass === classOf[LocalFs.RawFileSystem])
    } finally fs.close()
    // a create through FileContext still writes its .crc sidecar
    val d = Files.createTempDirectory("localfs_fc")
    val out = FileContext.getFileContext(conf).create(new Path(d.resolve("x").toString),
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    out.write("hello".getBytes)
    out.close()
    assert(Files.exists(d.resolve(".x.crc")))
  }

  test("stream gates on a LocalFs session clone equal the stock session's rows") {
    def rows(s: SparkSession, gate: String): Seq[Row] =
      try SparkEntry.queries(gate)(s, dir).collect().toSeq
      finally { Shared.releaseAll(s); s.catalog.clearCache() }
    for (gate <- Seq("ig_stream_windows", "ig_stream_ingest")) {
      val got = SessionClone.withConf(spark, hadoopKeys: _*) { s =>
        val fc = FileContext.getFileContext(s.sessionState.newHadoopConf())
        assert(fc.getDefaultFileSystem.getClass === classOf[LocalFs.Fs])
        rows(s, gate)
      }
      val want = rows(spark, gate)
      assert(got.nonEmpty, gate)
      assert(got === want, gate)
      if (gate == "ig_stream_ingest")
        assert(got.forall(_.getAs[Long]("second_run_added") == 0L))
    }
  }

  test("every SparkSession.builder() in src/main applies LocalFs.Conf") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    def scalaFiles(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    // a builder chain: the `SparkSession.builder()` line and the lines
    // after it that continue the call with `.` (comments skipped)
    val chains = scalaFiles(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
      val lines = try src.getLines().toVector finally src.close()
      lines.indices.filter(i => lines(i).contains("SparkSession.builder()")).map { i =>
        val rest = lines.drop(i + 1).map(_.trim).filterNot(_.startsWith("//"))
          .takeWhile(_.startsWith("."))
        root.toPath.relativize(f.toPath).toString -> (lines(i) +: rest).mkString("\n")
      }
    }
    assert(chains.map(_._1).contains("graft/GraftSession.scala"), "the scan found no builder")
    chains.foreach { case (f, chain) =>
      assert(chain.contains(".config(LocalFs.Conf)"), s"$f builds a session without LocalFs.Conf")
    }
  }
}
