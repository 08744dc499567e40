package graft

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{GramCatalog, LandedCatalog}
import graft.streaming.EventStream

/** The fingerprinted landing policy ([[Shared.landOnce]]): land once
  * per (prefix, scale dir, content fingerprint), write the marker
  * last, and sweep only aged siblings of the same prefix and scale
  * dir. Every case runs on private copies of sf0.001's tables, so a
  * simulated testdata regen never touches the shared fixtures.
  */
class LandingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val fixtures = "/root/testdata/sf0.001"

  /** A scale dir `name` under `parent` holding copies of `tables`. */
  private def scaleDir(parent: File, name: String, tables: String*): String = {
    val d = new File(parent, name)
    d.mkdirs()
    tables.foreach(t => Files.copy(Paths.get(fixtures, s"$t.parquet"),
      Paths.get(d.getPath, s"$t.parquet")))
    d.getPath
  }

  /** A testdata regen: every table is rewritten, so its mtime moves. */
  private var regens = 0
  private def regen(dir: String): Unit = {
    regens += 1
    new File(dir).listFiles().foreach(
      _.setLastModified(System.currentTimeMillis() + regens * 2000L))
  }

  /** Age every file and directory under `p` past the sweep's guard. */
  private def age(p: String): Unit = {
    val old = System.currentTimeMillis() - 3L * 3600 * 1000
    def walk(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(walk))
      f.setLastModified(old)
    }
    walk(new File(p))
  }

  private def exists(p: String): Boolean = new File(p).exists()

  private def deleteTree(p: String): Unit = {
    def walk(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(walk))
      f.delete()
    }
    walk(new File(p))
  }

  test("landOnce runs its body once, and a landing without its marker lands again") {
    val base = Files.createTempDirectory("landing").toFile
    val d = scaleDir(base, "sfA", "events")
    var runs = 0
    def land(): String = Shared.landOnce(spark, d, "spec_land_once") { p =>
      runs += 1
      assert(!exists(p), "the body must start from a cleared path")
      new File(p).mkdirs()
      Files.write(Paths.get(p, "part"), Array[Byte](1))
    }
    val first = land()
    var second = first
    try {
      assert(land() === first && runs === 1, "a landed path ran its body again")
      assert(exists(s"$first/_LANDED") && exists(s"$first/part"))
      // a crash between the body and the marker leaves no marker
      new File(s"$first/_LANDED").delete()
      assert(land() === first && runs === 2, "an unmarked landing was served as complete")
      regen(d)
      second = land()
      assert(second != first && runs === 3, "a new fingerprint did not land fresh")
      assert(exists(first), "a fresh sibling was swept")
    } finally Seq(first, second, base.getPath).foreach(deleteTree)
  }

  test("a replay source re-lands on a new fingerprint; a fresh sibling survives, an aged one is pruned") {
    val base = Files.createTempDirectory("landing").toFile
    val d = scaleDir(base, "sfR", "events")
    val rows = Tables.events(spark, d).count()
    val (a, _) = EventStream.replaySrcDir(spark, d)
    regen(d)
    val (b, _) = EventStream.replaySrcDir(spark, d)
    try {
      assert(b !== a, "the regen did not change the landing")
      assert(spark.read.parquet(b).count() === rows)
      // another process may still be replaying `a`
      assert(exists(a), "a just-landed sibling was pruned")
      age(a)
      regen(d)
      val (c, _) = EventStream.replaySrcDir(spark, d)
      assert(!exists(a), "an aged sibling survived the new landing")
      assert(exists(b) && exists(c))
      deleteTree(c)
    } finally Seq(a, b, base.getPath).foreach(deleteTree)
  }

  test("a landing of /x/sf1 never prunes the landings of /x/sf1_skew") {
    val base = Files.createTempDirectory("landing").toFile
    val sf1 = scaleDir(base, "sf1", "events")
    val skew = scaleDir(base, "sf1_skew", "events")
    val (s, _) = EventStream.replaySrcDir(spark, skew)
    age(s)
    val (p, _) = EventStream.replaySrcDir(spark, sf1)
    try assert(exists(s), "another scale dir's landing was pruned")
    finally Seq(s, p, base.getPath).foreach(deleteTree)
  }

  test("after a testdata regen only one spans catalog remains once the old one is aged") {
    val base = Files.createTempDirectory("landing").toFile
    val d = scaleDir(base, "sfS", "documents")
    val catBase = new File(LandedCatalog.defaultBase(GramCatalog.Tag))
    // the temp dir's name is alphanumeric, so it survives in the name
    def roots: Seq[String] = Option(catBase.listFiles()).toSeq.flatten.map(_.getName)
      .filter(n => n.startsWith(s"${GramCatalog.Tag}_spans_") && n.contains(base.getName))
    def spans() = SparkEntry.queries("tx_dup_spans_incr")(spark, d).collect().toSeq
    val want = spans()
    val Seq(old) = roots
    try {
      age(new File(catBase, old).getPath)
      regen(d)
      assert(spans() === want, "the fresh landing changed the result")
      assert(roots.size === 1 && roots.head != old,
        s"stale spans catalogs were stranded: $roots")
      assert(spark.sessionState.catalog.listTables("default", s"${old}_*").isEmpty,
        "the pruned catalog's table entries survived")
    } finally {
      roots.foreach { n =>
        spark.sessionState.catalog.listTables("default", s"${n}_*")
          .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.table}"))
        deleteTree(new File(catBase, n).getPath)
      }
      deleteTree(base.getPath)
    }
  }

  test("src/main computes a source fingerprint only inside the landing helper") {
    val allowed = Map("graft/Shared.scala" -> 2)
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    def scalaFiles(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val calls = """srcFingerprint\(""".r
    val found = scalaFiles(root).map { f =>
      val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
      val n = try src.getLines().map(l => calls.findAllIn(l).size).sum finally src.close()
      root.toPath.relativize(f.toPath).toString -> n
    }.filter(_._2 > 0).toMap
    assert(found === allowed)
  }
}
