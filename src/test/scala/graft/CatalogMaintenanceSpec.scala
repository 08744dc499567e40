package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{DedupCatalog, GramCatalog, LandedCatalog, SemCatalog,
  SigCatalog, VecCatalog}

/** Catalog maintenance lifecycle: compaction must be a pure LAYOUT
  * change (screen verdicts identical, partition/file count drops),
  * retention must actually forget state, floors must reject replays of
  * folded/expired batches, an interrupted operation must complete from
  * its marker on reattach, and the persisted bucket count must win
  * over a mismatched re-register parameter. The two reattach
  * properties run over all five catalog kinds, since they share one
  * lifecycle ([[graft.plans.LandedCatalog]]).
  */
class CatalogMaintenanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def docs = Tables.documents(spark, dir).select("doc_id", "text")

  private def evens(lo: Int, hi: Int) =
    docs.filter(col("doc_id") % 2 === 0 && col("doc_id") >= lo && col("doc_id") < hi)

  /** Odd docs planted as near-dups of their even twins (the standard
    * fixture shape): twins of docs across the landing AND the appended
    * ranges, so verdict equality spans every folded partition.
    */
  private def probe = {
    val twin = docs.select((col("doc_id") + 1).as("doc_id"), col("text").as("h_text"))
    docs.filter(col("doc_id") % 2 === 1)
      .join(twin, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 3, concat(col("h_text"), lit(" zz")))
          .otherwise(col("text")).as("text"))
  }

  private def ingestDirs(root: String, sfx: String): Seq[String] = {
    val p = new Path(s"$root/$sfx")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("ingest_id="))
  }

  private def emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")

  private def vevens(lo: Int, hi: Int) =
    emb.filter(col("vec_id") % 2 === 0 && col("vec_id") >= lo && col("vec_id") < hi)

  /** Vector twin of [[probe]]: odd ids, every ≡ 3 (mod 7) carrying its
    * even predecessor's embedding.
    */
  private def vprobe = {
    val twin = emb.select((col("vec_id") + 1).as("vec_id"), col("embedding").as("h_emb"))
    emb.filter(col("vec_id") % 2 === 1)
      .join(twin, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("vec_id") % 7 === 3, col("h_emb"))
          .otherwise(col("embedding")).as("embedding"))
  }

  /** SigCatalogSpec's fixture: dHash signatures, odd ids with ≡ 1
    * (mod 10) docs one bit off their even predecessor.
    */
  private def sigs = graft.operators.Multimodal.dhashSignatures(spark, dir)

  private def sigProbe = {
    val twin = sigs.select((col("doc_id") + 1).as("doc_id"), col("sh").as("h_sh"))
    sigs.filter(col("doc_id") % 2 === 1)
      .join(twin, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 1 && col("h_sh").isNotNull,
          col("h_sh").bitwiseXOR(lit(1L)))
          .otherwise(col("sh")).as("sh"))
  }

  /** One catalog kind on the shared lifecycle, over its own spec
    * fixture: a landing (built with the given bucket count), two
    * appended batches (ingest ids 1 and 2), and the verdicts of a probe
    * screened against the whole history.
    */
  private case class Kind(label: String,
      land: (String, Int) => LandedCatalog.Handle,
      append: (LandedCatalog.Handle, Long) => Unit,
      verdicts: LandedCatalog.Handle => Seq[String])

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val r = df.collect().toSeq.map(_.toString)
    Shared.releaseAll(spark)
    r
  }

  private val kinds = Seq(
    Kind("dedup",
      (n, nb) => DedupCatalog.land(spark, evens(0, 300), n, nBuckets = nb),
      (c, id) => DedupCatalog.append(spark, evens(100 * id.toInt + 200,
        100 * id.toInt + 300), c, id),
      c => rows(DedupCatalog.screen(spark, probe, c))),
    Kind("sig",
      (n, nb) => SigCatalog.land(spark, sigs.filter(col("doc_id") % 6 === 0), n,
        nBuckets = nb),
      (c, id) => SigCatalog.append(spark,
        sigs.filter(col("doc_id") % 6 === 2 * id), c, id),
      c => rows(SigCatalog.screen(spark, sigProbe, c))),
    Kind("vec",
      (n, nb) => VecCatalog.land(spark, vevens(0, 300), n, nBuckets = nb),
      (c, id) => VecCatalog.append(spark, vevens(100 * id.toInt + 200,
        100 * id.toInt + 300), c, id),
      c => rows(VecCatalog.screen(spark, vprobe, c))),
    Kind("sem",
      (n, nb) => SemCatalog.land(spark, emb.filter(col("vec_id") % 6 === 0), n,
        nBuckets = nb),
      (c, id) => SemCatalog.append(spark,
        emb.filter(col("vec_id") % 6 === 2 * id), c, id),
      c => rows(SemCatalog.screen(spark, vprobe, c))),
    Kind("gram",
      (n, nb) => GramCatalog.land(spark, docs.filter(col("doc_id") < 100), n,
        nBuckets = nb),
      (c, id) => GramCatalog.append(spark, docs.filter(
        col("doc_id") >= 75 * id + 25 && col("doc_id") < 75 * id + 100), c, id),
      c => rows(GramCatalog.screen(spark, docs.filter(col("doc_id") >= 250), c)
        .orderBy("doc_id", "span_start"))))

  test("compact folds partitions without changing screen verdicts; floors reject replays") {
    val cat = DedupCatalog.land(spark, evens(0, 300), "maint_compact")
    try {
      DedupCatalog.append(spark, evens(300, 400), cat, ingestId = 1)
      DedupCatalog.append(spark, evens(400, 500), cat, ingestId = 2)
      val before = DedupCatalog.screen(spark, probe, cat).collect().toSeq
      Shared.releaseAll(spark)
      assert(before.nonEmpty, "no planted verdicts before compaction")
      assert(ingestDirs(cat.root, "bands").size === 3)

      LandedCatalog.compact(spark, cat, upToIngestId = 2)
      val after = DedupCatalog.screen(spark, probe, cat).collect().toSeq
      Shared.releaseAll(spark)
      assert(after.map(_.toString) === before.map(_.toString),
        "compaction changed screen verdicts")
      assert(ingestDirs(cat.root, "bands") === Seq("ingest_id=0"),
        s"bands partitions not folded: ${ingestDirs(cat.root, "bands")}")
      assert(ingestDirs(cat.root, "shingles") === Seq("ingest_id=0"))
      assert(LandedCatalog.floor(spark, cat) === 2L)

      // replay of a compacted-away batch id must be rejected — its rows
      // already live in partition 0
      intercept[IllegalArgumentException] {
        DedupCatalog.append(spark, evens(300, 400), cat, ingestId = 1)
      }
      // a screen bound below the floor can no longer be honored
      intercept[IllegalArgumentException] {
        DedupCatalog.screen(spark, probe, cat, maxIngestId = Some(1L))
      }
      // re-compacting at or below the floor is a no-op (gate re-runs)
      LandedCatalog.compact(spark, cat, upToIngestId = 2)
      // the ingest loop continues above the floor; the new batch is
      // content-disjoint (unique md5 tokens) so verdicts are unchanged
      DedupCatalog.append(spark, evens(300, 400)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat_ws(" ", (1 to 6).map(i =>
            md5(concat(col("doc_id"), lit(s"|u$i")))): _*).as("text")),
        cat, ingestId = 3)
      val cont = DedupCatalog.screen(spark, probe, cat, maxIngestId = Some(3L))
        .collect().toSeq
      Shared.releaseAll(spark)
      assert(cont.map(_.toString) === before.map(_.toString),
        "post-compaction append broke the screen")
    } finally LandedCatalog.drop(spark, cat)
  }

  test("expire forgets aged state and blocks resurrection") {
    val cat = DedupCatalog.land(spark, evens(0, 100), "maint_expire")
    try {
      DedupCatalog.append(spark, evens(100, 300), cat, ingestId = 1)
      val before = DedupCatalog.screen(spark, probe, cat).collect().toSeq
      Shared.releaseAll(spark)
      assert(before.exists(_.getLong(2) < 100L),
        "fixture has no verdict matching the landing")
      assert(before.exists(_.getLong(2) >= 100L),
        "fixture has no verdict matching the appended batch")

      // age out the landing (partition 0): its docs are forgotten
      LandedCatalog.expire(spark, cat, minIngestId = 1)
      val after = DedupCatalog.screen(spark, probe, cat).collect().toSeq
      Shared.releaseAll(spark)
      assert(after.nonEmpty && after.forall(_.getLong(2) >= 100L),
        s"expired landing still matched: ${after.filter(_.getLong(2) < 100L)}")
      assert(ingestDirs(cat.root, "bands") === Seq("ingest_id=1"))

      // age out batch 1 too; floor rises and re-appending id 1 is blocked
      LandedCatalog.expire(spark, cat, minIngestId = 2)
      assert(LandedCatalog.floor(spark, cat) === 1L)
      intercept[IllegalArgumentException] {
        DedupCatalog.append(spark, evens(100, 300), cat, ingestId = 1)
      }
      val none = DedupCatalog.screen(spark, probe, cat).collect().toSeq
      Shared.releaseAll(spark)
      assert(none.isEmpty, s"fully expired catalog still matched: $none")
    } finally LandedCatalog.drop(spark, cat)
  }

  test("expire with an archive dir demotes partitions to cold storage before dropping") {
    import spark.implicits._
    val cat = DedupCatalog.land(spark, evens(0, 100), "maint_archive")
    val arch = java.nio.file.Files.createTempDirectory("maint_arch").toString
    try {
      DedupCatalog.append(spark, evens(100, 300), cat, ingestId = 1)
      val sizesBefore = spark.table(cat.table("sizes"))
        .filter(col("ingest_id") === 0).select("doc").as[Long].collect().toSet
      LandedCatalog.expire(spark, cat, minIngestId = 1, archiveDir = Some(arch))
      // forgotten by the catalog…
      assert(ingestDirs(cat.root, "sizes") === Seq("ingest_id=1"))
      // …but readable as bare parquet from the archive, row-for-row
      val archived = spark.read.parquet(s"$arch/sizes/ingest_id=0")
        .select("doc").as[Long].collect().toSet
      assert(archived === sizesBefore,
        s"archive lost rows: ${(sizesBefore -- archived).take(5)}")
    } finally {
      LandedCatalog.drop(spark, cat)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(arch))
    }
  }

  test("an interrupted compact completes from its marker on reattach") {
    for (k <- kinds) withClue(s"${k.label}: ") {
      val cat = k.land(s"maint_recover_${k.label}", 8)
      try {
        k.append(cat, 1)
        k.append(cat, 2)
        val before = k.verdicts(cat)
        assert(before.nonEmpty, "no planted verdicts")
        // simulate a crash between writing the intent marker and the
        // fold: the marker exists, nothing was folded, the session died
        val fs = new Path(cat.root).getFileSystem(spark.sessionState.newHadoopConf())
        LandedCatalog.writeFile(fs, new Path(s"${cat.root}/_MAINT"), "compact=2")
        cat.tables.foreach(t => spark.sql(s"DROP TABLE $t"))
        // reattach runs recovery: the fold completes, the floor advances
        val cat2 = k.land(s"maint_recover_${k.label}", 8)
        assert(!fs.exists(new Path(s"${cat.root}/_MAINT")), "marker not cleared")
        assert(LandedCatalog.floor(spark, cat2) === 2L)
        cat2.specs.foreach(sp =>
          assert(ingestDirs(cat2.root, sp.suffix) === Seq("ingest_id=0")))
        assert(k.verdicts(cat2) === before,
          "recovered compaction changed screen verdicts")
      } finally LandedCatalog.drop(spark, cat)
    }
  }

  test("re-register uses the persisted bucket count, not the call-site parameter") {
    for (k <- kinds) withClue(s"${k.label}: ") {
      val cat = k.land(s"maint_nbuckets_${k.label}", 4)
      try {
        val before = k.verdicts(cat)
        cat.tables.foreach(t => spark.sql(s"DROP TABLE $t"))
        // restart path called with the DEFAULT bucket count (8): the
        // files were written with 4 — a re-register at 8 would make the
        // bucketed scan silently drop files with bucket id >= 8... with
        // 4-bucket files it is the join co-partitioning that breaks;
        // either way the persisted value must win
        val cat2 = k.land(s"maint_nbuckets_${k.label}", 8)
        cat2.tables.foreach { t =>
          val nb = spark.sql(s"DESCRIBE FORMATTED $t")
            .filter(col("col_name") === "Num Buckets").collect().map(_.getString(1))
          assert(nb.toSeq === Seq("4"),
            s"re-registered bucket spec of $t lost the persisted count")
        }
        assert(k.verdicts(cat2) === before)
      } finally LandedCatalog.drop(spark, cat)
    }
  }

  test("vector catalog: compact preserves screen verdicts; expire forgets") {
    val cat = VecCatalog.land(spark, vevens(0, 300), "maint_vec")
    try {
      VecCatalog.append(spark, vevens(300, 500), cat, ingestId = 1)
      val before = VecCatalog.screen(spark, vprobe, cat).collect().toSeq
      assert(before.nonEmpty, "no planted vector verdicts")
      LandedCatalog.compact(spark, cat, upToIngestId = 1)
      val after = VecCatalog.screen(spark, vprobe, cat).collect().toSeq
      assert(after.map(_.toString) === before.map(_.toString),
        "vector compaction changed screen verdicts")
      assert(ingestDirs(cat.root, "buckets") === Seq("ingest_id=0"))
      assert(LandedCatalog.floor(spark, cat) === 1L)
      intercept[IllegalArgumentException] {
        VecCatalog.append(spark, vevens(300, 500), cat, ingestId = 1)
      }
      // retention: forget everything — no verdicts remain
      LandedCatalog.expire(spark, cat, minIngestId = 1)
      val none = VecCatalog.screen(spark, vprobe, cat).collect().toSeq
      assert(none.isEmpty, s"expired vector catalog still matched: $none")
    } finally LandedCatalog.drop(spark, cat)
  }

  test("pruneSiblings drops a stale fingerprint's catalog but never another scale's, the keeper, or a FRESH sibling") {
    import org.apache.hadoop.fs.Path
    val emb = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").filter(col("vec_id") < 50)
    // simulate two testdata regens of one gate (same logical prefix,
    // different fingerprints) plus a DIFFERENT scale dir's catalog
    // that shares everything up to the dir segment
    val stale = VecCatalog.land(spark, emb, "spec_prune_sfA_11111111")
    val keep = VecCatalog.land(spark, emb, "spec_prune_sfA_22222222")
    val other = VecCatalog.land(spark, emb, "spec_prune_sfB_33333333")
    try {
      val fs = new Path(LandedCatalog.defaultBase(VecCatalog.Tag))
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.exists(new Path(stale.root)) && fs.exists(new Path(keep.root)))
      // the AGE GUARD (round-19 advice): a just-built sibling is what
      // a CONCURRENT process mid-regen holds — the default prune must
      // leave it alone, files and table entries both, or two racing
      // sessions would each delete the other's in-use catalog
      LandedCatalog.pruneSiblings(spark, VecCatalog.Tag, "spec_prune_sfA_22222222")
      assert(fs.exists(new Path(stale.root)),
        "a fresh sibling was pruned — the concurrent-regen age guard is gone")
      assert(spark.catalog.tableExists(stale.table("buckets")))
      // age the stale incarnation past the threshold (recursive: the
      // guard checks the NEWEST file under the root)
      def ageTree(p: Path): Unit = {
        val old = System.currentTimeMillis() - 3L * 3600 * 1000
        def walk(q: Path): Unit = {
          fs.setTimes(q, old, -1)
          if (fs.getFileStatus(q).isDirectory)
            fs.listStatus(q).foreach(st => walk(st.getPath))
        }
        walk(p)
      }
      ageTree(new Path(stale.root))
      LandedCatalog.pruneSiblings(spark, VecCatalog.Tag, "spec_prune_sfA_22222222")
      // the stale incarnation is gone — files AND table entries
      assert(!fs.exists(new Path(stale.root)), "stale root survived the prune")
      assert(!spark.catalog.tableExists(stale.table("buckets")),
        "stale table entry survived the prune")
      // the keeper and the other scale's catalog are untouched and
      // still SCREENABLE (table entries intact, data readable) — the
      // keeper is protected BY NAME even when aged past the threshold
      ageTree(new Path(keep.root))
      LandedCatalog.pruneSiblings(spark, VecCatalog.Tag, "spec_prune_sfA_22222222")
      assert(fs.exists(new Path(keep.root)) && fs.exists(new Path(other.root)))
      assert(VecCatalog.screen(spark, emb, keep).columns.nonEmpty)
      assert(spark.catalog.tableExists(other.table("buckets")),
        "another scale's catalog was victimized")
      // idempotent: pruning again is a no-op
      LandedCatalog.pruneSiblings(spark, VecCatalog.Tag, "spec_prune_sfA_22222222")
      assert(fs.exists(new Path(keep.root)))
    } finally {
      LandedCatalog.drop(spark, keep)
      LandedCatalog.drop(spark, other)
      LandedCatalog.drop(spark, stale)
    }
  }
}
