package graft.plans

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one lifecycle behind the landed screening catalogs
  * ([[DedupCatalog]], [[SigCatalog]], [[VecCatalog]], [[SemCatalog]],
  * [[GramCatalog]]): naming, landing, reattach, floor-checked appends
  * and history reads, compaction, retention, crash recovery, drop and
  * regen hygiene. Each catalog supplies only its table [[Spec]]s, the
  * rows it lands/appends, and its screen join. The reference keeps
  * the same persisted state: `honeycomb/owt/hcOwt.py:250-331` diffs
  * new input against landed state and archives processed batches
  * before advancing, `cleanUp.py:11-57` deletes aged state.
  *
  * Layout. A catalog named `name` under `base` has the stem
  * `<tag>_<sanitized name>_<fnv8 of the raw name>` (sanitized for
  * identifier safety, hashed so names that sanitize alike — "run-1"
  * vs "run_1" — cannot share state). Its tables are
  * `<stem>_<suffix>`, external, bucketed, and partitioned by
  * `ingest_id` (landing = partition 0, each accepted batch its own
  * partition) with files under `<base>/<stem>/<suffix>`. Markers live
  * in the root: `_LANDED` (`key=value` pairs, always `nBuckets`),
  * `_FLOOR` and `_MAINT`.
  *
  * Durability. [[land]] writes `_LANDED` after every table; a NEW
  * session whose in-memory catalog lost the table entries
  * re-registers the existing files with the PERSISTED bucket count
  * (files written with one count and registered with another make the
  * bucketed scan silently drop files and break co-partitioned joins)
  * and then [[recover]]s any interrupted maintenance — re-landing
  * would erase every appended partition. Appends are dynamic
  * partition overwrites, so a crash-replayed batch rewrites its own
  * partition instead of duplicating state rows (duplicate rows would
  * inflate the screens' intersection counts — corruption, not mere
  * duplication).
  *
  * Maintenance. At production cadence the catalogs grow thousands of
  * small ingest partitions, which degrades both the metastore
  * (partition listing per query) and the scan (file-open
  * amortization):
  *
  *  - [[compact]]: fold ingest partitions `0..upTo` into partition 0
  *    through the table's bucket spec (co-located candidate joins
  *    stay shuffle-free). Screen verdicts are IDENTICAL before and
  *    after: the fold is a pure layout change over the same rows.
  *  - [[expire]]: drop ingest partitions below a cutoff entirely
  *    (age/count retention — that state is deliberately forgotten).
  *
  * Both raise the catalog's FLOOR (`_FLOOR`): appends at or below it
  * are rejected — a crash-replayed batch whose partition was folded
  * away must NOT re-append (its rows already live in partition 0),
  * and an expired batch must not resurrect. History reads bounded
  * below the floor are rejected loudly: after a fold the bound cannot
  * be honored (partition 0 now holds later batches), so failing beats
  * silently self-matching. Callers therefore compact/expire only up
  * to checkpoint-COMMITTED batch ids — committed batches never replay.
  *
  * Crash safety: a `_MAINT` marker (intent + cutoff) is written before
  * any destructive step and removed after the floor advances;
  * [[recover]] (run by every reattach) re-runs an interrupted
  * operation. The fold is idempotent: re-folding already-folded
  * partitions is a `distinct()` no-op because every catalog table is
  * set-semantic (one row per distinct key per batch; gram stats of
  * disjoint batches differ in `gmin`, so the fold never merges two
  * legitimate rows).
  */
object LandedCatalog {

  /** One table of a catalog: file/table suffix, columns DDL (ending in
    * `ingest_id BIGINT`), bucket column and per-bucket sort columns.
    */
  case class Spec(suffix: String, ddl: String, bucketCol: String,
      sortCols: Seq[String])

  /** One landed catalog: the naming stem, the storage root, and the
    * table specs (in landing/append/compaction order).
    */
  case class Handle(stem: String, root: String, specs: Seq[Spec]) {
    def table(suffix: String): String = s"${stem}_$suffix"
    def tables: Seq[String] = specs.map(s => table(s.suffix))
    def dataDirs: Seq[String] = specs.map(s => s"$root/${s.suffix}")
  }

  /** Default durable-enough location for tests/gates; production
    * passes its own `base` (a warehouse path).
    */
  def defaultBase(tag: String): String = s"${sys.props("java.io.tmpdir")}/$tag"

  private def stem(tag: String, name: String): String =
    s"${tag}_${graft.Shared.nameSegment(name)}_" +
      java.lang.Long.toHexString(graft.functions.TextImpl.fnv1a64(name)).take(8)

  def handle(tag: String, name: String, base: String, specs: Seq[Spec]): Handle = {
    val st = stem(tag, name)
    Handle(st, s"$base/$st", specs)
  }

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  private def readFile(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
        Some(out.toString("UTF-8").trim)
      } finally in.close()
    }

  private[graft] def writeFile(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private def landedPath(h: Handle) = new Path(s"${h.root}/_LANDED")
  private def floorPath(h: Handle) = new Path(s"${h.root}/_FLOOR")
  private def maintPath(h: Handle) = new Path(s"${h.root}/_MAINT")

  /** The `_LANDED` marker's `key=value` pairs (`nBuckets=8`, Gram's
    * `nBuckets=8,k=5`); empty when the catalog was never landed.
    */
  def marker(spark: SparkSession, h: Handle): Map[String, String] =
    readFile(fs(spark, h.root), landedPath(h))
      .map(_.split(",").flatMap { kv =>
        kv.split("=", 2) match {
          case Array(a, b) => Some(a.trim -> b.trim); case _ => None
        }
      }.toMap).getOrElse(Map.empty)

  /** Land catalog `h` as ingest partition 0 from `rows` (one frame per
    * spec, without `ingest_id`). Registered tables come straight back;
    * a `_LANDED` marker with missing table entries (new session over
    * durable state) re-registers the files with the persisted bucket
    * count and recovers interrupted maintenance; only a truly absent
    * catalog evaluates `rows`, writes every table, then the marker
    * (`nBuckets` followed by `extraMarker`).
    */
  def land(spark: SparkSession, h: Handle, nBuckets: Int,
      extraMarker: Seq[(String, Any)] = Nil)(rows: => Seq[DataFrame]): Handle = {
    if (h.tables.forall(spark.catalog.tableExists)) return h
    if (fs(spark, h.root).exists(landedPath(h))) {
      // markers from before the field existed fall back to the parameter
      val nb = marker(spark, h).get("nBuckets").flatMap(_.toIntOption)
        .getOrElse(nBuckets)
      h.specs.zip(h.dataDirs).foreach { case (s, dir) =>
        BucketedLayout.register(spark, h.table(s.suffix), s.ddl, "ingest_id",
          s.bucketCol, s.sortCols, nb, dir)
      }
      recover(spark, h)
      return h
    }
    val m = graft.Shared.mark(spark)
    try {
      h.specs.zip(h.dataDirs).zip(rows).foreach { case ((s, dir), df) =>
        BucketedLayout.write(df.withColumn("ingest_id", lit(0L)),
          h.table(s.suffix), s.bucketCol, nBuckets, s.sortCols, Some(dir),
          Seq("ingest_id"))
      }
      writeFile(fs(spark, h.root), landedPath(h),
        (("nBuckets" -> nBuckets) +: extraMarker)
          .map { case (k, v) => s"$k=$v" }.mkString(","))
    } finally graft.Shared.releaseSince(spark, m)
    h
  }

  /** Record an accepted batch as ingest partition `ingestId` (> 0; 0
    * is the landing) from `rows` (one frame per spec). Replay-
    * idempotent: a dynamic partition overwrite of exactly that
    * partition per table.
    */
  def append(spark: SparkSession, h: Handle, ingestId: Long)(
      rows: => Seq[DataFrame]): Unit = {
    require(ingestId > 0, s"ingestId must be > 0 (0 is the landing): $ingestId")
    val f = floor(spark, h)
    require(ingestId > f,
      s"ingestId $ingestId is at or below the maintenance floor $f: that " +
        "batch's state was folded into the landing (or expired) — " +
        "re-appending it would duplicate state rows and corrupt screens")
    val m = graft.Shared.mark(spark)
    try h.tables.zip(rows).foreach { case (t, df) =>
      BucketedLayout.overwritePartitions(spark,
        df.withColumn("ingest_id", lit(ingestId)), t)
    } finally graft.Shared.releaseSince(spark, m)
  }

  /** The catalog's tables (spec order), partition-pruned to ingest ids
    * ≤ `maxIngestId`. A streaming append loop passes its batch id so a
    * crash-replayed batch cannot see the partition it appended before
    * the crash. A bound below the maintenance floor is rejected.
    */
  def history(spark: SparkSession, h: Handle,
      maxIngestId: Option[Long]): Seq[DataFrame] = {
    maxIngestId.foreach { x =>
      val f = floor(spark, h)
      require(x >= f,
        s"screen bound $x is below the catalog's maintenance floor $f " +
          s"(batches <= $f were compacted/expired; replaying one is invalid)")
    }
    h.tables.map(t => maxIngestId.fold(spark.table(t))(x =>
      spark.table(t).filter(col("ingest_id") <= x)))
  }

  /** Drop the catalog: table entries AND files (a fresh stream over a
    * reused location must start from a fresh catalog).
    */
  def drop(spark: SparkSession, h: Handle): Unit = {
    h.tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    fs(spark, h.root).delete(new Path(h.root), true)
  }

  /** The catalog's maintenance floor: the highest ingest id that has
    * been folded or expired away (0 = never maintained; ingest ids
    * start at 1).
    */
  def floor(spark: SparkSession, h: Handle): Long =
    readFile(fs(spark, h.root), floorPath(h))
      .flatMap(_.toLongOption).getOrElse(0L)

  private def raiseFloor(spark: SparkSession, h: Handle, v: Long): Unit =
    writeFile(fs(spark, h.root), floorPath(h), math.max(floor(spark, h), v).toString)

  /** Ingest partition ids present under a table's data dir (listed
    * from the FILES, not the metastore — recovery must see partitions
    * whose catalog entry is gone or stale).
    */
  private def partitionIds(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("ingest_id="))
      .flatMap(_.stripPrefix("ingest_id=").toLongOption)
  }

  /** Drop one ingest partition: catalog metadata first, then files
    * (external tables keep files on DROP PARTITION). A crash between
    * the two leaves files an MSCK could resurrect — which is why
    * [[recover]] re-runs the whole operation after any re-register.
    */
  private def dropPartition(spark: SparkSession, table: String, dir: String,
      id: Long): Unit = {
    spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (ingest_id=$id)")
    fs(spark, dir).delete(new Path(dir, s"ingest_id=$id"), true)
  }

  private def runCompact(spark: SparkSession, h: Handle, upTo: Long): Unit =
    h.tables.zip(h.dataDirs).foreach { case (t, dir) =>
      val dataCols = spark.table(t).columns.filterNot(_ == "ingest_id")
      // distinct() makes a partial-fold replay idempotent (a crashed
      // compact may have folded some tables already: partition 0 then
      // holds the union, and re-reading 0..upTo would double rows);
      // eager localCheckpoint cuts the plan from the files the
      // overwrite is about to replace (at cluster scale this would be
      // a reliable checkpoint dir — same contract, durable storage)
      val folded = spark.table(t).filter(col("ingest_id") <= upTo)
        .select(dataCols.map(col): _*).distinct()
        .withColumn("ingest_id", lit(0L))
        .localCheckpoint(true)
      BucketedLayout.overwritePartitions(spark, folded, t)
      partitionIds(spark, dir).filter(id => id > 0 && id <= upTo)
        .foreach(id => dropPartition(spark, t, dir, id))
    }

  /** Fold ingest partitions 0..`upToIngestId` into partition 0 and raise the
    * floor. Idempotent: a cutoff at or below the current floor is a
    * no-op (a gate query re-runs its lifecycle once per session).
    */
  def compact(spark: SparkSession, h: Handle, upToIngestId: Long): Unit = {
    require(upToIngestId > 0, s"compact cutoff must be > 0: $upToIngestId")
    if (upToIngestId <= floor(spark, h)) return
    writeFile(fs(spark, h.root), maintPath(h), s"compact=$upToIngestId")
    runCompact(spark, h, upToIngestId)
    raiseFloor(spark, h, upToIngestId)
    fs(spark, h.root).delete(maintPath(h), false)
  }

  private def runExpire(spark: SparkSession, h: Handle, minId: Long,
      archiveDir: Option[String]): Unit =
    h.tables.zip(h.dataDirs).foreach { case (t, dir) =>
      partitionIds(spark, dir).filter(_ < minId).foreach { id =>
        archiveDir.foreach { a =>
          // archive-then-advance (hcOwt.py:250-331's discipline): the
          // partition's files are COPIED to the archive before the
          // drop, so aged state is demoted to cold storage, not lost.
          // Copy-then-delete (not rename) keeps the drop idempotent
          // under marker recovery — a re-run overwrites the same
          // archive paths and re-deletes.
          val conf = spark.sessionState.newHadoopConf()
          val srcFs = fs(spark, dir)
          val src = new Path(dir, s"ingest_id=$id")
          val dstDir = new Path(s"$a/${dir.split('/').last}/ingest_id=$id")
          val dstFs = dstDir.getFileSystem(conf)
          if (srcFs.exists(src))
            org.apache.hadoop.fs.FileUtil.copy(srcFs, src, dstFs, dstDir,
              false, true, conf)
        }
        dropPartition(spark, t, dir, id)
      }
    }

  /** Retention: drop every ingest partition below `minIngestId`
    * (including the landing, partition 0, if minIngestId > 0) and
    * raise the floor to `minIngestId - 1` so expired batch ids can
    * never be re-appended. The age→id mapping is the caller's (batch
    * ids are monotone in arrival time, so an age cutoff IS an id
    * cutoff).
    *
    * @param archiveDir with Some(dir), each partition's files are
    *   copied under `dir/<table-suffix>/ingest_id=<n>` before the
    *   drop (readable as bare parquet) — retention demotes to cold
    *   storage instead of deleting.
    */
  def expire(spark: SparkSession, h: Handle, minIngestId: Long,
      archiveDir: Option[String] = None): Unit = {
    require(minIngestId > 0, s"retention cutoff must be > 0: $minIngestId")
    if (minIngestId - 1 <= floor(spark, h) &&
        h.dataDirs.forall(d => partitionIds(spark, d).forall(_ >= minIngestId)))
      return
    // the marker intentionally omits the archive dir: recovery re-runs
    // the DROPS (idempotent); a crash mid-archive re-copies nothing in
    // the next explicit expire call, so callers that need the archive
    // guarantee re-issue expire with the same archiveDir after a crash
    writeFile(fs(spark, h.root), maintPath(h), s"expire=$minIngestId")
    runExpire(spark, h, minIngestId, archiveDir)
    raiseFloor(spark, h, minIngestId - 1)
    fs(spark, h.root).delete(maintPath(h), false)
  }

  /** Finish an interrupted compact/expire (run by [[land]]'s reattach
    * in a fresh session): re-runs the marked operation — both are
    * idempotent — then advances the floor and clears the marker.
    */
  def recover(spark: SparkSession, h: Handle): Unit =
    readFile(fs(spark, h.root), maintPath(h)).foreach { m =>
      m.split("=", 2) match {
        case Array("compact", v) =>
          runCompact(spark, h, v.toLong)
          raiseFloor(spark, h, v.toLong)
        case Array("expire", v) =>
          runExpire(spark, h, v.toLong, None)
          raiseFloor(spark, h, v.toLong - 1)
        case other =>
          throw new IllegalStateException(
            s"unrecognized _MAINT marker '${other.mkString("=")}' at ${h.root}")
      }
      fs(spark, h.root).delete(maintPath(h), false)
    }

  /** Catalog `tag`'s name for `dir`'s content under `prefix`
    * ([[graft.Shared.landingName]]: `<prefix>_<dirPart>_<fp8>`). A
    * name whose catalog is not landed yet first prunes its stale
    * incarnations ([[pruneSiblings]]), so a testdata regen lands fresh
    * instead of stranding the old corpus-sized catalog.
    */
  def fingerprinted(spark: SparkSession, tag: String, dir: String,
      prefix: String): String = {
    val name = graft.Shared.landingName(spark, dir, prefix)
    if (marker(spark, handle(tag, name, defaultBase(tag), Nil)).isEmpty)
      pruneSiblings(spark, tag, name)
    name
  }

  /** Drop every stale incarnation of the fingerprinted catalog
    * `keepName` under the tag's default base — the catalogs of the same
    * prefix and scale dir under another fingerprint, judged by
    * [[graft.Shared.gcStaleSiblings]]'s age guard — along with the table
    * entries pointing at the deleted roots.
    */
  def pruneSiblings(spark: SparkSession, tag: String, keepName: String): Unit = {
    require(keepName.matches(s".*_${graft.Shared.FingerprintShape}"),
      s"not a fingerprinted catalog name: $keepName")
    // a root is named by its stem: the fingerprint, then the name's hash
    graft.Shared.gcStaleSiblings(spark, defaultBase(tag),
      s"${tag}_${graft.Shared.nameSegment(keepName.dropRight(8))}",
      stem(tag, keepName),
      keyShape = s"${graft.Shared.FingerprintShape}_[0-9a-f]{1,8}",
      onDelete = n => spark.sessionState.catalog.listTables("default", s"${n}_*")
        .foreach(ti => spark.sql(s"DROP TABLE IF EXISTS ${ti.table}")))
  }
}
