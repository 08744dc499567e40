package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry for persisted shared subtrees.
  *
  * Query builders that reuse a subtree (shingle tables, exploded
  * tokens) persist it so one pass feeds several joins — but a builder
  * returns a LAZY DataFrame, so the builder can never know when the
  * caller's terminal action has run; unpersisting inside the builder
  * would recompute the subtree instead of sharing it. The contract:
  * builders pin through [[materialize]]; whoever runs the action
  * (Verify/Bench per query, a long-lived service per unit of work)
  * calls [[releaseAll]] afterwards, so pinned storage never outlives
  * the query that pinned it. Reading a source table fires no job
  * either: [[Tables]] takes each schema from the parquet footer on the
  * driver instead of inferring it in a job, so a builder that only
  * reads tables and composes plans runs nothing before the caller's
  * action.
  */
object Shared {

  private val reg = scala.collection.mutable.Map.empty[SparkSession, List[DataFrame]]

  /** Persist `df` (MEMORY_AND_DISK) and track it for release. */
  def materialize(df: DataFrame): DataFrame = synchronized {
    val s = df.sparkSession
    reg.update(s, df :: reg.getOrElse(s, Nil))
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Unpersist every subtree materialized on `spark` since the last
    * release (non-blocking: executors drop blocks asynchronously, but
    * the CacheManager entry is gone on return).
    */
  def releaseAll(spark: SparkSession): Unit = synchronized {
    reg.remove(spark).foreach(_.foreach(_.unpersist(false)))
  }

  /** Content fingerprint of a source-table directory: a short stable
    * hash over the (name, length, mtime) of its files. Pure FileSystem
    * listing, no Spark job.
    */
  def srcFingerprint(spark: SparkSession, dir: String): String =
    fingerprint(spark.sessionState.newHadoopConf(), dir)

  private def fingerprint(conf: Configuration, dir: String): String = {
    val p = new Path(dir)
    val listing = p.getFileSystem(conf).listStatus(p).sortBy(_.getPath.getName)
      .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .mkString("|")
    f"${scala.util.hashing.MurmurHash3.stringHash(listing)}%08x"
  }

  /** A sibling younger than this is taken to be in use by another
    * process ([[landOnce]]).
    */
  val StaleAfterMs: Long = 2L * 3600 * 1000

  /** The shape of a landing's key: an 8-hex-digit content fingerprint. */
  private[graft] val FingerprintShape: String = "[0-9a-f]{8}"

  /** `s` as a name segment: every non-alphanumeric byte mapped to `_`. */
  private[graft] def nameSegment(s: String): String = s.replaceAll("[^A-Za-z0-9]", "_")

  /** `<prefix>_<dirPart>_`: every landing of `dir` under `prefix`
    * starts with it, followed by its key.
    */
  private[graft] def keyPrefix(dir: String, prefix: String): String =
    s"${prefix}_${nameSegment(dir)}_"

  /** `<prefix>_<dirPart>_<fp8>`: the name of `dir`'s landing under
    * `prefix` ([[landOnce]]).
    */
  def landingName(spark: SparkSession, dir: String, prefix: String): String =
    keyPrefix(dir, prefix) + srcFingerprint(spark, dir)

  /** Land `dir`'s derived state under `prefix` in the temp dir once,
    * and return its path. This is the one policy for state that is
    * derived from a scale dir and kept on disk:
    *
    *  - Key. The landing is named `<prefix>_<dirPart>_<fp8>`
    *    ([[landingName]]): the scale dir with every non-alphanumeric
    *    byte mapped to `_`, then its content fingerprint. A testdata
    *    regeneration therefore mints a new name and lands fresh; it
    *    can never pair a stale landing with fresh source parquet.
    *  - Land once. When the `_LANDED` marker is absent, stale siblings
    *    are swept, the path is cleared, `body(path)` writes the landing
    *    and the marker is written LAST, so a crash mid-write lands
    *    again. The marker is checked and written through the path's
    *    own FileSystem. A call that finds it costs one fingerprint
    *    listing and one marker check.
    *  - Sweep ([[gcStaleSiblings]]). A fresh landing prunes its stale
    *    incarnations, or each regen would strand a corpus copy. A
    *    sibling goes only when the newest file anywhere under it is
    *    older than [[StaleAfterMs]]: two processes mid-regen hold
    *    different fingerprints, and without the guard each would delete
    *    the other's just-landed, in-use copy.
    *  - Match. A sibling matches only when the rest of its name after
    *    `<prefix>_<dirPart>_` has the shape of a fingerprint, so the
    *    landings of `/x/sf1_skew` are never siblings of `/x/sf1`'s.
    *
    * Landed catalogs take their name and sweep from the same helpers
    * (`LandedCatalog.fingerprinted`); their own `_LANDED` marker
    * carries the bucket count a reattach needs.
    */
  def landOnce(spark: SparkSession, dir: String, prefix: String)(
      body: String => Unit): String = {
    val conf = spark.sessionState.newHadoopConf()
    val tmp = sys.props("java.io.tmpdir")
    val stem = keyPrefix(dir, prefix)
    val name = stem + fingerprint(conf, dir)
    val path = new Path(tmp, name)
    val fs = path.getFileSystem(conf)
    val marker = new Path(path, "_LANDED")
    if (!fs.exists(marker)) {
      gcStaleSiblings(spark, tmp, stem, name)
      fs.delete(path, true)
      body(path.toString)
      fs.create(marker, true).close()
    }
    path.toString
  }

  /** The one sibling sweep ([[landOnce]]): delete every entry of
    * `parentDir` other than `keepName` whose name is `prefix` followed
    * by a match of `keyShape`, and whose newest mtime anywhere in its
    * tree is older than [[StaleAfterMs]]. A directory's own mtime is
    * not enough: it changes only when a direct child is added or
    * removed, so a live stream writing nested checkpoint files for
    * hours looks idle at the top. `onDelete` sees each victim's name
    * just before its files go.
    */
  def gcStaleSiblings(spark: SparkSession, parentDir: String, prefix: String,
      keepName: String, keyShape: String = FingerprintShape,
      onDelete: String => Unit = _ => ()): Unit = {
    val parent = new Path(parentDir)
    val fs = parent.getFileSystem(spark.sessionState.newHadoopConf())
    val cutoff = System.currentTimeMillis() - StaleAfterMs
    def newestMtime(st: FileStatus): Long = {
      var newest = st.getModificationTime
      val it = fs.listFiles(st.getPath, true)
      while (it.hasNext) newest = math.max(newest, it.next().getModificationTime)
      newest
    }
    if (fs.exists(parent))
      fs.listStatus(parent).foreach { st =>
        val n = st.getPath.getName
        if (n != keepName && n.startsWith(prefix) &&
            n.substring(prefix.length).matches(keyShape) &&
            st.getModificationTime < cutoff &&
            scala.util.Try(newestMtime(st)).getOrElse(Long.MaxValue) < cutoff) {
          onDelete(n)
          fs.delete(st.getPath, true)
        }
      }
  }

  /** Scope mark: an identity snapshot of the frames currently pinned
    * on `spark`. Pair with [[releaseSince]] so a library step that
    * pins intermediates can release exactly its own — a blanket
    * [[releaseAll]] from inside a library method would also unpin
    * whatever the CALLER had materialized (a session-global side
    * effect the round-9 advice flagged in the streaming screen).
    *
    * Identity-based, not count-based: with a plain length mark,
    * another thread pinning on the same session between a library's
    * mark() and its releaseSince() would shift the count, and the
    * CALLER's frames (counted as "since the mark") would get
    * unpersisted while the library's own stayed pinned. The snapshot
    * makes releaseSince precise under interleaving.
    */
  def mark(spark: SparkSession): List[DataFrame] = synchronized {
    reg.getOrElse(spark, Nil)
  }

  /** Unpersist only the frames pinned on `spark` that were NOT in the
    * `mark` snapshot (reference identity); anything pinned before —
    * or by another thread and present at mark time — stays registered
    * and cached.
    */
  def releaseSince(spark: SparkSession, mark: List[DataFrame]): Unit = synchronized {
    val marked = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]())
    mark.foreach(marked.add)
    val (keep, release) = reg.getOrElse(spark, Nil).partition(marked.contains)
    release.foreach(_.unpersist(false))
    if (keep.isEmpty) reg.remove(spark) else reg.update(spark, keep)
  }
}
