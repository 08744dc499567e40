package graft.plans

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Age-based retention for partitioned landings — the engine analog of
  * the reference's retention sink (`honeycomb/owt/cleanUp.py:11-57` +
  * body: per-directory max ages from a config file, recursive delete
  * of files past their age, empty aged subdirectories pruned).
  *
  * The Spark-first translation works at PARTITION granularity, not
  * file mtime: a landing partitioned by a date column (`day=2024-01-03`
  * directories) encodes each row's age in its partition value, so
  * "delete files older than maxAge" becomes "drop every partition
  * whose value sorts below the cutoff" — the same partition-pruning
  * predicate a reader would use, applied destructively. That is the
  * correct unit at scale: age lives in the data (event time), not in
  * filesystem metadata that rewrites/compactions reset, and a sweep
  * is O(partitions) directory deletes, never a recursive file walk
  * over the corpus.
  *
  * Like `cleanUp.py`, a sweep is safe to re-run: deleting an
  * already-deleted partition is a no-op, so a crashed sweep is
  * re-issued as-is (no marker needed — unlike [[LandedCatalog]] there
  * is no metastore/file split to keep consistent for bare-parquet
  * landings; for REGISTERED tables pass `table` so the catalog entry
  * drops first, and a crash between the two is healed by the next
  * sweep or an MSCK + sweep).
  *
  * ISO date partition values compare correctly as strings, so the
  * cutoff is a plain lexicographic bound on the partition value —
  * no parsing, which also makes the sweep usable for any sortable
  * partition scheme (hour=2024-01-03-07, month=2024-01).
  */
object Retention {

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  /** Partition values currently present under `dir` for `partCol`
    * (listed from the files — retention must see partitions whose
    * catalog entry is gone or stale, same rule as
    * [[LandedCatalog]]).
    */
  def partitionValues(spark: SparkSession, dir: String,
      partCol: String): Seq[String] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(s"$partCol="))
      .map(_.stripPrefix(s"$partCol="))
  }

  /** Drop every partition of `dir` whose value sorts strictly below
    * `minKeep` (exclusive cutoff: `minKeep` itself survives). With
    * `table`, the metastore partition is dropped before its files.
    *
    * @return the partition values actually deleted, sorted
    */
  def sweep(spark: SparkSession, dir: String, partCol: String,
      minKeep: String, table: Option[String] = None): Seq[String] = {
    require(minKeep.nonEmpty, "retention cutoff must be non-empty")
    val aged = partitionValues(spark, dir, partCol).filter(_ < minKeep).sorted
    aged.foreach { v =>
      table.foreach(t =>
        spark.sql(s"ALTER TABLE $t DROP IF EXISTS PARTITION ($partCol='$v')"))
      fs(spark, dir).delete(new Path(dir, s"$partCol=$v"), true)
    }
    aged
  }
}
