package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SessionClone

/** Bucketed table layout: the 100 TB landing format for per-implant
  * analytics (DESIGN §5's deferred item, closing `honeycomb`'s
  * archive layer with co-located access paths).
  *
  * Writing the beacon/session tables `bucketBy(implant)` and
  * `sortBy(ts)` pins every implant's rows to one bucket file per
  * bucket id, so the two queries a session pipeline runs hottest —
  * per-implant aggregation and the beacon↔session equi-join — read
  * pre-partitioned data and plan WITHOUT a shuffle: Spark's scan
  * reports the bucket spec as its output partitioning, and
  * EnsureRequirements inserts no Exchange (and no Sort when the sort
  * columns prefix-match). At 1000 executors that is the difference
  * between a full-corpus shuffle per query and none.
  *
  * Requires a catalog-backed table (bucket metadata does not survive
  * in bare parquet paths) — any metastore works; the spec exercises
  * the session catalog.
  */
object BucketedLayout {

  /** Land `df` as a bucketed, per-bucket-sorted table. With `path` the
    * table is external (files at a caller-chosen location, independent
    * of the session's warehouse dir); otherwise managed. With
    * `partitionCols` the table is additionally partitioned (bucketing
    * then applies within each partition; the scan still reports the
    * bucket spec, so co-located joins stay shuffle-free) — the shape
    * the grow-by-ingest catalogs use, one partition per accepted
    * batch.
    */
  def write(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int, sortCols: Seq[String], path: Option[String] = None,
      partitionCols: Seq[String] = Nil): Unit = {
    // Cluster rows by the bucket spec BEFORE the bucketed write: a
    // bucketed writer emits one file per (task, partition, bucket)
    // combination, so an N-task input writes up to N x nBuckets tiny
    // files per partition (guide §6's small-files trap — every later
    // screen re-lists and re-opens them). Repartitioning on the
    // bucket column into nBuckets tasks uses the same murmur3 hash as
    // the bucket assignment, so each task holds exactly one bucket id
    // and the layout lands at its minimum file count (one file per
    // (partition, bucket)). Values and bucket contents are unchanged
    // — this only moves rows between write tasks. nBuckets IS the
    // layout's read parallelism, so bounding the write to it is the
    // matching choice at any scale (a bigger deployment raises
    // nBuckets, not the file count per bucket).
    val clustered = df.repartition(nBuckets, col(bucketCol))
    val w0 = clustered.write.mode("overwrite").format("parquet")
    val w1 = if (partitionCols.nonEmpty) w0.partitionBy(partitionCols: _*) else w0
    val w = w1.bucketBy(nBuckets, bucketCol)
      .sortBy(sortCols.head, sortCols.tail: _*)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Re-register an existing landed table (files already at `path`)
    * into this session's catalog without recomputing anything: CREATE
    * TABLE with the same schema/partition/bucket spec over the
    * location, then recover the partition metadata. This is how a NEW
    * session (fresh in-memory catalog, e.g. after a crash-restart)
    * reattaches to durable catalog state instead of re-landing over
    * it — re-landing from the original history would silently erase
    * every appended ingest partition.
    */
  def register(spark: SparkSession, table: String, columnsDdl: String,
      partitionCol: String, bucketCol: String, sortCols: Seq[String],
      nBuckets: Int, path: String): Unit = {
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $table ($columnsDdl) USING PARQUET
         |PARTITIONED BY ($partitionCol)
         |CLUSTERED BY ($bucketCol) SORTED BY (${sortCols.mkString(", ")})
         |INTO $nBuckets BUCKETS
         |LOCATION '$path'""".stripMargin)
    spark.sql(s"MSCK REPAIR TABLE $table")
  }

  /** Overwrite exactly the partitions present in `df` (dynamic
    * partition overwrite), leaving every other partition intact — the
    * replay-idempotent append for partitioned catalogs: a crashed and
    * replayed ingest batch rewrites its own partition instead of
    * blind-appending duplicate state rows (which would corrupt
    * downstream counts, not just duplicate output). Columns are
    * aligned by name to the table's schema (insertInto is positional).
    *
    * The dynamic mode can only come from session conf (a
    * DataFrameWriter option does not reach insertInto's plan), so the
    * write runs on a clone of `spark` set to `dynamic`: the caller's
    * session stays `static`, and a concurrent write through it can
    * never pick up the mode and erase other partitions.
    */
  def overwritePartitions(spark: SparkSession, df: DataFrame,
      table: String): Unit = {
    // same clustering as write(): land each appended partition at one
    // file per bucket instead of one per (input task, bucket) — the
    // per-ingest-batch appends are exactly where the small files pile
    // up (every batch otherwise adds task-count x nBuckets files the
    // next screen must open)
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val bucketSpec = spark.sessionState.catalog.getTableMetadata(ident).bucketSpec
    val clustered = bucketSpec.fold(df)(bs =>
      df.repartition(bs.numBuckets, bs.bucketColumnNames.map(col): _*))
      .select(spark.table(table).columns.map(col): _*)
    SessionClone.withConf(spark,
        "spark.sql.sources.partitionOverwriteMode" -> "dynamic") { clone =>
      SessionClone.rebind(clustered, clone).write.mode("overwrite").insertInto(table)
    }
    // the write refreshed the clone's relation cache only; a cached
    // relation here would keep listing the overwritten partition's
    // old files
    spark.sessionState.catalog.refreshTable(ident)
  }
}
