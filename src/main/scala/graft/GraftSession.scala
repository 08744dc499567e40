package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import graft.functions.{CodecExpressions, TextExpressions, VectorExpressions}

/** Library entry point: a tuned SparkSession with every engine
  * function registered, plus a SparkSessionExtensions hook for users
  * who build their own session (`--conf spark.sql.extensions=
  * graft.GraftExtensions`).
  *
  * Config philosophy (100 TB first): AQE on with skew-join handling,
  * shuffle partitions sized to the machine (32 locally — at cluster
  * scale AQE coalesces from an over-provisioned initial count),
  * 128 MB scan partitions, UTC semantics everywhere.
  *
  * The engine never writes this session's conf while a query runs:
  * work that needs another setting (the connected-components rounds'
  * fan-out, dynamic partition overwrite, the nanos-parquet retry) runs
  * on a clone of the session ([[org.apache.spark.sql.graft.SessionClone]]),
  * so concurrent queries on it always plan under the caller's values.
  * The one exception is a streaming gate, which sets its shuffle
  * partition count around `DataStreamWriter.start()` only: the stream
  * snapshots the session there, and the setting is restored as soon
  * as `start()` returns. Catalog appends are not serialized across
  * driver processes — run catalog maintenance on one catalog
  * directory from one writer process at a time (the single-writer
  * discipline any non-transactional table format needs).
  *
  * Local files go through [[LocalFs]]: without the Hadoop native
  * library, Hadoop's own local filesystem forks `chmod` for every
  * create and `mkdirs` and `readlink` for every `FileContext` rename,
  * so each streaming checkpoint, state-store delta and landing file
  * cost a few child processes. [[LocalFs]] does both calls in-process
  * and leaves the bytes, the `.crc` files and the renames as they
  * were. A user who builds their own session with `GraftExtensions`
  * gets the same classes by passing the two [[LocalFs.Conf]] entries
  * as `--conf` (`spark.hadoop.fs.file.impl=graft.LocalFs$FileSystem`,
  * `spark.hadoop.fs.AbstractFileSystem.file.impl=graft.LocalFs$Fs`).
  */
object GraftSession {

  def builder(appName: String = "graft",
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "zstd")
      // nanos parquet (events.ts) reads as raw BIGINT everywhere
      // (Tables.events retries on a clone of a foreign session)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(LocalFs.Conf)

  /** Build (or reuse) the session and register all engine functions. */
  def getOrCreate(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    registerAll(spark)
    spark
  }

  /** Register every engine SQL function on an existing session. */
  def registerAll(spark: SparkSession): Unit = {
    CodecExpressions.register(spark)
    TextExpressions.register(spark)
    VectorExpressions.register(spark)
  }
}

/** SparkSessionExtensions entry point: injects the engine's functions
  * at session build time. The engine needs no custom planner rules —
  * every operator composes built-in plans (SURVEY §4.2: expression
  * level only) — so this registers functions and nothing else.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    (CodecExpressions.builders ++ TextExpressions.builders ++
        VectorExpressions.builders).foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), b))
    }
  }
}
