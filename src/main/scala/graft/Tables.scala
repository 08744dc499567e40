package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SessionClone

/** Table registry over the driver-generated parquet test data
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md §1).
  *
  * All loaders return plain DataFrames so Catalyst sees the raw parquet
  * scan and can push filters / prune columns into it. Nothing is cached
  * here — the query packs decide caching policy.
  */
object Tables {

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def region(spark: SparkSession, dir: String): DataFrame    = spark.read.parquet(path(dir, "region"))
  def nation(spark: SparkSession, dir: String): DataFrame    = spark.read.parquet(path(dir, "nation"))
  def customer(spark: SparkSession, dir: String): DataFrame  = spark.read.parquet(path(dir, "customer"))
  def supplier(spark: SparkSession, dir: String): DataFrame  = spark.read.parquet(path(dir, "supplier"))
  def part(spark: SparkSession, dir: String): DataFrame      = spark.read.parquet(path(dir, "part"))
  def orders(spark: SparkSession, dir: String): DataFrame    = spark.read.parquet(path(dir, "orders"))
  def lineitem(spark: SparkSession, dir: String): DataFrame  = spark.read.parquet(path(dir, "lineitem"))
  def documents(spark: SparkSession, dir: String): DataFrame = spark.read.parquet(path(dir, "documents"))
  def embeddings(spark: SparkSession, dir: String): DataFrame = spark.read.parquet(path(dir, "embeddings"))

  /** `events.ts` has shipped in two physical layouts: TIMESTAMP(NANOS)
    * (rejected by Spark's reader unless
    * `spark.sql.legacy.parquet.nanosAsLong` maps it to BIGINT) and plain
    * TIMESTAMP(MICROS). This reader adapts to whichever the file carries
    * and always yields `ts` as a session-zone (UTC) TimestampType at
    * microsecond precision, so every downstream query and the DuckDB
    * oracle see identical values regardless of layout:
    *
    *  - µs timestamp (possibly NTZ under `inferTimestampNTZ`): cast to
    *    TimestampType — identity on the stored µs value in a UTC session.
    *  - ns INT64 (read as BIGINT under the legacy flag): `ts div 1000` —
    *    the same ns→µs truncation DuckDB applies when narrowing.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    def adapt(df: DataFrame): DataFrame = df.schema("ts").dataType match {
      case TimestampType    => df
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other (expected timestamp or int64-nanos)")
    }
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    // GraftSession sets the legacy flag at build (harmless for µs files —
    // it only affects NANOS). On a foreign session without it, a ns file
    // fails schema inference; retry on a clone carrying the flag. The
    // scan resolved there keeps the clone's reader settings after the
    // frame is rebound, so the caller's session never sees the flag.
    try adapt(spark.read.parquet(path(dir, "events")))
    catch {
      case e: Exception if !spark.conf.getOption(key).contains("true") =>
        try SessionClone.rebind(SessionClone.withConf(spark, key -> "true")(
          clone => adapt(clone.read.parquet(path(dir, "events")))), spark)
        catch { case e2: Exception =>
          // surface the retry's own failure instead of discarding it
          e.addSuppressed(e2); throw e
        }
    }
  }

  /** Register every table as a temp view (`spark.sql` convenience). */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    region(spark, dir).createOrReplaceTempView("region")
    nation(spark, dir).createOrReplaceTempView("nation")
    customer(spark, dir).createOrReplaceTempView("customer")
    supplier(spark, dir).createOrReplaceTempView("supplier")
    part(spark, dir).createOrReplaceTempView("part")
    orders(spark, dir).createOrReplaceTempView("orders")
    lineitem(spark, dir).createOrReplaceTempView("lineitem")
    events(spark, dir).createOrReplaceTempView("events")
    documents(spark, dir).createOrReplaceTempView("documents")
    embeddings(spark, dir).createOrReplaceTempView("embeddings")
  }
}
