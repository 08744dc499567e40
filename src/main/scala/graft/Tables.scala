package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SessionClone

/** Table registry over the driver-generated parquet test data
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md §1).
  *
  * All loaders return plain DataFrames so Catalyst sees the raw parquet
  * scan and can push filters / prune columns into it. Nothing is cached
  * here — the query packs decide caching policy.
  *
  * A table read fires no Spark job. A bare `spark.read.parquet(path)`
  * infers the schema in a one-task job (about 0.08 s of scheduling on
  * `local[4]`, even for one file), a fixed cost every builder paid
  * before its frame existed. Every loader instead opens the first data
  * file's footer on the driver (about 1 ms) and converts it with
  * Spark's own converter under the session's SQL conf, so the schema is
  * the one inference gives (NTZ timestamps and `nanosAsLong` included),
  * and hands it to the reader.
  */
object Tables {

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

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
    val p = path(dir, "events")
    val f = footer(spark, p)
    // GraftSession sets the legacy flag at build (harmless for µs files —
    // it only affects NANOS). On a foreign session without it, the footer
    // names a NANOS `ts` before anything runs: read on a clone carrying
    // the flag. The scan resolved there keeps the clone's reader settings
    // after the frame is rebound, so the caller's session never sees the
    // flag.
    if (!nanosTs(f) || spark.conf.getOption(key).contains("true")) adapt(read(spark, p, f))
    else SessionClone.rebind(
      SessionClone.withConf(spark, key -> "true")(clone => adapt(read(clone, p, f))), spark)
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

  private def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    read(spark, p, footer(spark, p))
  }

  /** The parquet reader over `p`, given the schema `f` converts to
    * under `spark`'s SQL conf: what inference would return, without its
    * job.
    */
  private def read(spark: SparkSession, p: String, f: Footer): DataFrame =
    spark.read.schema(ParquetFileFormat.readSchemaFromFooter(
      f, new ParquetToSparkSchemaConverter(spark.sessionState.conf))).parquet(p)

  /** The footer of the file at `p`, or of the first data file under the
    * directory `p` (by name, skipping `_`- and `.`-prefixed entries, as
    * inference does).
    */
  private def footer(spark: SparkSession, p: String): Footer = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(p)
    val fs = root.getFileSystem(conf)
    val st = fs.getFileStatus(root)
    val file =
      if (!st.isDirectory) st
      else fs.listStatus(root)
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName).headOption
        .getOrElse(throw new IllegalStateException(s"no parquet data file under $p"))
    new Footer(file.getPath,
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS))
  }

  /** Whether the footer stores a top-level `ts` as TIMESTAMP(NANOS). */
  private def nanosTs(f: Footer): Boolean = {
    val schema = f.getParquetMetadata.getFileMetaData.getSchema
    schema.containsField("ts") && (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
      case _ => false
    })
  }
}
