package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.Retention

/** The partitioned-landing retention sweep (`cleanUp.py` analog):
  * exactly the aged partitions are deleted, survivors stay readable
  * row-for-row, re-running a sweep is a no-op, and the config-map
  * shape applies per-directory cutoffs and tolerates absent dirs.
  */
class RetentionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def tempRoot(): String =
    java.nio.file.Files.createTempDirectory("retain_spec").toString

  private def landByDay(root: String): Unit =
    Tables.events(spark, dir).withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(root)

  private def rm(root: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))

  test("sweep deletes exactly the aged partitions; survivors readable row-for-row") {
    import spark.implicits._
    val root = tempRoot()
    try {
      landByDay(root)
      val all = Retention.partitionValues(spark, root, "day").sorted
      assert(all.size > 3, s"fixture needs several days, got $all")
      val cut = all(all.size / 2)
      val expectKeep = Tables.events(spark, dir)
        .filter(to_date(col("ts")) >= lit(cut).cast("date"))
        .select("event_id").as[Long].collect().toSet
      val dropped = Retention.sweep(spark, root, "day", cut)
      assert(dropped === all.filter(_ < cut),
        s"dropped $dropped, expected ${all.filter(_ < cut)}")
      assert(Retention.partitionValues(spark, root, "day").sorted
        === all.filter(_ >= cut))
      val kept = spark.read.parquet(root).select("event_id").as[Long].collect().toSet
      assert(kept === expectKeep,
        s"row drift: lost ${(expectKeep -- kept).take(5)}, extra ${(kept -- expectKeep).take(5)}")
    } finally rm(root)
  }

  test("a re-issued sweep is a no-op (crash-safe without a marker)") {
    val root = tempRoot()
    try {
      landByDay(root)
      val all = Retention.partitionValues(spark, root, "day").sorted
      val cut = all(1)
      assert(Retention.sweep(spark, root, "day", cut).nonEmpty)
      val after = Retention.partitionValues(spark, root, "day").sorted
      assert(Retention.sweep(spark, root, "day", cut) === Nil)
      assert(Retention.partitionValues(spark, root, "day").sorted === after)
    } finally rm(root)
  }
}
