package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.BucketedLayout

/** Bucketed layout: proves the shuffle-free access paths the 100 TB
  * landing format buys — per-key aggregation and the co-located
  * equi-join both plan with zero Exchange over tables bucketed on the
  * key. Broadcast is disabled for the join test so the no-shuffle
  * plan is attributable to the bucket spec, not to a small side.
  */
class BucketedLayoutSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
  }

  private def withBucketedTables(test: => Unit): Unit = {
    val events = Tables.events(spark, dir)
      .select(col("user_id").as("implant_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
    BucketedLayout.write(events, "graft_beacons_b", "implant_id", 4, Seq("ts_us"))
    BucketedLayout.write(
      events.groupBy("implant_id").agg(min(col("ts_us")).as("first_seen")),
      "graft_implants_b", "implant_id", 4, Seq("implant_id"))
    try test finally {
      spark.sql("DROP TABLE IF EXISTS graft_beacons_b")
      spark.sql("DROP TABLE IF EXISTS graft_implants_b")
    }
  }

  test("per-implant aggregation over the bucketed table plans without a shuffle") {
    withBucketedTables {
      val agg = spark.table("graft_beacons_b").groupBy("implant_id")
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      val plan = planOf(agg)
      assert(!plan.contains("Exchange"), s"shuffle on bucketed agg:\n$plan")
      // the answer must still be right: compare against the unbucketed path
      val expect = Tables.events(spark, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n")).count()
      assert(agg.count() === expect)
    }
  }

  test("flagship landing: beacon-session gate over landBucketed tables plans zero hash exchange") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
    try {
      val df = graft.queries.IngestPack.bucketedSessions(spark, dir)
      val plan = planOf(df)
      assert(plan.contains("SortMergeJoin"), s"expected SMJ over buckets:\n$plan")
      // the one allowed Exchange is the final orderBy's rangepartitioning;
      // join + aggregation must ride the bucket co-partitioning
      assert(!plan.contains("Exchange hashpartitioning")
        && !plan.contains("Exchange SinglePartition")
        && !plan.contains("BroadcastExchange"),
        s"shuffle on landed bucketed tables:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS graft_beacons_b_$suffix")
      spark.sql(s"DROP TABLE IF EXISTS graft_sessions_b_$suffix")
    }
  }

  test("co-located join of same-bucketed tables plans without a shuffle") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try withBucketedTables {
      val joined = spark.table("graft_beacons_b")
        .join(spark.table("graft_implants_b"), "implant_id")
      val plan = planOf(joined)
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"), s"shuffle on co-located join:\n$plan")
      assert(joined.count() === Tables.events(spark, dir).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }
}
