package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{JobExecutionStatus, SparkContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** A [[Tables]] read takes its schema from the parquet footer on the
  * driver: it must fire no Spark job and return the schema that
  * `spark.read.parquet` infers.
  */
class TablesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
  private lazy val nanosFixture = getClass.getResource("/nanos_events").getPath

  private val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
    "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events, "documents" -> Tables.documents,
    "embeddings" -> Tables.embeddings)

  /** `spark.read.parquet`'s schema, with `events.ts` as [[Tables.events]]
    * adapts it: a UTC timestamp whatever the file stores.
    */
  private def inferred(s: SparkSession, d: String, name: String): StructType = {
    val schema = s.read.parquet(Tables.path(d, name)).schema
    if (name != "events") schema
    else StructType(schema.map(f => if (f.name == "ts") f.copy(dataType = TimestampType) else f))
  }

  /** A session that reads TIMESTAMP(NANOS) as BIGINT, as GraftSession's does. */
  private def nanosSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set(nanosKey, "true")
    s
  }

  test("every loader returns the schema inference gives") {
    val s = nanosSession()
    for ((name, load) <- loaders) withClue(name) {
      assert(load(s, dir).schema === inferred(s, dir, name))
    }
    assert(Tables.events(s, nanosFixture).schema === inferred(s, nanosFixture, "events"))
  }

  test("every loader fires no Spark job") {
    val s = nanosSession()
    val foreign = spark.newSession()
    foreign.conf.set(nanosKey, "false")
    for ((name, load) <- loaders) withClue(name) {
      assert(TablesSpec.jobsOf(spark)(load(s, dir))._2 === Nil)
    }
    assert(TablesSpec.jobsOf(spark)(Tables.events(s, nanosFixture))._2 === Nil)
    assert(TablesSpec.jobsOf(spark)(Tables.events(foreign, nanosFixture))._2 === Nil,
      "the foreign-session read of a NANOS file")
    // the counter sees the inference job a bare read fires
    assert(TablesSpec.jobsOf(spark)(s.read.parquet(Tables.path(dir, "region")))._2.size === 1)
  }

  test("the interactive benchmark's builders fire no Spark job without an action") {
    GraftSession.registerAll(spark)
    val builders = Seq(
      "dq01_scan_filter_project", "dq02_typed_projection", "dq03_multi_predicate",
      "dq07_ttl_filter", "dq09_validation", "dq15_bitmask_flags", "dq17_b64_roundtrip",
      "dq19_hash_agg", "dq21_count_distinct", "dq25_topk", "dq27_json_scalar",
      "dq33_percentiles", "ig_mac_format", "ig_dns_decode", "ig_xtea_roundtrip",
      "ig_tlv_roundtrip")
    try for (name <- builders) withClue(name) {
      assert(TablesSpec.jobsOf(spark)(SparkEntry.queries(name)(spark, dir))._2 === Nil)
    } finally Shared.releaseAll(spark)
  }

  test("an events file whose ts is a string still fails loudly") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_events_str").toString
    Seq((1L, "2024-01-01 00:00:00")).toDF("event_id", "ts")
      .write.parquet(Tables.path(d, "events"))
    val e = intercept[IllegalStateException](Tables.events(spark, d))
    assert(e.getMessage.contains("events.ts"))
  }
}

object TablesSpec {

  private val groups = new AtomicInteger

  /** Runs `body` in a job group of its own; returns its result and the
    * ids of the jobs it fired. The status tracker is fed by the
    * listener bus in order, so once a sentinel job submitted after
    * `body` is visible, every job `body` fired is visible too.
    */
  def jobsOf[A](spark: SparkSession)(body: => A): (A, Seq[Int]) = {
    val sc = spark.sparkContext
    val n = groups.incrementAndGet()
    def inGroup[B](g: String)(b: => B): B = {
      sc.setJobGroup(g, g)
      try b finally sc.clearJobGroup()
    }
    val out = inGroup(s"graft_jobs_$n")(body)
    inGroup(s"graft_jobs_${n}_sentinel")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(s"graft_jobs_${n}_sentinel").isEmpty) {
      assert(System.nanoTime() < deadline, "the sentinel job never reached the status tracker")
      Thread.sleep(10)
    }
    (out, sc.statusTracker.getJobIdsForGroup(s"graft_jobs_$n").toSeq.sorted)
  }

  /** Failed jobs and failed tasks among `jobs`. */
  def failures(sc: SparkContext, jobs: Seq[Int]): (Int, Int) = {
    val infos = jobs.flatMap(sc.statusTracker.getJobInfo)
    (infos.count(_.status == JobExecutionStatus.FAILED),
      infos.flatMap(_.stageIds).flatMap(sc.statusTracker.getStageInfo).map(_.numFailedTasks).sum)
  }
}
