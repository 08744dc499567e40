package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup
import graft.plans.{DedupCatalog, LandedCatalog}

/** Landed near-dup catalog: the screen over bucketed state tables must
  * return exactly what the self-contained in-plan operator returns,
  * appended batches must become visible history (and survive session
  * restarts AND replays), and the candidate join must read the catalog
  * WITHOUT shuffling it (the whole point of landing: per-batch cost
  * scales with the batch).
  */
class DedupCatalogSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs = Tables.documents(spark, dir).select("doc_id", "text")

  test("screen against the landed catalog equals the in-plan incremental screen") {
    val hist = docs.filter(col("doc_id") % 2 === 0)
    val twin = docs.select((col("doc_id") + 1).as("doc_id"), col("text").as("h_text"))
    val batch = docs.filter(col("doc_id") % 2 === 1)
      .join(twin, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 3, concat(col("h_text"), lit(" zz")))
          .otherwise(col("text")).as("text"))
    val cat = DedupCatalog.land(spark, hist, "spec_parity")
    try {
      val got = DedupCatalog.screen(spark, batch, cat).collect().toSeq
      Shared.releaseAll(spark)
      val want = Dedup.minhashLshIncremental(
        Dedup.shinglesOf(batch, "doc"), Dedup.shinglesOf(hist, "doc")).collect().toSeq
      Shared.releaseAll(spark)
      assert(want.nonEmpty, "no catalog matches in the corpus")
      assert(got === want)
    } finally LandedCatalog.drop(spark, cat)
  }

  test("append makes a batch part of history; replay and ingest bounds hold") {
    val hist = docs.filter(col("doc_id") < 100)
    val batch1 = docs.filter(col("doc_id") >= 250 && col("doc_id") < 300)
    // batch2 plants a near-dup of a batch1 doc (not of original history)
    val batch2 = docs.filter(col("doc_id") === 260)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
    val cat = DedupCatalog.land(spark, hist, "spec_append")
    try {
      // before the append, batch2's twin is unknown to the catalog
      val before = DedupCatalog.screen(spark, batch2, cat).collect()
      Shared.releaseAll(spark)
      assert(!before.exists(_.getLong(0) == 10260L),
        "twin flagged before its source doc entered history")
      DedupCatalog.append(spark, batch1, cat, ingestId = 1)
      val after = DedupCatalog.screen(spark, batch2, cat).collect()
      Shared.releaseAll(spark)
      val hit = after.find(_.getLong(0) == 10260L)
      assert(hit.isDefined, s"planted twin not flagged after append: ${after.toSeq}")
      assert(hit.get.getLong(2) === 260L, s"wrong matched_id: $hit")
      // crash-replay idempotence: re-appending the SAME ingest id
      // overwrites that partition — screen results are unchanged
      // (a blind append would duplicate shingle rows and corrupt the
      // intersection counts, changing jac values)
      DedupCatalog.append(spark, batch1, cat, ingestId = 1)
      val replay = DedupCatalog.screen(spark, batch2, cat).collect()
      Shared.releaseAll(spark)
      assert(replay.toSeq.map(_.toString) === after.toSeq.map(_.toString),
        "replayed append changed screen results")
      // the ingest bound the streaming replay path relies on: with
      // maxIngestId = 0 the appended partition is invisible
      val bounded = DedupCatalog.screen(spark, batch2, cat,
        maxIngestId = Some(0L)).collect()
      Shared.releaseAll(spark)
      assert(!bounded.exists(_.getLong(0) == 10260L),
        "maxIngestId=0 still sees the appended partition")
    } finally LandedCatalog.drop(spark, cat)
  }

  test("a fresh session catalog reattaches to landed state without losing appends") {
    val hist = docs.filter(col("doc_id") < 100)
    val batch1 = docs.filter(col("doc_id") >= 250 && col("doc_id") < 300)
    val batch2 = docs.filter(col("doc_id") === 260)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
    val cat = DedupCatalog.land(spark, hist, "spec_restart")
    try {
      DedupCatalog.append(spark, batch1, cat, ingestId = 1)
      // simulate a crash-restart: the in-memory catalog loses the
      // table entries, the files survive (external tables)
      Seq(cat.table("bands"), cat.table("shingles"), cat.table("sizes"))
        .foreach(t => spark.sql(s"DROP TABLE $t"))
      val cat2 = DedupCatalog.land(spark, hist, "spec_restart")
      assert(cat2 === cat)
      // the appended partition must still be visible — a re-land from
      // histDocs alone would have erased batch1's survivors
      val after = DedupCatalog.screen(spark, batch2, cat2).collect()
      Shared.releaseAll(spark)
      assert(after.exists(r => r.getLong(0) == 10260L && r.getLong(2) == 260L),
        s"appended history lost across the restart: ${after.toSeq}")
    } finally LandedCatalog.drop(spark, cat)
  }

  test("candidate join reads the landed band table without shuffling it") {
    // broadcast disabled so a missing bucket spec would HAVE to show up
    // as an Exchange over the catalog scan
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val hist = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val cat = DedupCatalog.land(spark, hist, "spec_plan")
    try {
      val df = DedupCatalog.screen(spark, batch, cat)
      df.collect()
      val top = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // downstream aggregations shuffle legitimately; the landed-state
      // property is LOCAL — no Exchange between the catalog scan and
      // its candidate join (its nearest join ancestor). Collect every
      // root→scan ancestor path (expanding AQE stage leaves) and check
      // the segment below the nearest join.
      def pathsToBands(p: SparkPlan, anc: List[SparkPlan]): Seq[List[SparkPlan]] = {
        val here = p match {
          case f: FileSourceScanExec if f.toString.contains("_bands") =>
            Seq(p :: anc)
          case _ => Seq.empty
        }
        val kids = p match {
          case q: QueryStageExec => Seq(q.plan)
          case _ => p.children
        }
        here ++ kids.flatMap(pathsToBands(_, p :: anc))
      }
      val paths = pathsToBands(top, Nil)
      assert(paths.nonEmpty, s"band table scan not found in plan:\n$top")
      paths.foreach { path => // scan-first ancestor chain
        val belowJoin = path.takeWhile(
          !_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
        assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"catalog band table shuffled before its candidate join:\n$top")
      }
      Shared.releaseAll(spark)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      LandedCatalog.drop(spark, cat)
    }
  }
}
