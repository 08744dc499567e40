package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup
import graft.plans.{GramCatalog, LandedCatalog}

/** Landed gram-stats catalog: the screen over the bucketed stats
  * table must equal the self-contained in-plan incremental screen,
  * appended batches must merge into visible history (SUM df across
  * partitions), the merge aggregate must read the bucketed layout
  * without an Exchange, and a fresh session must reattach to landed
  * state without losing appends.
  */
class GramCatalogSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs = Tables.documents(spark, dir).select("doc_id", "text")

  test("screen against the landed catalog equals the in-plan incremental screen") {
    val hist = docs.filter(col("doc_id") < 250)
    val batch = docs.filter(col("doc_id") >= 250)
    val cat = GramCatalog.land(spark, hist, "spec_eq")
    try {
      val landed = GramCatalog.screen(spark, batch, cat)
        .orderBy("doc_id", "span_start").collect().toSeq
      val inPlan = Dedup.dupSpansIncrementalFrom(batch,
          Dedup.gramStats(hist, Dedup.ShingleN))
        .orderBy("doc_id", "span_start").collect().toSeq
      Shared.releaseAll(spark)
      assert(landed.nonEmpty && landed === inPlan)
    } finally LandedCatalog.drop(spark, cat)
  }

  test("append merges into history: a cross-partition gram flags; the bound excludes it") {
    import spark.implicits._
    val hist = Seq((0L, "h0 h1 h2 h3 h4 h5")).toDF("doc_id", "text")
    val b1 = Seq((100L, "aa bb cc dd ee x0 x1")).toDF("doc_id", "text")
    val b2 = Seq((200L, "y0 aa bb cc dd ee y1")).toDF("doc_id", "text")
    val cat = GramCatalog.land(spark, hist, "spec_merge")
    try {
      // before the append nothing matches b2 (aa..ee unseen)
      val before = GramCatalog.screen(spark, b2, cat).collect()
      assert(before.isEmpty, s"unexpected spans before append: ${before.toSeq}")
      GramCatalog.append(spark, b1, cat, 1L)
      // after: the gram has df 1 (partition 1) + 1 (batch) = 2 -> span
      val after = GramCatalog.screen(spark, b2, cat)
        .as[(Long, Int, Int, Long)].collect()
      assert(after === Array((200L, 1, 5, 1L)), s"got: ${after.toSeq}")
      // a replayed batch bounded at its own horizon sees none of it
      val bounded = GramCatalog.screen(spark, b2, cat, maxIngestId = Some(0L))
        .collect()
      assert(bounded.isEmpty, s"bound ignored: ${bounded.toSeq}")
      // idempotent replay: re-appending batch 1 overwrites, never
      // double-counts (df stays 2, same single span)
      GramCatalog.append(spark, b1, cat, 1L)
      val replayed = GramCatalog.screen(spark, b2, cat)
        .as[(Long, Int, Int, Long)].collect()
      assert(replayed === after)
    } finally LandedCatalog.drop(spark, cat)
  }

  test("the merge aggregate reads the bucketed stats table without an Exchange") {
    val cat = GramCatalog.land(spark, docs.filter(col("doc_id") < 250), "spec_plan")
    try {
      val df = GramCatalog.stats(spark, cat)
      df.collect()
      val top = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      def pathsToScan(p: SparkPlan, anc: List[SparkPlan]): Seq[List[SparkPlan]] = {
        val here = p match {
          case f: FileSourceScanExec if f.toString.contains("_stats") =>
            Seq(p :: anc)
          case _ => Seq.empty
        }
        val kids = p match {
          case q: QueryStageExec => Seq(q.plan)
          case _ => p.children
        }
        here ++ kids.flatMap(pathsToScan(_, p :: anc))
      }
      val paths = pathsToScan(top, Nil)
      assert(paths.nonEmpty, s"stats table scan not found:\n$top")
      paths.foreach { path =>
        assert(!path.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"merge aggregate shuffled the bucketed stats table:\n$top")
      }
    } finally LandedCatalog.drop(spark, cat)
  }

  test("compact is invisible to the merged view; floors reject folded replays and stale bounds") {
    import spark.implicits._
    val hist = Seq((0L, "h0 h1 h2 h3 h4 h5")).toDF("doc_id", "text")
    val b1 = Seq((100L, "aa bb cc dd ee x0 x1")).toDF("doc_id", "text")
    val b2 = Seq((200L, "p0 p1 p2 p3 p4 p5 p6")).toDF("doc_id", "text")
    val cat = GramCatalog.land(spark, hist, "spec_compact")
    try {
      GramCatalog.append(spark, b1, cat, 1L)
      GramCatalog.append(spark, b2, cat, 2L)
      val before = GramCatalog.stats(spark, cat)
        .as[(String, Long, Long)].collect().toSet
      def nParts = new java.io.File(s"${cat.root}/stats")
        .listFiles().count(_.getName.startsWith("ingest_id="))
      assert(nParts === 3)
      LandedCatalog.compact(spark, cat, 2L)
      val after = GramCatalog.stats(spark, cat)
        .as[(String, Long, Long)].collect().toSet
      assert(after === before, "compaction changed the merged view")
      assert(nParts === 1, "folded partitions not dropped")
      assert(LandedCatalog.floor(spark, cat) === 2L)
      // folded batch ids can never re-append (their df would double)
      intercept[IllegalArgumentException](GramCatalog.append(spark, b1, cat, 1L))
      // a screen bound below the floor cannot be honored
      intercept[IllegalArgumentException](
        GramCatalog.stats(spark, cat, maxIngestId = Some(1L)).collect())
      // at the floor is fine
      assert(GramCatalog.stats(spark, cat, maxIngestId = Some(2L))
        .as[(String, Long, Long)].collect().toSet === before)
    } finally LandedCatalog.drop(spark, cat)
  }

  test("compact invariance holds across randomized disjoint batches") {
    import spark.implicits._
    // the "distinct() can never merge legitimate rows" proof leans on
    // disjoint-batch gmins; exercise it over randomized small-vocab
    // corpora where identical (gram, df) pairs across batches are
    // common and only gmin separates them
    val rnd = new scala.util.Random(23)
    def mkDocs(ids: Range) = ids.map { id =>
      (id.toLong, (1 to 6 + rnd.nextInt(14)).map(_ => s"w${rnd.nextInt(6)}").mkString(" "))
    }
    for (trial <- 1 to 3) {
      val b0 = mkDocs(0 until 6).toDF("doc_id", "text")
      val b1 = mkDocs(100 until 106).toDF("doc_id", "text")
      val b2 = mkDocs(200 until 206).toDF("doc_id", "text")
      val cat = GramCatalog.land(spark, b0, s"spec_rand_$trial", k = 4)
      try {
        GramCatalog.append(spark, b1, cat, 1L)
        GramCatalog.append(spark, b2, cat, 2L)
        val before = GramCatalog.stats(spark, cat)
          .as[(String, Long, Long)].collect().toSet
        LandedCatalog.compact(spark, cat, 1L)
        assert(GramCatalog.stats(spark, cat)
          .as[(String, Long, Long)].collect().toSet === before,
          s"trial $trial: partial compact changed the view")
        LandedCatalog.compact(spark, cat, 2L)
        assert(GramCatalog.stats(spark, cat)
          .as[(String, Long, Long)].collect().toSet === before,
          s"trial $trial: full compact changed the view")
      } finally LandedCatalog.drop(spark, cat)
    }
  }

  test("expire forgets aged history: an expired gram stops flagging") {
    import spark.implicits._
    val hist = Seq((0L, "aa bb cc dd ee h0")).toDF("doc_id", "text")
    val b1 = Seq((100L, "q0 q1 q2 q3 q4 q5")).toDF("doc_id", "text")
    val probe = Seq((200L, "y0 aa bb cc dd ee y1")).toDF("doc_id", "text")
    val cat = GramCatalog.land(spark, hist, "spec_expire")
    try {
      GramCatalog.append(spark, b1, cat, 1L)
      assert(GramCatalog.screen(spark, probe, cat).count() === 1L)
      // drop the landing (partition 0): its aa..ee run is forgotten
      LandedCatalog.expire(spark, cat, minIngestId = 1L)
      assert(GramCatalog.screen(spark, probe, cat).count() === 0L,
        "expired history still flags")
    } finally LandedCatalog.drop(spark, cat)
  }

  test("a fresh session catalog reattaches to landed state without losing appends") {
    import spark.implicits._
    val hist = Seq((0L, "h0 h1 h2 h3 h4 h5")).toDF("doc_id", "text")
    val b1 = Seq((100L, "aa bb cc dd ee x0 x1")).toDF("doc_id", "text")
    val b2 = Seq((200L, "y0 aa bb cc dd ee y1")).toDF("doc_id", "text")
    val cat = GramCatalog.land(spark, hist, "spec_restart")
    try {
      GramCatalog.append(spark, b1, cat, 1L)
      // crash-restart: table entry lost, files survive
      spark.sql(s"DROP TABLE ${cat.table("stats")}")
      val cat2 = GramCatalog.land(spark, hist, "spec_restart")
      assert(cat2 === cat)
      val after = GramCatalog.screen(spark, b2, cat2)
        .as[(Long, Int, Int, Long)].collect()
      assert(after === Array((200L, 1, 5, 1L)),
        s"appended history lost across the restart: ${after.toSeq}")
    } finally LandedCatalog.drop(spark, cat)
  }
}
