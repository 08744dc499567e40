package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Multimodal}
import graft.plans.{LandedCatalog, SigCatalog}

/** Landed perceptual-signature catalog: the screen over the bucketed
  * band table must return exactly what the self-contained in-plan
  * operator returns, appended batches must become visible history,
  * maintenance must be verdict-invisible, and the candidate join must
  * read the catalog WITHOUT shuffling it.
  */
class SigCatalogSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def sigs = Multimodal.dhashSignatures(spark, dir)

  /** The gate's batch: odd ids, with ≡ 1 (mod 10) docs carrying their
    * even predecessor's signature one bit off — cross-parity planted
    * drops the catalog's history join must find (the corpus's own
    * twins share parity, so a raw odd batch never matches history).
    */
  private def plantedBatch: DataFrame = {
    val twin = sigs.select((col("doc_id") + 1).as("doc_id"), col("sh").as("h_sh"))
    sigs.filter(col("doc_id") % 2 === 1)
      .join(twin, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 1 && col("h_sh").isNotNull,
          col("h_sh").bitwiseXOR(lit(1L)))
          .otherwise(col("sh")).as("sh"))
  }

  test("screen against the landed catalog equals the brute-force screen rule") {
    import spark.implicits._
    val hist = sigs.filter(col("doc_id") % 2 === 0)
    val cat = SigCatalog.land(spark, hist, "spec_parity")
    try {
      val got = SigCatalog.screen(spark, plantedBatch, cat)
        .select("doc_id", "kept_by", "min_dist", "n_matches")
        .as[(Long, Long, Int, Long)].collect().toSeq
      // independent truth: the screen rule folded in Scala over the
      // collected signatures
      val h = hist.as[(Long, Long)].collect()
      val b = plantedBatch.as[(Long, Long)].collect()
      val want = b.flatMap { case (bid, bsh) =>
        val ms = (h.filter(_._1 != bid) ++ b.filter(p => p._1 < bid))
          .map { case (p, psh) => (p, graft.functions.TextImpl.hamming64(bsh, psh)) }
          .filter(_._2 <= 3)
        if (ms.isEmpty) None
        else Some((bid, ms.map(_._1).min, ms.map(_._2).min, ms.length.toLong))
      }.sortBy(_._1).toSeq
      assert(want.nonEmpty, "no screen matches in the corpus")
      // the planted cross-parity retouches give the HISTORY branch
      // real work: at least one verdict's witness is an even (landed)
      // doc at distance 1
      assert(want.exists { case (bid, p, d, _) =>
        bid % 10 == 1 && p % 2 == 0 && d == 1 },
        "no planted history drop in the corpus")
      assert(got === want)
    } finally LandedCatalog.drop(spark, cat)
  }

  test("append makes a batch part of history; replay idempotent; ingest bound honored") {
    // synthetic signatures give exact control over who pairs: 260's
    // word is one bit off 10260's (d=1), everyone else far away
    val base = 0x0123456789ABCDEFL
    val hist = Seq((100L, ~base), (101L, base ^ 0xFFFF0000L)).toDF("doc_id", "sh")
    val batch1 = Seq((260L, base)).toDF("doc_id", "sh")
    val batch2 = Seq((10261L, base ^ 1L)).toDF("doc_id", "sh")
    val cat = SigCatalog.land(spark, hist, "spec_append")
    try {
      val before = SigCatalog.screen(spark, batch2, cat).collect()
      assert(!before.exists(_.getLong(0) == 10261L),
        "twin flagged before its source signature entered history")
      SigCatalog.append(spark, batch1, cat, ingestId = 1)
      val after = SigCatalog.screen(spark, batch2, cat).collect()
      val hit = after.find(_.getLong(0) == 10261L)
      assert(hit.isDefined, s"planted twin not flagged after append: ${after.toSeq}")
      assert(hit.get.getLong(1) === 260L, s"wrong witness: $hit")
      assert(hit.get.getInt(2) === 1, s"wrong distance: $hit")
      // crash-replay idempotence: same ingest id overwrites, not appends
      SigCatalog.append(spark, batch1, cat, ingestId = 1)
      val replay = SigCatalog.screen(spark, batch2, cat).collect()
      assert(replay.toSeq.map(_.toString) === after.toSeq.map(_.toString),
        "replayed append changed screen results")
      // the ingest bound the streaming replay path relies on
      val bounded = SigCatalog.screen(spark, batch2, cat,
        maxIngestId = Some(0L)).collect()
      assert(!bounded.exists(_.getLong(0) == 10261L),
        "maxIngestId=0 still sees the appended partition")
    } finally LandedCatalog.drop(spark, cat)
  }

  test("compaction folds partitions without changing one verdict") {
    val hist = sigs.filter(col("doc_id") % 2 === 0)
    val cat = SigCatalog.land(spark, hist.filter(col("doc_id") % 6 === 0),
      "spec_compact")
    try {
      SigCatalog.append(spark, hist.filter(col("doc_id") % 6 === 2), cat,
        ingestId = 1)
      SigCatalog.append(spark, hist.filter(col("doc_id") % 6 === 4), cat,
        ingestId = 2)
      val batch = plantedBatch
      val before = SigCatalog.screen(spark, batch, cat).collect().toSeq
      // the staged screen sees history drops (append visibility) —
      // the planted twins' witnesses land in the APPENDED partitions
      // too ((bid-1) % 6 covers 0, 2 and 4), so a fold that lost an
      // appended row would change a verdict below
      assert(before.exists(r => r.getLong(1) % 2 == 0),
        "no history witness before compaction")
      LandedCatalog.compact(spark, cat, upToIngestId = 2)
      assert(LandedCatalog.floor(spark, cat) === 2L)
      val after = SigCatalog.screen(spark, batch, cat).collect().toSeq
      assert(after === before, "compaction changed screen verdicts")
      // partitions really folded: only the landing remains
      val parts = spark.table(cat.table("bands"))
        .select("ingest_id").distinct().as[Long].collect().sorted
      assert(parts.toSeq === Seq(0L), s"unfolded partitions: ${parts.toSeq}")
      // a bound below the floor is no longer honorable
      intercept[IllegalArgumentException] {
        SigCatalog.screen(spark, batch, cat, maxIngestId = Some(1L))
      }
    } finally LandedCatalog.drop(spark, cat)
  }

  test("expire forgets aged signature state and blocks resurrection") {
    import spark.implicits._
    val base = 0x0F0F0F0F0F0F0F0FL
    // the batch's only twin lives in the LANDING; a fresher appended
    // partition holds unrelated words
    val hist = Seq((100L, base)).toDF("doc_id", "sh")
    val fresh = Seq((200L, ~base)).toDF("doc_id", "sh")
    val batch = Seq((9001L, base ^ 2L)).toDF("doc_id", "sh")
    val cat = SigCatalog.land(spark, hist, "spec_expire")
    try {
      SigCatalog.append(spark, fresh, cat, ingestId = 1)
      val before = SigCatalog.screen(spark, batch, cat).collect()
      assert(before.exists(r => r.getLong(0) == 9001L && r.getLong(1) == 100L),
        s"landing twin not matched before expire: ${before.toSeq}")
      LandedCatalog.expire(spark, cat, minIngestId = 1)
      val after = SigCatalog.screen(spark, batch, cat).collect()
      assert(after.isEmpty,
        s"expired landing still matched: ${after.toSeq}")
      // age out batch 1 too; the floor rises and a re-append of the
      // expired id is blocked
      LandedCatalog.expire(spark, cat, minIngestId = 2)
      assert(LandedCatalog.floor(spark, cat) === 1L)
      intercept[IllegalArgumentException] {
        SigCatalog.append(spark, fresh, cat, ingestId = 1)
      }
      assert(SigCatalog.screen(spark, batch, cat).collect().isEmpty)
    } finally LandedCatalog.drop(spark, cat)
  }

  test("candidate join reads the landed band table without shuffling it") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val hist = sigs.filter(col("doc_id") % 2 === 0)
    // the planted batch keeps the history branch non-empty, so AQE
    // cannot eliminate it (an empty branch's scan vanishes from the
    // final plan and the assertion would pass vacuously)
    val cat = SigCatalog.land(spark, hist, "spec_plan")
    try {
      val df = SigCatalog.screen(spark, plantedBatch, cat)
      df.collect()
      val top = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
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
      paths.foreach { path =>
        val belowJoin = path.takeWhile(
          !_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
        assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"catalog band table shuffled before its candidate join:\n$top")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      LandedCatalog.drop(spark, cat)
    }
  }
}
