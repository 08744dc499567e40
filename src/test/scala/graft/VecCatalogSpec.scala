package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity
import graft.plans.{LandedCatalog, VecCatalog}

/** Landed embedding catalog: the screen over bucketed state tables
  * must return exactly what the self-contained in-plan operator
  * returns, appended batches must become visible history, and the
  * candidate join must read the catalog WITHOUT shuffling it.
  */
class VecCatalogSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")

  /** hist = even ids, batch = odd ids with every 7th === 3 (mod 7)
    * replaced by its even twin's embedding (exact copy, cos 1.0).
    */
  private def split: (DataFrame, DataFrame) = {
    val hist = emb.filter(col("vec_id") % 2 === 0)
    val twin = emb.select((col("vec_id") + 1).as("vec_id"), col("embedding").as("h_emb"))
    val batch = emb.filter(col("vec_id") % 2 === 1)
      .join(twin, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("vec_id") % 7 === 3, col("h_emb"))
          .otherwise(col("embedding")).as("embedding"))
    (hist, batch)
  }

  test("screen against the landed catalog equals the in-plan incremental screen") {
    val (hist, batch) = split
    val cat = VecCatalog.land(spark, hist, "spec_parity")
    try {
      val got = VecCatalog.screen(spark, batch, cat).collect().toSeq
      val want = References.embeddingNearDupIncremental(batch, hist).collect().toSeq
      assert(want.nonEmpty, "no catalog matches in the corpus")
      assert(got === want)
    } finally LandedCatalog.drop(spark, cat)
  }

  test("append makes a batch part of history for the next screen") {
    val hist = emb.filter(col("vec_id") < 100)
    val batch1 = emb.filter(col("vec_id") >= 250 && col("vec_id") < 300)
    // batch2 plants an exact copy of a batch1 vector (not of original
    // history)
    val batch2 = emb.filter(col("vec_id") === 260)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val cat = VecCatalog.land(spark, hist, "spec_append")
    try {
      val before = VecCatalog.screen(spark, batch2, cat).collect()
      assert(!before.exists(_.getLong(0) == 10260L),
        "twin flagged before its source vector entered history")
      VecCatalog.append(spark, batch1, cat, ingestId = 1)
      val after = VecCatalog.screen(spark, batch2, cat).collect()
      val hit = after.find(_.getLong(0) == 10260L)
      assert(hit.isDefined, s"planted twin not flagged after append: ${after.toSeq}")
      assert(hit.get.getLong(2) === 260L, s"wrong matched_id: $hit")
      assert(hit.get.getDouble(3) > 0.999, s"twin score not ~1: $hit")
      // crash-replay idempotence: same ingest id overwrites, not appends
      VecCatalog.append(spark, batch1, cat, ingestId = 1)
      val replay = VecCatalog.screen(spark, batch2, cat).collect()
      assert(replay.toSeq.map(_.toString) === after.toSeq.map(_.toString),
        "replayed append changed screen results")
      // the ingest bound the streaming replay path relies on
      val bounded = VecCatalog.screen(spark, batch2, cat,
        maxIngestId = Some(0L)).collect()
      assert(!bounded.exists(_.getLong(0) == 10260L),
        "maxIngestId=0 still sees the appended partition")
    } finally LandedCatalog.drop(spark, cat)
  }

  test("candidate join reads the landed bucket table without shuffling it") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (hist, batch) = split
    val cat = VecCatalog.land(spark, hist, "spec_plan")
    try {
      val df = VecCatalog.screen(spark, batch, cat)
      df.collect()
      val top = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // the landed-state property is LOCAL: no Exchange between the
      // catalog scan and its nearest join ancestor (downstream aggs
      // shuffle legitimately)
      def pathsToBuckets(p: SparkPlan, anc: List[SparkPlan]): Seq[List[SparkPlan]] = {
        val here = p match {
          case f: FileSourceScanExec if f.toString.contains("_buckets") =>
            Seq(p :: anc)
          case _ => Seq.empty
        }
        val kids = p match {
          case q: QueryStageExec => Seq(q.plan)
          case _ => p.children
        }
        here ++ kids.flatMap(pathsToBuckets(_, p :: anc))
      }
      val paths = pathsToBuckets(top, Nil)
      assert(paths.nonEmpty, s"bucket table scan not found in plan:\n$top")
      paths.foreach { path =>
        val belowJoin = path.takeWhile(
          !_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
        assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"catalog bucket table shuffled before its candidate join:\n$top")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      LandedCatalog.drop(spark, cat)
    }
  }

  test("multi-probe screen flags a near-boundary catalog twin single-probe misses") {
    import spark.implicits._
    // plant a batch/history pair above the screen threshold that
    // shares NO bucket in any of the 4 tables (single-probe blind) but
    // sits one sign-flip away in >=1 table (multi-probe reach) — the
    // same construction as the lshTopK multi-probe spec, with the
    // extra cos >= 0.96 constraint the screen verify needs
    val (k, l) = (8, 4)
    val signs = Similarity.hyperplaneSigns(k * l, 64)
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.map(i => a(i).toDouble * b(i)).sum
    def pdot(v: Array[Float], p: Array[Int]): Double =
      v.indices.map(i => v(i).toDouble * p(i)).sum
    def bucket(v: Array[Float], t: Int): Int =
      (0 until k).map(p => if (pdot(v, signs(t * k + p)) > 0) 1 << p else 0).sum
    def buckets(v: Array[Float]): Seq[Int] = (0 until l).map(t => bucket(v, t))
    def normalize(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val rnd = new scala.util.Random(13)
    def draw() = normalize(Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
    // ±0.06/component -> |δ|² ≈ 64·0.06²/3 ≈ 0.077 -> cos ≈ 0.964:
    // above the 0.95 screen threshold yet far enough off-axis that all
    // four 8-bit buckets split with ~7% probability per draw
    def perturb(b: Array[Float]) =
      normalize(b.map(x => x + (rnd.nextDouble() * 0.12 - 0.06).toFloat))
    val planted = Iterator.continually { val b = draw(); (b, perturb(b)) }
      .take(5000).find { case (a, b) =>
        val (ba, bb) = (buckets(a), buckets(b))
        dot(a, b) >= 0.96 &&
          (0 until l).forall(t => ba(t) != bb(t)) &&
          (0 until l).exists(t => Integer.bitCount(ba(t) ^ bb(t)) == 1)
      }
    assert(planted.nonEmpty, "no qualifying pair in 5000 seeded draws")
    val (q, n) = planted.get
    val fillers = (101L to 110L).map(id => (id, draw()))
    val hist = ((100L, n) +: fillers).toDF("vec_id", "embedding")
    val batch = Seq((0L, q)).toDF("vec_id", "embedding")
    val cat = VecCatalog.land(spark, hist, "spec_multiprobe")
    try {
      val single = VecCatalog.screen(spark, batch, cat).collect()
      assert(single.isEmpty,
        s"planted pair unexpectedly co-bucketed — the plant is broken: ${single.toSeq}")
      val multi = VecCatalog.screen(spark, batch, cat, multiProbe = true).collect()
      assert(multi.length === 1 && multi.head.getLong(0) === 0L &&
        multi.head.getLong(2) === 100L,
        s"multi-probe screen missed the 1-bit-away twin: ${multi.toSeq}")
    } finally LandedCatalog.drop(spark, cat)
  }
}
