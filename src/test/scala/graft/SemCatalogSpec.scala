package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity
import graft.plans.{LandedCatalog, SemCatalog}

/** Landed semantic-dedup catalog: the screen over the cid-bucketed
  * cells table must equal the self-contained in-plan screen, appends
  * must become visible history ASSIGNED WITH THE LANDED GEOMETRY, and
  * the within-cell candidate join must read the catalog without
  * shuffling it.
  */
class SemCatalogSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")

  /** hist = even ids, batch = odd ids with every 7th === 3 (mod 7)
    * replaced by its even twin's embedding — no intra-batch pairs, so
    * the history-only catalog screen and the full in-plan screen
    * agree exactly.
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

  test("screen against the landed cells equals the in-plan semantic screen") {
    val (hist, batch) = split
    val cat = SemCatalog.land(spark, hist, "spec_sem_parity")
    try {
      val got = SemCatalog.screen(spark, batch, cat).collect().toSeq
      val want = Similarity.semanticScreenFrom(batch, hist).collect().toSeq
      assert(want.nonEmpty, "no planted matches in the corpus")
      assert(got === want)
    } finally LandedCatalog.drop(spark, cat)
  }

  test("append joins history under the LANDED geometry; earlier verdicts unchanged") {
    val hist = emb.filter(col("vec_id") < 100)
    val batch1 = emb.filter(col("vec_id") >= 250 && col("vec_id") < 300)
    val batch2 = emb.filter(col("vec_id") === 260)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val cat = SemCatalog.land(spark, hist, "spec_sem_append")
    try {
      val before = SemCatalog.screen(spark, batch1, cat).collect().toSeq
      // batch1 has no history mates; 10260 = exact copy of 260, only
      // flaggable once 260 entered the catalog as batch1's survivor
      assert(SemCatalog.screen(spark, batch2, cat).collect().isEmpty)
      SemCatalog.append(spark, batch1, cat, 1L)
      val hits = SemCatalog.screen(spark, batch2, cat)
        .select("vec_id", "kept_by").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(hits.toSeq === Seq((10260L, 260L)), s"got ${hits.toSeq}")
      // the geometry is pinned: re-screening batch1 (bounded to the
      // landing) still yields its pre-append verdicts
      val after = SemCatalog.screen(spark, batch1, cat, maxIngestId = Some(0L))
        .collect().toSeq
      assert(after === before)
    } finally LandedCatalog.drop(spark, cat)
  }

  test("within-cell candidate join reads the landed cells without shuffling them") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (hist, batch) = split
    val cat = SemCatalog.land(spark, hist, "spec_sem_plan")
    try {
      val df = SemCatalog.screen(spark, batch, cat)
      df.collect()
      val top = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      def pathsToCells(p: SparkPlan, anc: List[SparkPlan]): Seq[List[SparkPlan]] = {
        val here = p match {
          case f: FileSourceScanExec if f.toString.contains("_cells") =>
            Seq(p :: anc)
          case _ => Seq.empty
        }
        val kids = p match {
          case q: QueryStageExec => Seq(q.plan)
          case _ => p.children
        }
        here ++ kids.flatMap(pathsToCells(_, p :: anc))
      }
      val paths = pathsToCells(top, Nil)
      assert(paths.nonEmpty, s"cells table scan not found in plan:\n$top")
      paths.foreach { path =>
        val belowJoin = path.takeWhile(
          !_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
        assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"landed cells shuffled before the candidate join:\n$top")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      LandedCatalog.drop(spark, cat)
    }
  }
}
