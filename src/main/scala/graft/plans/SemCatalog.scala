package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.plans.LandedCatalog.{Handle, Spec}

/** Landed semantic-dedup catalog — the SemDeDup twin of
  * [[VecCatalog]]: the history side of the cluster-then-prune screen
  * is assigned ONCE into its cells and landed as one cid-bucketed
  * table, so every later screen joins the batch's cell assignments
  * against a co-partitioned history — only the (small) batch side
  * shuffles, and per-batch cost scales with the batch, never the
  * corpus.
  *
  *  - `<name>_cells` (vec_id, cid, embedding): history vectors with
  *    their cell assignment, bucketed by `cid` (the within-cell
  *    candidate join's key);
  *  - `<root>/cents` (cid, ce): the landing's centroid geometry as
  *    plain parquet — PINNED: every batch (and every append) is
  *    assigned with these exact centroids, so verdicts can never
  *    shift because later arrivals displaced a seed, and a fresh
  *    session reattaches to the same geometry.
  *
  * Landing, appends, reattach and maintenance are [[LandedCatalog]]'s
  * (compaction leaves the geometry untouched — cells only move
  * between partitions; drop removes it with the root).
  */
object SemCatalog {

  val Tag = "graft_smcat"

  private val specs =
    Seq(Spec("cells", "vec_id BIGINT, cid BIGINT, embedding ARRAY<FLOAT>, ingest_id BIGINT",
      "cid", Seq("cid")))

  /** `emb` assigned with the LANDED geometry. Empty-geometry guard:
    * the literal-argmax assignment yields a typed NULL cid when the
    * centroid set is empty; screens never match a null cid, but a
    * PERSISTED null-cid state row would outlive the bootstrap, so it
    * is filtered before landing or appending.
    */
  private def cells(spark: SparkSession, emb: DataFrame, h: Handle): Seq[DataFrame] =
    Seq(Similarity.withAssignedCid(emb, cents(spark, h))
      .filter(col("cid").isNotNull)
      .select(col("vec_id"), col("cid"), col("embedding")))

  /** Land `histEmb` as the semantic catalog `name` (ingest partition
    * 0): seed centroids, persist the geometry, assign, write the
    * cid-bucketed cells table.
    */
  def land(spark: SparkSession, histEmb: DataFrame, name: String,
      nCentroids: Int = 16, nBuckets: Int = 8,
      base: String = LandedCatalog.defaultBase(Tag)): Handle = {
    val h = LandedCatalog.handle(Tag, name, base, specs)
    LandedCatalog.land(spark, h, nBuckets) {
      Similarity.ivfCentroids(histEmb, nCentroids)
        .write.mode("overwrite").parquet(s"${h.root}/cents")
      cells(spark, histEmb, h)
    }
  }

  /** The landed centroid geometry (cid, ce) — k rows of parquet. */
  def cents(spark: SparkSession, h: Handle): DataFrame =
    spark.read.parquet(s"${h.root}/cents")
      .select(col("cid"), col("ce"))

  /** Record accepted batch members as ingest partition `ingestId`,
    * assigned with the LANDED geometry (never re-seeded).
    */
  def append(spark: SparkSession, emb: DataFrame, h: Handle,
      ingestId: Long): Unit =
    LandedCatalog.append(spark, h, ingestId)(cells(spark, emb, h))

  /** Screen a batch against the landed cells: assign with the PINNED
    * landed geometry, then the within-cell candidate join against the
    * co-partitioned history — history-only verdicts
    * (vec_id, cid, kept_by, max_cos), the [[VecCatalog.screen]]
    * contract (the ingest loop adds the intra-batch rule itself).
    * `maxIngestId` bounds visible history (see
    * [[LandedCatalog.history]]).
    */
  def screen(spark: SparkSession, batchEmb: DataFrame, h: Handle,
      threshold: Double = 0.95, maxIngestId: Option[Long] = None): DataFrame = {
    val Seq(hist) = LandedCatalog.history(spark, h, maxIngestId)
    val b = Similarity.withAssignedCid(batchEmb, cents(spark, h))
      .select(col("cid"), col("vec_id").as("b_id"), col("embedding").as("vb"))
    Similarity.semanticRollup(Similarity.semanticHits(b,
      hist.select(col("cid"), col("vec_id").as("h_id"), col("embedding").as("vh")),
      threshold))
  }
}
