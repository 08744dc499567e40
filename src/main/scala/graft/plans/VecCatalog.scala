package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Similarity
import graft.plans.LandedCatalog.{Handle, Spec}

/** Landed embedding-screening catalog — the vector twin of
  * [[DedupCatalog]]: the history side of the hyperplane-LSH near-dup
  * screen is computed ONCE, landed as two bucketed tables, and
  * appended per accepted batch, so every later screen's cost scales
  * with its batch, never with the corpus.
  *
  *  - `<name>_buckets` (vec_id, tk): multi-table hyperplane bucket
  *    keys, bucketed by `tk` — the candidate join reads it
  *    co-partitioned on the join key, so only the (small) batch side
  *    shuffles;
  *  - `<name>_vectors` (vec_id, embedding): the raw vectors, bucketed
  *    by `vec_id` — the decimal-verify join key.
  *
  * Landing, appends, reattach and maintenance are [[LandedCatalog]]'s.
  */
object VecCatalog {

  val Tag = "graft_vccat"

  private val specs = Seq(
    Spec("buckets", "vec_id BIGINT, tk STRING, ingest_id BIGINT", "tk", Seq("tk")),
    Spec("vectors", "vec_id BIGINT, embedding ARRAY<FLOAT>, ingest_id BIGINT",
      "vec_id", Seq("vec_id")))

  private def rows(emb: DataFrame): Seq[DataFrame] =
    Seq(Similarity.bucketKeys(emb, "vec_id"), emb.select("vec_id", "embedding"))

  /** Land `histEmb` (a (vec_id, embedding) frame) as the screening
    * catalog `name`, as ingest partition 0.
    */
  def land(spark: SparkSession, histEmb: DataFrame, name: String,
      nBuckets: Int = 8, base: String = LandedCatalog.defaultBase(Tag)): Handle =
    LandedCatalog.land(spark, LandedCatalog.handle(Tag, name, base, specs),
      nBuckets)(rows(histEmb))

  /** Record `emb` (accepted batch members) as ingest partition
    * `ingestId` so the next screen sees them as history.
    */
  def append(spark: SparkSession, emb: DataFrame, h: Handle,
      ingestId: Long): Unit =
    LandedCatalog.append(spark, h, ingestId)(rows(emb))

  /** Screen a batch of vectors against the landed catalog — the
    * per-ingest-batch operator. `maxIngestId` bounds the visible
    * history (see [[LandedCatalog.history]]).
    */
  def screen(spark: SparkSession, batchEmb: DataFrame, h: Handle,
      threshold: Double = 0.95, maxIngestId: Option[Long] = None,
      multiProbe: Boolean = false): DataFrame = {
    val Seq(buckets, vectors) = LandedCatalog.history(spark, h, maxIngestId)
    Similarity.embeddingScreen(batchEmb, buckets.select("vec_id", "tk"),
      vectors.select("vec_id", "embedding"), threshold, multiProbe = multiProbe)
  }
}
