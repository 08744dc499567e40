package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Dedup
import graft.plans.LandedCatalog.{Handle, Spec}

/** Landed near-dup screening catalog — the production shape of the
  * incremental dedup surface (closing round 9's "history recomputed
  * in-plan" gap): the history side of the MinHash screen is computed
  * ONCE, landed as three bucketed tables, and appended per accepted
  * batch, so every later screen's cost scales with its batch, never
  * with the corpus.
  *
  *  - `<name>_bands`    (doc, bk): band keys, bucketed by `bk` — the
  *    candidate join reads it co-partitioned on the join key, so only
  *    the (small) batch side shuffles;
  *  - `<name>_shingles` (doc, sg): shingle sets, bucketed by `doc` —
  *    the Jaccard-verify join key;
  *  - `<name>_sizes`    (doc, n): shingle-set sizes, bucketed by `doc`.
  *
  * Landing, replay-idempotent appends, bounded history reads,
  * reattach in a new session and maintenance are [[LandedCatalog]]'s.
  * ids are BIGINT by contract (the catalog's DDL is fixed).
  */
object DedupCatalog {

  val Tag = "graft_ddcat"

  private val specs = Seq(
    Spec("bands", "doc BIGINT, bk STRING, ingest_id BIGINT", "bk", Seq("bk")),
    Spec("shingles", "doc BIGINT, sg STRING, ingest_id BIGINT", "doc", Seq("doc", "sg")),
    Spec("sizes", "doc BIGINT, n BIGINT, ingest_id BIGINT", "doc", Seq("doc")))

  /** Band keys, shingles and sizes of `docs`; both intermediates are
    * pinned (the lifecycle releases them after the write).
    */
  private def rows(docs: DataFrame): Seq[DataFrame] = {
    val sh = graft.Shared.materialize(
      Dedup.shinglesOf(docs, "doc").toDF("doc", "sg"))
    val sig = graft.Shared.materialize(Dedup.minhashSignaturesFrom(sh, "doc"))
    Seq(Dedup.bandKeys(sig, "doc"), sh, sig.select("doc", "n"))
  }

  /** Land `histDocs` (a (doc_id, text, …) frame) as the screening
    * catalog `name`, as ingest partition 0.
    */
  def land(spark: SparkSession, histDocs: DataFrame, name: String,
      nBuckets: Int = 8, base: String = LandedCatalog.defaultBase(Tag)): Handle =
    LandedCatalog.land(spark, LandedCatalog.handle(Tag, name, base, specs),
      nBuckets)(rows(histDocs))

  /** Record `docs` (accepted batch members) as ingest partition
    * `ingestId` so the next screen sees them as history.
    */
  def append(spark: SparkSession, docs: DataFrame, h: Handle,
      ingestId: Long): Unit =
    LandedCatalog.append(spark, h, ingestId)(rows(docs))

  /** Screen a batch of documents against the landed catalog — the
    * per-ingest-batch operator. Everything batch-sized is derived
    * in-plan; everything history-sized is a bucketed table read,
    * bounded by `maxIngestId` (see [[LandedCatalog.history]]).
    */
  def screen(spark: SparkSession, batchDocs: DataFrame, h: Handle,
      threshold: Double = Dedup.JaccardThreshold,
      maxIngestId: Option[Long] = None): DataFrame = {
    val Seq(bands, shingles, sizes) = LandedCatalog.history(spark, h, maxIngestId)
    Dedup.minhashLshScreen(Dedup.shinglesOf(batchDocs, "doc"),
      bands.select("doc", "bk"), shingles.select("doc", "sg"),
      sizes.select("doc", "n"), threshold)
  }
}
