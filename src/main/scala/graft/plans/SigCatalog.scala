package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.plans.LandedCatalog.{Handle, Spec}

/** Landed perceptual-signature catalog — the production state store
  * behind the banded at-ingest screens (`mm_phash_incr` /
  * `mm_audio_fp_incr` / `mm_video_fp_incr` recompute their history
  * side in-plan every run; this lands it once): ONE bucketed table
  *
  *  - `<name>_bands` (doc BIGINT, bk BIGINT, sh BIGINT): the
  *    4 × 16-bit pigeonhole band keys folded into ONE join key
  *    (bk = band·2¹⁶ + value — the DedupCatalog convention) plus the
  *    full signature, bucketed by `bk` — the screen's candidate join
  *    reads history co-partitioned on the band key, so only the
  *    (small) batch side shuffles, and the Hamming verify needs no
  *    second join because `sh` rides the band row (8 extra bytes).
  *
  * One catalog implementation serves EVERY 64-bit Hamming modality —
  * image dHash, audio envelope, video frame-mean fingerprints are
  * all `(doc_id, sh)` tables; the modality lives in the catalog
  * name. Landing, appends, reattach and maintenance are
  * [[LandedCatalog]]'s.
  */
object SigCatalog {

  val Tag = "graft_sgcat"

  private val specs =
    Seq(Spec("bands", "doc BIGINT, bk BIGINT, sh BIGINT, ingest_id BIGINT",
      "bk", Seq("bk")))

  private def bandRows(sigs: DataFrame): Seq[DataFrame] =
    Seq(Dedup.bandKeys(sigs)
      .select(col("doc_id").as("doc"),
        (col("band") * 65536 + col("bv")).as("bk"), col("sh")))

  /** Land `histSigs` (a (doc_id, sh) signature frame) as the
    * screening catalog `name`, as ingest partition 0.
    */
  def land(spark: SparkSession, histSigs: DataFrame, name: String,
      nBuckets: Int = 8, base: String = LandedCatalog.defaultBase(Tag)): Handle =
    LandedCatalog.land(spark, LandedCatalog.handle(Tag, name, base, specs),
      nBuckets)(bandRows(histSigs))

  /** Record `sigs` (accepted batch members) as ingest partition
    * `ingestId` so the next screen sees them as history.
    */
  def append(spark: SparkSession, sigs: DataFrame, h: Handle,
      ingestId: Long): Unit =
    LandedCatalog.append(spark, h, ingestId)(bandRows(sigs))

  /** Screen a batch of signatures `(doc_id, sh)` against the landed
    * catalog — the per-ingest-batch operator, with exactly
    * [[Dedup.bandedIncrementalScreen]]'s verdict semantics: a batch
    * doc drops on a HISTORY twin within `maxHamming` (ANY id — landed
    * copies win regardless) or on a LOWER-id twin inside its own
    * batch; min eligible witness, closest distance, match count.
    * History candidates come from the co-partitioned band join
    * (history never rescans itself); intra-batch twins from the
    * in-plan banded pair join over the batch alone — both branches
    * scale with the batch, never with the corpus. `maxIngestId`
    * bounds the visible history (see [[LandedCatalog.history]]).
    */
  def screen(spark: SparkSession, batchSigs: DataFrame, h: Handle,
      maxHamming: Int = 3, maxIngestId: Option[Long] = None): DataFrame = {
    require(maxHamming <= 3, "4 x 16-bit bands are only complete for d <= 3")
    val Seq(hist) = LandedCatalog.history(spark, h, maxIngestId)
    val Seq(bb) = bandRows(batchSigs)
    // b != p mirrors the in-plan screen's strict pair inequality: a
    // crash-replayed batch bounded ABOVE its own append (maxIngestId)
    // cannot see itself anyway, but an unbounded mis-call must not
    // let a doc self-match at distance 0
    val histPairs = bb.as("b").join(hist.as("p"),
        col("b.bk") === col("p.bk") && col("b.doc") =!= col("p.doc"))
      .select(col("b.doc").as("b"), col("p.doc").as("p"),
        graft.functions.TextExpressions
          .hamming64(col("b.sh"), col("p.sh")).as("dist"))
      .filter(col("dist") <= maxHamming)
      .distinct()
    val batchPairs = Dedup.simhashPairsFrom(batchSigs, maxHamming)
      .select(col("j").as("b"), col("i").as("p"), col("dist"))
    histPairs.union(batchPairs)
      .groupBy(col("b").as("doc_id"))
      .agg(min("p").as("kept_by"), min("dist").as("min_dist"),
        count(lit(1)).as("n_matches"))
      .orderBy("doc_id")
  }
}
