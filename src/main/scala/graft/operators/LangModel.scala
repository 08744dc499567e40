package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Character n-gram language-model scoring — the CCNet-family quality
  * signal (Wenzek et al. 2020, "CCNet: Extracting High Quality
  * Monolingual Datasets from Web Crawl Data"): score every document
  * by how probable its character sequence is under a model trained on
  * a reference slice, then filter/bucket on the score. The reference
  * pipeline trains a 5-gram KenLM on Wikipedia; the engine's twin is
  * a Laplace-smoothed character-trigram model trained on a
  * deterministic in-corpus slice — same shape (tiny model, huge
  * corpus), same downstream use (head/middle/tail quality cuts via
  * the calibration machinery behind tx_quality_threshold).
  *
  * The scoring surface is [[lmScore]]: integer-exact average trigram
  * probability (scaled by 1e9, floor-divided) — engine-portable to
  * the bit, the driver-gate surface.
  *
  * Scale shape: the model is VOCABULARY-sized (≤ alphabet³ contexts —
  * a few thousand rows for lowercased text), aggregated with one
  * gram-keyed shuffle over the training slice, then BROADCAST to
  * score the corpus: scoring is a map-side join over the exploded
  * trigram stream (corpus-char-sized, narrow) plus one doc_id-keyed
  * partial-aggregated rollup. The alphabet size enters as a
  * broadcast scalar subquery, not a driver-side collect, so the
  * builder stays a lazy plan. At 100 TB nothing changes: the model
  * still fits in one broadcast, the corpus-side work is one scan +
  * one aggregation, and the scaled probability (n3+1)·1e9 is
  * computed in DECIMAL so trigram counts past ~9.2e9 (where the
  * BIGINT intermediate would overflow — a 10% train slice of a
  * 100 TB corpus gets there for common trigrams) stay exact.
  */
object LangModel {

  /** Probability scale for the integer-exact score: P ≈ p_e9 / 1e9. */
  val ScaleE9 = 1000000000L

  /** Character trigrams of `lower(text)`: (doc_id, ctx = 2 chars,
    * nxt = 1 char), one row per position. Docs shorter than 3 chars
    * contribute (and receive) nothing.
    *
    * The text splits to a char array ONCE per doc and windows read it
    * with O(1) `element_at` — NOT per-position `substring(lt, i, _)`,
    * which on a multibyte-capable UTF8String walks bytes from offset
    * 0 every call, turning extraction O(len²) per document (measured
    * 22 s for the sf1 corpus vs 2.5 s this way; CJK text makes the
    * multibyte path the common case, not the exception). Result is
    * character-identical to the substring form — the oracle keeps
    * plain `substr`.
    */
  private def charTrigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(lower(col("text")), "").as("cs"))
      .filter(size(col("cs")) >= 3)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("cs")) - 2)).as("i"), col("cs"))
      .select(col("doc_id"),
        concat(element_at(col("cs"), col("i")),
          element_at(col("cs"), col("i") + 1)).as("ctx"),
        element_at(col("cs"), col("i") + 2).as("nxt"))

  /** The trained model: (ctx, nxt, n3) trigram counts, (ctx, n2)
    * context totals, and the alphabet size V as a 1-row frame —
    * P(nxt | ctx) = (n3 + 1) / (n2 + V), Laplace-smoothed so unseen
    * events score 1/(n2+V) and unseen contexts 1/V.
    */
  private def model(train: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val m3 = charTrigrams(train).groupBy("ctx", "nxt")
      .agg(count(lit(1)).as("n3"))
    val m2 = m3.groupBy("ctx").agg(sum("n3").as("n2"))
    val v = m3.agg(countDistinct(col("nxt")).as("vsz"))
    (m3, m2, v)
  }

  /** Integer-exact LM score over the `documents` table: the model
    * trains on the `doc_id % 10 == 0` slice, every doc (with ≥ 1
    * trigram) gets (n_tri, avg_p_e9) where avg_p_e9 is the mean of
    * floor((n3+1)·1e9 / (n2+V)) over its trigrams, floor-divided —
    * all BIGINT arithmetic, bit-identical in any engine.
    */
  def lmScore(spark: SparkSession, dir: String): DataFrame =
    lmScoreFrom(Tables.documents(spark, dir))

  /** [[lmScore]] over an arbitrary (doc_id, text, …) frame; `trainMod`
    * picks the training slice as doc_id % trainMod == 0.
    */
  def lmScoreFrom(docs: DataFrame, trainMod: Int = 10): DataFrame = {
    val (m3, m2, v) = model(docs.filter(col("doc_id") % trainMod === 0))
    val scored = charTrigrams(docs)
      .join(broadcast(m3), Seq("ctx", "nxt"), "left")
      .join(broadcast(m2), Seq("ctx"), "left")
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        // DECIMAL product: (n3+1)·1e9 overflows BIGINT once a single
        // trigram count passes ~9.2e9 — real at 100 TB train slices.
        // DECIMAL(28,0) holds counts to 1e19; `div` floors back to
        // BIGINT, so the value is unchanged wherever BIGINT sufficed.
        expr(s"cast(coalesce(n3, 0L) + 1L as decimal(28, 0)) * ${ScaleE9}L " +
          "div (coalesce(n2, 0L) + vsz)").as("p"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"), sum("p").as("sp"))
      .select(col("doc_id"), col("n_tri"),
        expr("sp div n_tri").as("avg_p_e9"))
      .orderBy("doc_id")
  }
}
