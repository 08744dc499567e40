package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark-contamination detection: flag corpus documents sharing at
  * least `minShared` distinct shingles with a benchmark/holdout set —
  * the decontamination primitive of a training-data curation pipeline.
  *
  * The benchmark side is an explicit argument (the API seam for a real
  * external benchmark table) and carries NO broadcast hint: a real
  * benchmark set is tiny and Spark's size estimate / AQE picks a
  * broadcast join on its own, while a corpus-proportional "benchmark"
  * (like the synthetic every-5th-doc holdout at sf‑whatever) plans a
  * shuffle join instead of OOMing the driver on a forced broadcast.
  * TrainingSpec pins exactly that: with broadcast thresholds disabled
  * the plan contains no broadcast exchange, i.e. nothing in this
  * operator forces one.
  */
object Decontaminate {

  /** @param corpusShingles (doc_id, sg) — one row per distinct shingle
    *                       per corpus doc (see Dedup.shingleTable)
    * @param benchShingles  shingle set of the benchmark/holdout; only
    *                       its `sg` column is read, deduped here
    * @param minShared      flag threshold on distinct shared shingles
    * @return (doc_id, n_shared) for flagged docs, ordered by doc_id
    */
  def overlap(corpusShingles: DataFrame, benchShingles: DataFrame,
      minShared: Int = 3): DataFrame =
    corpusShingles
      .join(benchShingles.select("sg").distinct(), "sg")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_id")

  /** SEMANTIC benchmark decontamination — the paraphrase-leak screen
    * gram overlap cannot provide: a corpus document is flagged when
    * its EMBEDDING sits within cosine `threshold` of any benchmark
    * member's embedding, catching test-set passages that were
    * reworded (zero shared shingles, near-identical meaning vector).
    * TrainingSpec plants exactly such a twin and proves [[overlap]]
    * misses it while this screen flags it.
    *
    * Never all-pairs: this is [[Similarity.embeddingScreen]] with the
    * BENCHMARK side as the landed history — corpus vectors bucket by
    * hyperplane signature, candidates come from (table, bucket)
    * collisions against the benchmark's bucket keys, and only
    * candidates pay the exact decimal verify. A real benchmark set is
    * thousands of vectors, so its bucket-key frame broadcasts and the
    * whole screen is one map-side pass over the corpus at 100 TB; the
    * corpus side is never shuffled on anything wider than its own
    * bucket explosion.
    *
    * @return one row per flagged corpus doc:
    *   (doc_id, n_bench_hits, bench_id = min matching benchmark id,
    *   cos = best match, exact decimal, rounded to 6)
    */
  def semanticOverlap(corpusEmb: DataFrame, benchEmb: DataFrame,
      threshold: Double = 0.95): DataFrame =
    Similarity.embeddingScreen(
      corpusEmb.select("vec_id", "embedding"),
      Similarity.bucketKeys(benchEmb, "vec_id"),
      benchEmb.select("vec_id", "embedding"), threshold)
      .select(col("vec_id").as("doc_id"), col("n_matches").as("n_bench_hits"),
        col("matched_id").as("bench_id"), col("cos"))
      .orderBy("doc_id")

  /** Driver-gate surface: benchmark = vectors ≡ 0 (mod 5) (the same
    * holdout convention as the gram-overlap gates), corpus = the
    * rest. The synthetic corpus has no natural ≥ 0.95 pairs, so the
    * gate PLANTS semantic leaks (the twin discipline): corpus vectors
    * ≡ 3 (mod 40) take their v−3 benchmark member's embedding — an
    * exact copy, the id arithmetic guaranteeing v−3 ≡ 0 (mod 5) — so
    * the flag path fires at every scale and the oracle rebuilds the
    * identical planted table.
    */
  def semanticGate(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir).select("vec_id", "embedding")
    semanticOverlap(plantedCorpus(emb), emb.filter(col("vec_id") % 5 === 0))
  }

  /** The planted corpus side shared by the one-shot, at-ingest and
    * streaming semantic-decontamination gates (ONE copy so the leak
    * plant can never drift): non-benchmark vectors, with ≡ 3 (mod 40)
    * ids taking their v−3 benchmark member's embedding.
    */
  private[graft] def plantedCorpus(emb: DataFrame): DataFrame = {
    val twin = emb.select((col("vec_id") + 3).as("vec_id"),
      col("embedding").as("b_emb"))
    emb.filter(col("vec_id") % 5 =!= 0)
      .join(twin, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("vec_id") % 40 === 3, coalesce(col("b_emb"), col("embedding")))
          .otherwise(col("embedding")).as("embedding"))
  }

  /** The AT-INGEST twin (tx_semantic_decontam_incr): the benchmark
    * set lands ONCE as [[graft.plans.VecCatalog]] state (two bucketed
    * tables — the band keys co-partitioned on the candidate-join key,
    * so the catalog side never shuffles) and each arriving corpus
    * batch screens against it — the production shape: benchmark sets
    * change rarely (a re-land per benchmark release), corpus batches
    * arrive continuously, and per-batch cost scales with the batch,
    * never the benchmark. Batch = the planted corpus slice ≥ 250
    * (the house arriving-half convention).
    */
  def semanticIncrGate(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val bench = emb.filter(col("vec_id") % 5 === 0)
    val cat = graft.plans.VecCatalog.land(spark, bench,
      graft.plans.LandedCatalog.fingerprinted(spark, graft.plans.VecCatalog.Tag,
        dir, "semdecon"))
    val batch = plantedCorpus(emb).filter(col("vec_id") >= 250)
    graft.plans.VecCatalog.screen(spark, batch, cat)
      .select(col("vec_id").as("doc_id"), col("n_matches").as("n_bench_hits"),
        col("matched_id").as("bench_id"), col("cos"))
      .orderBy("doc_id")
  }
}
