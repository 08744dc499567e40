package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.plans.{LandedCatalog, VecCatalog}

/** Streaming embedding dedup-at-ingest: new vectors arriving as files
  * are screened for near-duplicates against the LANDED bucket catalog
  * per micro-batch, using the same screen core as the batch path
  * ([[graft.operators.Similarity.embeddingScreen]]). The screen is
  * catalog-only (each verdict depends on one vector and the catalog,
  * never on batch-mates), so the union of per-batch verdicts equals
  * the batch verdict regardless of micro-batching — StreamingSpec
  * asserts that equality file-by-file.
  *
  * The history side is landed ONCE ([[VecCatalog.land]], two bucketed
  * tables) before the stream starts; each micro-batch costs batch
  * bucketing + a candidate join reading the catalog co-partitioned on
  * the bucket key — per-batch cost scales with the batch, not history.
  *
  * Exactly-once: checkpointed file source + idempotent sink — each
  * micro-batch overwrites its own `batch_id=<n>` partition, so a
  * batch replayed after a crash rewrites the same rows instead of
  * appending duplicates.
  */
object VecScreen {

  /** The production entry point: screen against an already-landed
    * catalog (history landed out-of-band).
    *
    * With `appendAccepted` the full ingest loop runs: vectors the
    * screen did NOT flag are recorded into the catalog as ingest
    * partition `batchId + 1` (dynamic partition overwrite — replay
    * rewrites the same partition, exactly-once like the verdict
    * sink), so batch N+1 is screened against batch N's survivors.
    */
  def screenAgainstCatalog(spark: SparkSession, srcDir: String,
      schema: StructType, cat: LandedCatalog.Handle,
      sinkDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 1, appendAccepted: Boolean = false,
      multiProbe: Boolean = false): Unit = {
    EventStream.drainBatches(spark, srcDir, schema, checkpointDir,
        maxFilesPerTrigger) { (batch, batchId) =>
      val s = batch.sparkSession
      // bounded to ingest partitions <= batchId in the append loop so
      // a crash-replayed batch cannot self-match against its own
      // pre-crash append
      val catalogV0 = VecCatalog.screen(s, batch, cat,
        maxIngestId = if (appendAccepted) Some(batchId) else None,
        multiProbe = multiProbe)
      // ingest loop: near-dup the batch WITHIN itself too
      // (component-min survives) — two mutual near-dup vectors in one
      // micro-batch must not both enter the catalog.
      // The checkpoint exists for the two-reader append path only; the
      // screen-only path writes the verdicts once and a forced
      // materialization job would be pure overhead.
      val verdicts = if (!appendAccepted) catalogV0 else {
        val catalogV = catalogV0.localCheckpoint(true)
        val intra = graft.operators.Dedup.intraBatchVerdicts(
          graft.operators.Similarity.embeddingNearDupLshFrom(batch),
          "vec_id", "cos")
          .join(catalogV.select("vec_id"), Seq("vec_id"), "left_anti")
        catalogV.unionByName(intra).localCheckpoint(true)
      }
      verdicts.write.mode("overwrite").parquet(s"$sinkDir/batch_id=$batchId")
      if (appendAccepted)
        VecCatalog.append(s,
          batch.join(verdicts.select("vec_id"), Seq("vec_id"), "left_anti"),
          cat, batchId + 1)
    }
  }

  /** Driver-gate REPLAY of the STREAMING semantic-decontamination
    * screen (tx_stream_decontam): the benchmark embedding set lands
    * once as [[VecCatalog]] state, the planted corpus slice ≥ 250
    * ([[graft.operators.Decontaminate]]'s shared plant) lands as two
    * mtime-ordered parquet slices ([250, 375) then ≥ 375), and
    * [[screenAgainstCatalog]] consumes them one file per micro-batch
    * with appendAccepted=false — the benchmark catalog is STATIC
    * between releases, so verdicts are batch-independent by
    * construction and the oracle is the batch screen's SQL
    * (StreamingSpec pins the stream == batch equality on the engine
    * side). Exactly-once, checkpointed, batch_id-partitioned sink —
    * the ClsScreen/GramScreen replay discipline on the vector
    * modality.
    */
  def decontamScreenReplayGate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val bench = emb.filter(col("vec_id") % 5 === 0)
    val corpus = graft.operators.Decontaminate.plantedCorpus(emb)
      .filter(col("vec_id") >= 250)
    val srcDir = ReplayGate.slicedSource(spark, dir, "graft_decon_src",
      corpus, "vec_id")
    val cat = VecCatalog.land(spark, bench, LandedCatalog.fingerprinted(spark,
      VecCatalog.Tag, dir, "stream_gate_graft_decon_src"))
    val base = ReplayGate.gateBase(spark, dir, "graft_decon_gate")
    screenAgainstCatalog(spark, srcDir, corpus.schema, cat,
      s"$base/sink", s"$base/ck")
    spark.read.parquet(s"$base/sink")
      .select(col("vec_id").as("doc_id"), col("n_matches").as("n_bench_hits"),
        col("matched_id").as("bench_id"), col("cos"))
      .orderBy("doc_id")
  }
}
