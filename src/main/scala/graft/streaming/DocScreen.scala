package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.operators.Dedup
import graft.plans.{DedupCatalog, LandedCatalog}

/** Streaming dedup-at-ingest: new documents arriving as files are
  * screened for near-duplicates against the LANDED signature catalog
  * per micro-batch — the same screen core the batch path runs
  * ([[graft.operators.Dedup.minhashLshScreen]]) — and because that
  * screen is catalog-only (each verdict depends on one document's
  * shingles and the catalog, never on batch-mates), the union of
  * per-batch verdicts equals the batch verdict REGARDLESS of how the
  * stream is micro-batched. StreamingSpec asserts that equality
  * file-by-file.
  *
  * The history side is landed ONCE ([[DedupCatalog.land]], three
  * bucketed tables) before the stream starts; each micro-batch then
  * costs batch-shingling + a candidate join that reads the catalog
  * co-partitioned on the band key — per-batch cost scales with the
  * batch, not with history (round 9's per-batch re-shingling gap,
  * closed).
  *
  * Exactly-once: checkpointed file source + an IDEMPOTENT sink —
  * each micro-batch overwrites its own `batch_id=<n>` partition, so
  * a batch replayed after a crash-before-offset-commit rewrites the
  * same rows instead of appending duplicates (the same batchId-keyed
  * idempotence discipline as [[graft.streaming]]'s AckSink; a blind
  * append would only be at-least-once).
  */
object DocScreen {

  /** Screen `srcDir`'s document files against `histDocs` (a static
    * (doc_id, text, …) frame); flagged rows land in `sinkDir`,
    * partitioned by micro-batch id. Read the verdicts with
    * `spark.read.parquet(sinkDir)` (the `batch_id` partition column
    * rides along).
    *
    * The catalog is landed under a name derived from `checkpointDir`
    * (raw-name-hashed, so distinct dirs can never share state): a
    * RESUMED stream — same checkpoint, even in a NEW session after a
    * crash — reattaches to the landed tables (and any appended
    * survivor partitions) without recomputation. A stream over a
    * different history must use a fresh checkpoint dir; reusing a
    * checkpoint PATH after wiping its contents requires dropping the
    * catalog too ([[LandedCatalog.drop]]) — batch ids restart at 0 and
    * would collide with the previous run's ingest partitions.
    */
  def incrementalNeardupScreen(spark: SparkSession, srcDir: String,
      schema: StructType, histDocs: DataFrame,
      sinkDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 1, appendAccepted: Boolean = false): Unit = {
    val cat = DedupCatalog.land(spark, histDocs,
      s"scr_${canonical(spark, checkpointDir)}")
    screenAgainstCatalog(spark, srcDir, schema, cat, sinkDir, checkpointDir,
      maxFilesPerTrigger, appendAccepted)
  }

  /** Canonical form of the checkpoint path for catalog-name
    * derivation: the catalog identity must be the checkpoint's
    * PHYSICAL location, not its spelling — the same dir referenced as
    * relative vs absolute vs trailing-slash after a restart would
    * otherwise hash to a different catalog name, and the resumed
    * stream would land a FRESH catalog (losing all appended survivor
    * history) while the checkpoint replays offsets against it.
    */
  private[streaming] def canonical(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p).toUri.toString
  }

  /** The production entry point: screen against an already-landed
    * catalog (for history landed out-of-band).
    *
    * With `appendAccepted` the full ingest loop runs: docs the screen
    * did NOT flag are recorded into the catalog as ingest partition
    * `batchId + 1`, so batch N+1 is screened against batch N's
    * survivors. The append is a dynamic partition overwrite keyed by
    * batch id — a replayed batch rewrites its own state partition, so
    * the catalog stays exactly-once under crash-replay just like the
    * verdict sink.
    */
  def screenAgainstCatalog(spark: SparkSession, srcDir: String,
      schema: StructType, cat: LandedCatalog.Handle,
      sinkDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 1, appendAccepted: Boolean = false): Unit = {
    EventStream.drainBatches(spark, srcDir, schema, checkpointDir,
        maxFilesPerTrigger) { (batch, batchId) =>
      val s = batch.sparkSession
      // materialized once: the verdicts feed the sink write AND the
      // accepted-set anti-join without recomputing the screen. In the
      // append loop the screen is BOUNDED to ingest partitions <=
      // batchId: a batch replayed after a crash-after-append would
      // otherwise see its own survivors (partition batchId+1) and
      // flag every one as a jac-1.0 self-duplicate.
      val catalogV = DedupCatalog.screen(s, batch, cat,
        maxIngestId = if (appendAccepted) Some(batchId) else None)
        .localCheckpoint(true)
      // the ingest loop additionally near-dups the batch WITHIN itself
      // (component-min survives): without this, two mutual near-dups
      // arriving in the SAME micro-batch both pass the catalog-only
      // screen and both land as "history". Catalog verdicts win for a
      // doc flagged by both (the anti-join), and a component whose min
      // is catalog-flagged drops entirely — its survivor is the
      // history doc (transitive one-survivor-per-set). Stateless mode
      // (appendAccepted=false) keeps the pure catalog screen, whose
      // verdicts are independent of micro-batching by construction.
      val verdicts = if (!appendAccepted) catalogV else {
        val intra = Dedup.intraBatchVerdicts(
          Dedup.minhashLshFrom(Dedup.shinglesOf(batch, "doc")), "doc_id", "jac")
          .join(catalogV.select("doc_id"), Seq("doc_id"), "left_anti")
        catalogV.unionByName(intra).localCheckpoint(true)
      }
      verdicts.write.mode("overwrite").parquet(s"$sinkDir/batch_id=$batchId")
      if (appendAccepted)
        DedupCatalog.append(s,
          batch.join(verdicts.select("doc_id"), Seq("doc_id"), "left_anti"),
          cat, batchId + 1)
      // the screen pins only batch-side subtrees, all registered under
      // foreachBatch's CLONED per-batch session — releasing that
      // session alone drops them without touching anything the caller
      // pinned on the outer session
      graft.Shared.releaseAll(s)
    }
  }
}
