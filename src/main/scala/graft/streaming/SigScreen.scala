package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.plans.{LandedCatalog, SigCatalog}

/** Streaming perceptual dedup-at-ingest — the banded-signature twin
  * of [[VecScreen]]: micro-batches of 64-bit
  * fingerprints (image dHash, audio envelope, video frame-mean — any
  * `(doc_id, sh)` stream) are screened against the landed
  * [[SigCatalog]] bounded to ingest partitions ≤ batchId, verdicts
  * land partitioned by batch id, and the batch's SURVIVORS (docs the
  * screen did not drop) append as partition batchId + 1 — the full
  * ingest loop: batch N + 1 is screened against batch N's survivors,
  * dropped duplicates never pollute the catalog.
  *
  * [[SigCatalog.screen]] already carries both drop branches (catalog
  * twin at ANY id, intra-batch twin at a LOWER id), so one call per
  * micro-batch is the whole verdict. Parity contract: verdicts are
  * order-dependent (the later copy drops), so stream == the
  * sequential per-batch loop over the same files in the same order —
  * the oracle replays exactly that, batch by batch.
  *
  * Exactly-once: checkpointed file source; the verdict write
  * overwrites its own `batch_id=<n>` partition and the survivor
  * append is a dynamic partition overwrite of partition batchId + 1,
  * with the screen bounded to ≤ batchId — a batch replayed after a
  * crash-after-append rewrites identical state and can never see its
  * own signatures as history.
  */
object SigScreen {

  def sigScreen(spark: SparkSession, srcDir: String, schema: StructType,
      cat: LandedCatalog.Handle, sinkDir: String, checkpointDir: String,
      maxHamming: Int = 3, maxFilesPerTrigger: Int = 1): Unit = {
    EventStream.drainBatches(spark, srcDir, schema, checkpointDir,
        maxFilesPerTrigger) { (batch, batchId) =>
      val s = batch.sparkSession
      val verdicts = SigCatalog.screen(s, batch, cat, maxHamming,
        maxIngestId = Some(batchId)).localCheckpoint(true)
      verdicts.write.mode("overwrite").parquet(s"$sinkDir/batch_id=$batchId")
      SigCatalog.append(s,
        batch.join(verdicts.select("doc_id"), Seq("doc_id"), "left_anti"),
        cat, batchId + 1)
      graft.Shared.releaseAll(s)
    }
  }

  /** Driver-gate REPLAY of the streaming perceptual screen
    * (mm_stream_phash): dHash signatures of docs ≥ 250 land once per
    * (scale dir, content fingerprint) as two mtime-ordered parquet
    * slices ([250, 375) then ≥ 375), docs < 250 land as the
    * signature catalog, and [[sigScreen]] consumes the slices one
    * file per micro-batch — batch 0 screens against the landing,
    * batch 1 against landing + batch 0's appended survivors. The
    * phash corpus's planted twins sit 20 and 40 ids apart, so
    * history hits, previous-batch hits and intra-batch hits all
    * occur naturally across the 250/375 slicing. The oracle replays
    * the sequential two-batch loop (including the survivor rule) in
    * SQL, so the engine side genuinely executes Structured Streaming
    * with cross-batch catalog growth while every verdict is
    * value-checked.
    *
    * Determinism across invocations: checkpoint/sink are per-(dir,
    * process) and recreated per call; the screen is bounded to
    * ≤ batchId, so partitions appended by a previous invocation are
    * invisible to the replayed batches and the re-append overwrites
    * identical content.
    */
  def phashScreenReplayGate(spark: SparkSession, dir: String): DataFrame =
    screenReplayGate(spark, dir,
      graft.operators.Multimodal.dhashSignatures(spark, dir), "")

  /** The audio twin (mm_stream_afp): envelope fingerprints of the
    * twin-planted WAV corpus through the same streaming loop — the
    * modality-generic claim of [[sigScreen]] made executable for a
    * second signature kind. Twin plants sit 8 and 16 ids apart, so
    * the 250/375 slicing again produces history, previous-batch and
    * intra-batch hits.
    */
  def audioScreenReplayGate(spark: SparkSession, dir: String): DataFrame =
    screenReplayGate(spark, dir,
      graft.operators.Multimodal.audioFingerprints(spark, dir)
        .filter(col("valid")).select(col("doc_id"), col("afp").as("sh")),
      "afp_")

  /** The video twin (mm_stream_vfp): frame-mean fingerprints through
    * the same loop — third signature kind, zero new screen code.
    */
  def videoScreenReplayGate(spark: SparkSession, dir: String): DataFrame =
    screenReplayGate(spark, dir,
      graft.operators.Multimodal.videoFingerprints(spark, dir)
        .filter(col("valid")).select(col("doc_id"), col("vfp").as("sh")),
      "vfp_")

  private def screenReplayGate(spark: SparkSession, dir: String,
      sigs: DataFrame, tag: String): DataFrame = {
    val hist = sigs.filter(col("doc_id") < 250)
    // tag "" and "afp_"/"vfp_" alike drop their trailing underscore:
    // the landing name re-appends it
    val srcPrefix = s"graft_sig_src_$tag".stripSuffix("_")
    val srcDir = ReplayGate.slicedSource(spark, dir, srcPrefix,
      sigs.filter(col("doc_id") >= 250), "doc_id")
    val cat = SigCatalog.land(spark, hist, LandedCatalog.fingerprinted(spark,
      SigCatalog.Tag, dir, s"stream_gate_$srcPrefix"))
    val base = ReplayGate.gateBase(spark, dir,
      s"graft_sig_gate_$tag".stripSuffix("_"))
    sigScreen(spark, srcDir, sigs.schema, cat, s"$base/sink", s"$base/ck")
    spark.read.parquet(s"$base/sink")
      .select(col("doc_id"), col("kept_by"), col("min_dist"), col("n_matches"))
      .orderBy("doc_id")
  }
}
