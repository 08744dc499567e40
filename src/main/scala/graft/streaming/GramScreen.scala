package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.plans.{GramCatalog, LandedCatalog}

/** Streaming substring-dedup-at-ingest: each micro-batch of documents
  * is span-screened against the landed gram-stats catalog
  * ([[GramCatalog]]) bounded to ingest partitions ≤ batchId, the
  * spans land in the sink partitioned by batch id, and the batch's
  * OWN gram stats append as partition batchId + 1 — so the next batch
  * sees this one as history. Every batch appends (substring dedup
  * keeps documents and cuts spans later, unlike [[VecScreen]]'s
  * drop-the-duplicate screen, so there is no accepted/rejected split
  * to gate the append on).
  *
  * Parity contract (pinned in StreamingSpec): the gram screen's
  * verdicts are inherently ORDER-dependent — a duplicated run flags
  * in the LATER copy — so stream == the sequential per-batch loop
  * (`dupSpansIncrementalFrom` with accumulating stats) over the same
  * files in the same order, which is the incremental contract. The
  * whole-corpus backfill ([[graft.operators.Dedup.dupSpans]]) is a
  * different operator answering a different question.
  *
  * Exactly-once: checkpointed file source; the verdict write
  * overwrites its own `batch_id=<n>` partition and the stats append
  * is a dynamic partition overwrite of partition batchId + 1, with
  * the screen bounded to ≤ batchId — a batch replayed after a
  * crash-after-append rewrites identical state and can never see its
  * own grams as history.
  */
object GramScreen {

  def spanScreen(spark: SparkSession, srcDir: String, schema: StructType,
      cat: LandedCatalog.Handle, sinkDir: String, checkpointDir: String,
      minDocs: Int = 2, maxFilesPerTrigger: Int = 1): Unit = {
    EventStream.drainBatches(spark, srcDir, schema, checkpointDir,
        maxFilesPerTrigger) { (batch, batchId) =>
      val s = batch.sparkSession
      // no checkpoint: the span frame has exactly one reader (the
      // sink write), so an eager materialization job would be pure
      // overhead; the append below never affects this screen (bounded
      // to ingest partitions <= batchId)
      val spans = GramCatalog.screen(s, batch, cat, minDocs,
        maxIngestId = Some(batchId))
      spans.write.mode("overwrite").parquet(s"$sinkDir/batch_id=$batchId")
      GramCatalog.append(s, batch, cat, batchId + 1)
      graft.Shared.releaseAll(s)
    }
  }

  /** Driver-gate REPLAY of the streaming span screen
    * (tx_stream_spans): documents ≥ 250 land once per (scale dir,
    * content fingerprint) as two mtime-ordered parquet slices
    * ([250, 375) then ≥ 375), docs < 250 land as the gram catalog,
    * and [[spanScreen]] consumes the slices one file per micro-batch
    * — screening batch 0 against the catalog and batch 1 against
    * catalog + batch 0's appended stats. The oracle replays the
    * sequential two-batch loop in SQL, so the ENGINE side of this
    * gate genuinely executes Structured Streaming with cross-batch
    * catalog growth while the verdict is value-checked batch by
    * batch (the EventStream.sessionReplayGate discipline applied to
    * the substring family).
    *
    * Determinism across invocations: the checkpoint/sink are
    * per-(dir, process) and recreated per call; the catalog screen
    * is bounded to ≤ batchId, so partitions appended by a previous
    * invocation are invisible to the replayed batches and the
    * re-append overwrites identical content.
    */
  def spanScreenReplayGate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
    val hist = docs.filter(col("doc_id") < 250)
    val srcDir = ReplayGate.slicedSource(spark, dir, "graft_gram_src",
      docs.filter(col("doc_id") >= 250), "doc_id")
    val cat = GramCatalog.land(spark, hist, LandedCatalog.fingerprinted(spark,
      GramCatalog.Tag, dir, "stream_gate_graft_gram_src"))
    val base = ReplayGate.gateBase(spark, dir, "graft_gram_gate")
    spanScreen(spark, srcDir, docs.schema, cat, s"$base/sink", s"$base/ck")
    spark.read.parquet(s"$base/sink")
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_grams"))
      .orderBy("doc_id", "span_start")
  }
}
