package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming operators mirroring the reference's stateful semantics
  * (SURVEY §2.9): incremental file ingest with checkpoints (the
  * hcOwt.py mtime-diff loop is exactly Spark's file source), gap
  * sessionization (client_session.h SESSION_TIMEOUT) and windowed
  * aggregation over event time. The 60-day inactivity self-delete
  * (`self_delete.c:19-57,229-276`) is computed in batch by the
  * `ig_ttl_tombstones` gate ([[graft.queries.IngestPack.ttlTombstones]]).
  *
  * All operators are defined on unbounded DataFrames; specs replay the
  * driver's `events` table through a file source micro-batch by
  * micro-batch and assert equality with the batch answers
  * (streaming=batch parity, SURVEY §5.2).
  */
object EventStream {

  /** Incremental file-source ingest: the checkpointed directory scan
    * that replaces hcOwt's pickle-of-mtimes. `maxFilesPerTrigger=1`
    * forces one micro-batch per file so state paths actually run
    * incrementally in tests.
    */
  def fromDirectory(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  private def startToMemory(df: DataFrame, name: String,
      outputMode: String): StreamingQuery =
    df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()

  /** One memory-sink table per replay gate, dropped and rebuilt per
    * invocation: a unique name per call would leak the full aggregated
    * result on the driver heap for the session's lifetime (bench runs
    * each gate many times; memory-sink temp views outlive
    * clearCache/releaseAll).
    */
  private def replayToTable(spark: SparkSession, srcDir: String, agg: DataFrame,
      name: String): DataFrame = {
    spark.catalog.dropTempView(name)
    withStateParts(spark, srcDir) {
      startToMemory(agg, name, "complete")
    }.awaitTermination()
    spark.table(name)
  }

  /** Scale-adaptive STATE partition count for a stateful replay
    * stream, derived from the source's landed byte size (AQE cannot
    * run inside a streaming query — the state-store fan-out is pinned
    * at query start from spark.sql.shuffle.partitions, so an
    * unconditioned session constant is wrong at one of the two
    * scales, exactly the anti-pattern the optimization guide's
    * partitioning rules call out). The divisor is AQE's own
    * minPartitionSize floor (default 1 MB), not the 64 MB advisory
    * target: a state partition's fixed cost is a per-batch store
    * commit, far cheaper than a task-launch-sized unit of work, and
    * the session-window merge is sort-based so starving it of
    * parallelism costs real time (measured on the 3 MB replay source:
    * 32 stores × 4 micro-batches spent more time in delta commits
    * than aggregation — window gate 4.4 → 1.7 s — while ONE partition
    * serialized the session merge, 4.4 s vs 3.0 s at the 3 the floor
    * yields). Capped by the session's shuffle-partition setting, so a
    * cluster-sized input saturates at the configured fan-out.
    */
  private[graft] def statePartitionsFor(spark: SparkSession, srcDir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(srcDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = fs.getContentSummary(p).getLength
    val minPart = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB"))
    // a non-integer session setting (e.g. "auto" on some platforms)
    // must degrade to a sane cap, not kill the stream at plan time
    val cap = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toInt).getOrElse(200)
    math.max(1, math.min(cap,
      math.ceil(bytes.toDouble / math.max(minPart, 1L)).toInt))
  }

  /** Start a streaming query over the landed source at `srcDir` with
    * the input-derived shuffle partition count. Structured Streaming
    * snapshots the session when `start()` builds the query (the
    * stream's own session clone and its offset-log conf), so the state
    * operators and every foreachBatch `batch.sparkSession` keep the
    * count, while the caller's setting is restored as soon as
    * `start()` returns.
    * The stream itself must start on the caller's session: one started
    * on a clone registers with the clone's StreamingQueryManager, out
    * of reach of the caller's `spark.streams` listeners. Two consumers
    * share this:
    *
    *  - STATEFUL replay gates: the state-store fan-out is pinned at
    *    query start from spark.sql.shuffle.partitions and AQE cannot
    *    run inside a streaming query, so an unconditioned session
    *    constant is wrong at one of the two scales;
    *  - foreachBatch SCREEN gates: the per-batch screen jobs plan
    *    while the stream drains, with AQE disabled on the streaming
    *    plan — every batch-sized shuffle (gram distinct/df screen,
    *    banded join, verdict rollup, catalog append) fanned out to the
    *    session's core-count setting over KB-sized batches (measured:
    *    the span screen spent 3-5 s per 125-doc batch, dominated by
    *    32-way task launch across ~8 tiny shuffles).
    *
    * The count can only SHRINK from the session setting (capped), so
    * cluster-scale behavior is unchanged; it derives from landed
    * source bytes, not core count, so it is not a local[32] tune.
    */
  private[streaming] def withStateParts(spark: SparkSession, srcDir: String)(
      start: => StreamingQuery): StreamingQuery = {
    val key = "spark.sql.shuffle.partitions"
    val was = spark.conf.get(key)
    spark.conf.set(key, statePartitionsFor(spark, srcDir).toString)
    try start finally spark.conf.set(key, was)
  }

  /** Drain `srcDir`'s files through `batchFn` once per micro-batch
    * (checkpointed file source, foreachBatch, AvailableNow) and block
    * until every available file is processed — the one drain of the
    * foreachBatch screens. Starts under [[withStateParts]]: AQE is off
    * on the streaming plan, so the per-batch screen jobs take their
    * fan-out from the source's size.
    */
  def drainBatches(spark: SparkSession, srcDir: String,
      schema: org.apache.spark.sql.types.StructType, checkpointDir: String,
      maxFilesPerTrigger: Int)(batchFn: (DataFrame, Long) => Unit): Unit =
    withStateParts(spark, srcDir) {
      fromDirectory(spark, srcDir, schema, maxFilesPerTrigger)
        .writeStream
        .foreachBatch(batchFn)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
    }.awaitTermination()

  /** Land the replay source once per (scale dir, content fingerprint)
    * and return its path + schema — shared by the streaming replay
    * gates, which all micro-batch over the same 8 time-range slices.
    */
  private[graft] def replaySrcDir(spark: SparkSession, dir: String):
      (String, org.apache.spark.sql.types.StructType) = {
    val src = graft.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
    val srcDir = graft.Shared.landOnce(spark, dir, "graft_stream_src_v2") { p =>
      src.repartitionByRange(8, col("ts")).write.mode("overwrite").parquet(p)
    }
    (srcDir, src.schema)
  }

  /** The landed replay source ([[replaySrcDir]]) opened as a file
    * stream, two files per micro-batch (8 slices → 4 batches).
    */
  private def replaySource(spark: SparkSession, srcDir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 2)
      .parquet(srcDir)

  /** Deterministic micro-batch REPLAY of the session-window stream for
    * the driver gate (ig_stream_sessions): the 30-minute session-window
    * aggregation runs over [[replaySource]] in COMPLETE output mode —
    * cross-batch session-state merging is genuinely exercised while the
    * final memory-sink table equals the batch formulation over all data
    * regardless of batch boundaries (no watermark-gated tail to make
    * emission nondeterministic). This puts stream==batch parity under
    * the driver's DuckDB oracle, not only the ScalaTest suite.
    */
  def sessionReplayGate(spark: SparkSession, dir: String): DataFrame = {
    val (srcDir, schema) = replaySrcDir(spark, dir)
    val agg = replaySource(spark, srcDir, schema)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("s_start"),
        unix_micros(col("session_window.end")).as("s_end"),
        col("n_events"))
    replayToTable(spark, srcDir, agg, "sess_replay_gate").orderBy("user_id", "s_start")
  }

  /** Windowed-aggregation twin of [[sessionReplayGate]]
    * (ig_stream_windows): 6-hour tumbling event-time windows with
    * count + exact decimal sum, state carried across the same
    * micro-batched replay, complete-mode sink — the streaming
    * execution of the 6-hour window shape under the driver's batch
    * SQL oracle.
    */
  def windowReplayGate(spark: SparkSession, dir: String): DataFrame = {
    val (srcDir, schema) = replaySrcDir(spark, dir)
    val agg = replaySource(spark, srcDir, schema)
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("total_raw"))
      .select(unix_micros(col("window.start")).as("w_start"),
        col("event_type"), col("n"),
        round(col("total_raw"), 2).cast("double").as("total"))
    replayToTable(spark, srcDir, agg, "win_replay_gate").orderBy("w_start", "event_type")
  }

  /** Checkpointed-ingest parity gate (ig_stream_ingest): run
    * [[incrementalIngest]] over the micro-batched replay source into a
    * fresh parquet sink, then run it AGAIN against the same checkpoint
    * — the second pass must append NOTHING (exactly-once on replay,
    * the hcOwt mtime-diff contract). Returns per-user counts over the
    * sink plus the measured second-run delta; the oracle recomputes
    * the counts from the raw table and pins the delta at 0. Sink and
    * checkpoint are recreated per invocation, so the gate is
    * deterministic in any JVM and under bench repetition.
    */
  def ingestReplayGate(spark: SparkSession, dir: String): DataFrame = {
    val (srcDir, schema) = replaySrcDir(spark, dir)
    // sink/checkpoint keyed by (scale dir, process): a concurrent
    // driver process (bench sweep vs verify run, or another scale
    // factor) must never delete a live checkpoint mid-stream
    val base = ReplayGate.gateBase(spark, dir, "graft_ingest_gate")
    val sink = s"$base/sink"
    val ck = s"$base/ck"
    incrementalIngest(spark, srcDir, schema, sink, ck)
    val afterFirst = spark.read.parquet(sink).count()
    incrementalIngest(spark, srcDir, schema, sink, ck) // replay: no new files
    val sunk = spark.read.parquet(sink)
    val afterSecond = sunk.count()
    sunk.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("raw"))
      .select(col("user_id"), col("n_events"),
        round(col("raw"), 2).cast("double").as("total"),
        lit(afterSecond - afterFirst).as("second_run_added"))
      .orderBy("user_id")
  }

  /** Checkpointed incremental run: processes only files not yet seen by
    * this checkpoint, appending to a parquet sink — the hcOwt loop as
    * one engine call.
    */
  def incrementalIngest(spark: SparkSession, srcDir: String,
      schema: org.apache.spark.sql.types.StructType,
      sinkDir: String, checkpointDir: String): Unit = {
    val q = fromDirectory(spark, srcDir, schema, maxFilesPerTrigger = 1)
      .writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
