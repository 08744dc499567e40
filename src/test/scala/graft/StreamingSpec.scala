package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStream
import graft.operators.Reassembly

/** Streaming = batch parity (SURVEY §5.2): the events table replayed
  * file-by-file through the streaming operators must equal the batch
  * answers; TTL tombstones must match the batch-derived expiry set;
  * incremental ingest must be exactly-once across checkpointed runs.
  */
class StreamingSpec extends AnyFunSuite {

  // default scale keeps the suite fast; the verify recipe re-runs the
  // whole suite at sf0.1 via this override (synth-roundtrip parity can
  // pass at small scale and fail at 10x — see the repo's gotchas)
  private val dir =
    sys.env.getOrElse("SPARK_GRAFT_SPEC_SF_DIR", "/root/testdata/sf0.001")

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** events split into several parquet files landing one-by-one with
    * ascending modification times, so the file source replays them in
    * event-time order (the file source orders by mtime; equal mtimes
    * would arrive shuffled and everything before the first-processed
    * file's watermark would be dropped as late).
    */
  private lazy val splitDir: String = {
    import org.apache.spark.sql.expressions.Window
    val p = Files.createTempDirectory("events_split").toString
    val sliced = Tables.events(spark, dir)
      .withColumn("slice", ntile(5).over(Window.orderBy("ts")))
    for (i <- 1 to 5) {
      sliced.filter(col("slice") === i).drop("slice")
        .coalesce(1).write.mode("append").parquet(p)
      Thread.sleep(1100) // distinct mtimes even on coarse filesystems
    }
    p
  }

  private def batchEvents: DataFrame = spark.read.parquet(splitDir)

  test("state partition sizing: input-derived, floored at 1, capped by the session setting") {
    // round-21 optimization: stateful replay gates derive their state
    // partition count from the landed source's bytes (the AQE-style
    // sizing a streaming query cannot get from AQE itself), capped by
    // spark.sql.shuffle.partitions so a cluster-sized session keeps
    // its configured fan-out. The rule must never emit 0 or exceed
    // the cap, and must scale linearly with input in between.
    val p = Files.createTempDirectory("state_parts").toString
    spark.range(10).write.mode("overwrite").parquet(p) // a few KB
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // tiny input -> floor of 1, never 0
    assert(EventStream.statePartitionsFor(spark, p) === 1)
    // shrink the per-partition floor far below the input -> hits the cap
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "1b")
    try assert(EventStream.statePartitionsFor(spark, p) === cap)
    finally was match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    // the gate wrapper restores the session setting afterwards
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    EventStream.sessionReplayGate(spark, dir).count()
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
  }

  test("mixed-version wire decode: streaming rows equal the batch decode") {
    // the listener analog (honeycomb.py:448-490): v1/v2 records arrive
    // on a live stream and dispatch per record; the decode is a
    // stateless projection, so the streaming run must emit EVERY row
    // identically to batch — no watermark, nothing withheld
    val stream = EventStream.fromDirectory(spark, splitDir, batchEvents.schema)
    References.runToMemory(
      graft.plans.BeaconPipeline.decodeMixedWire(stream), "wire_stream")
    val got = spark.table("wire_stream").orderBy("rec_id").collect().toSeq
    val want = graft.plans.BeaconPipeline.decodeMixedWire(batchEvents)
      .orderBy("rec_id").collect().toSeq
    assert(got.nonEmpty && got === want)
  }

  test("trigger schedule computes identically on a stream (stateless column logic)") {
    import graft.operators.Triggers
    def schedule(df: DataFrame): DataFrame =
      Triggers.scheduleActions(
        df.select(col("event_id"), col("user_id"), col("ts"),
          (col("user_id") % 120).as("delay_s")),
        idCol = "event_id", implantCol = "user_id", tsCol = "ts", delayCol = "delay_s")
    // fire_order needs a rank window (batch/mapGroupsWithState
    // territory); the schedule itself — variance, clamp, action time —
    // is stateless column logic and runs 1:1 on the stream
    val stream = EventStream.fromDirectory(spark, splitDir, batchEvents.schema)
      .select(col("event_id"), col("user_id"), col("ts"),
        (col("user_id") % 120).as("delay_s"))
      .withColumn("variance", Triggers.variance(col("event_id")))
      .withColumn("calc_delay", greatest(lit(1L), col("delay_s") + col("variance")))
      .withColumn("action_us", unix_micros(col("ts")) + col("calc_delay") * 1000000L)
      .select("event_id", "variance", "calc_delay", "action_us")
    References.runToMemory(stream, "trig_stream")
    val got = spark.table("trig_stream").orderBy("event_id").collect().toSeq
    val want = schedule(batchEvents)
      .select("event_id", "variance", "calc_delay", "action_us")
      .orderBy("event_id").collect().toSeq
    assert(got === want)
  }

  test("incremental ingest: checkpoint processes each file exactly once") {
    val src = Files.createTempDirectory("inc_src").toString
    val sink = Files.createTempDirectory("inc_sink").toString
    val ckpt = Files.createTempDirectory("inc_ckpt").toString
    val ev = batchEvents

    // round 1: two files land
    ev.filter(col("event_id") < 300).coalesce(1).write.mode("append").parquet(src)
    ev.filter(col("event_id") >= 300 && col("event_id") < 600).coalesce(1)
      .write.mode("append").parquet(src)
    EventStream.incrementalIngest(spark, src, ev.schema, sink, ckpt)
    val after1 = spark.read.parquet(sink).count()

    // round 2: one more file lands; re-run with same checkpoint
    ev.filter(col("event_id") >= 600).coalesce(1).write.mode("append").parquet(src)
    EventStream.incrementalIngest(spark, src, ev.schema, sink, ckpt)
    val after2 = spark.read.parquet(sink).count()

    val total = ev.count()
    assert(after2 === total, s"expected $total rows, got $after2 (round1=$after1)")
    assert(after1 < total)
  }

  test("streaming embedding screen equals the batch screen, any micro-batching") {
    import spark.implicits._
    import graft.plans.{LandedCatalog, VecCatalog}
    // batch = odd-id vectors (every 7th === 3 mod 7 replaced by its
    // even twin's embedding — guaranteed catalog hits) landed as 3
    // files; catalog = even-id vectors. Catalog-only screen, so the
    // union of per-batch verdicts must equal the one-shot verdict.
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val hist = emb.filter(col("vec_id") % 2 === 0)
    val twin = emb.select((col("vec_id") + 1).as("vec_id"), col("embedding").as("h_emb"))
    val batch = emb.filter(col("vec_id") % 2 === 1)
      .join(twin, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("vec_id") % 7 === 3, col("h_emb"))
          .otherwise(col("embedding")).as("embedding"))
      .localCheckpoint(true)
    val src = Files.createTempDirectory("vec_src").toString
    (0 until 3).foreach { k =>
      batch.filter(col("vec_id") % 3 === k).coalesce(1)
        .write.mode("append").parquet(src)
      Thread.sleep(1100) // distinct mtimes -> deterministic file order
    }
    val sink = Files.createTempDirectory("vec_sink").toString + "/out"
    val chk = Files.createTempDirectory("vec_chk").toString
    val cat = VecCatalog.land(spark, hist, "spec_vstream_screen")
    try {
      graft.streaming.VecScreen.screenAgainstCatalog(
        spark, src, batch.schema, cat, sink, chk)
      val streamed = spark.read.parquet(sink)
        .select("vec_id", "n_matches", "matched_id", "cos")
        .as[(Long, Long, Long, Double)].collect().toSet
      val direct = References.embeddingNearDupIncremental(batch, hist)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(direct.nonEmpty, "no catalog matches in the corpus")
      assert(streamed === direct,
        s"stream/batch diverged: only-stream=${(streamed -- direct).take(3)} only-batch=${(direct -- streamed).take(3)}")
      // exactly-once: a checkpointed re-run with no new files appends nothing
      graft.streaming.VecScreen.screenAgainstCatalog(
        spark, src, batch.schema, cat, sink, chk)
      assert(spark.read.parquet(sink).count() === streamed.size.toLong,
        "re-run with same checkpoint re-emitted rows")
    } finally LandedCatalog.drop(spark, cat)
  }

  test("vector appendAccepted: batch N+1 screened against batch N's survivors") {
    import spark.implicits._
    import graft.plans.VecCatalog
    // history = vectors 0-99; file 1 lands vector 300 (novel ->
    // accepted); file 2 lands 10300 = exact copy of 300, only
    // flaggable because 300 entered the catalog as batch 0's survivor
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val hist = emb.filter(col("vec_id") < 100)
    val f1 = emb.filter(col("vec_id") === 300)
    val f2 = emb.filter(col("vec_id") === 300)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val src = Files.createTempDirectory("vappend_src").toString
    f1.coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(1100)
    f2.coalesce(1).write.mode("append").parquet(src)
    val sink = Files.createTempDirectory("vappend_sink").toString + "/out"
    val chk = Files.createTempDirectory("vappend_chk").toString
    val cat = VecCatalog.land(spark, hist, "spec_vstream_append")
    try {
      graft.streaming.VecScreen.screenAgainstCatalog(
        spark, src, f1.schema, cat, sink, chk, appendAccepted = true)
      val flagged = spark.read.parquet(sink)
        .select("vec_id", "matched_id").as[(Long, Long)].collect().toSet
      assert(flagged.contains((10300L, 300L)),
        s"batch-1 twin not flagged against batch-0 survivor: $flagged")
      graft.streaming.VecScreen.screenAgainstCatalog(
        spark, src, f1.schema, cat, sink, chk, appendAccepted = true)
      assert(spark.read.parquet(sink).count() === flagged.size.toLong)
    } finally graft.plans.LandedCatalog.drop(spark, cat)
  }

  test("intraBatchVerdicts: component-min survives, members flag to the min") {
    import spark.implicits._
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.85), (10L, 11L, 0.95))
      .toDF("i", "j", "jac")
    val got = graft.operators.Dedup.intraBatchVerdicts(pairs, "doc_id", "jac")
      .as[(Long, Long, Long, Double)].collect().toSet
    // 1 and 10 are component minima (survive, no verdict); 3's match
    // to 1 is transitive through 2
    assert(got === Set((2L, 2L, 1L, 0.9), (3L, 1L, 1L, 0.85),
      (11L, 1L, 10L, 0.95)))
  }

  test("vector ingest loop: an intra-batch twin pair yields one survivor") {
    import spark.implicits._
    import graft.plans.{LandedCatalog, VecCatalog}
    // vector twin of the doc test, single-file delivery only (the
    // split-file path is the existing vector appendAccepted test)
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val hist = emb.filter(col("vec_id") < 100)
    val a = emb.filter(col("vec_id") === 300)
    val b = emb.filter(col("vec_id") === 300)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val src = Files.createTempDirectory("vintra_src").toString
    a.union(b).coalesce(1).write.mode("append").parquet(src)
    val sink = Files.createTempDirectory("vintra_sink").toString + "/out"
    val chk = Files.createTempDirectory("vintra_chk").toString
    val cat = VecCatalog.land(spark, hist, "spec_vintra")
    try {
      graft.streaming.VecScreen.screenAgainstCatalog(
        spark, src, a.schema, cat, sink, chk, appendAccepted = true)
      val flagged = spark.read.parquet(sink)
        .select("vec_id", "matched_id").as[(Long, Long)].collect().toSet
      assert(flagged === Set((10300L, 300L)), s"verdicts: $flagged")
      val inCat = spark.table(cat.table("vectors"))
        .filter(col("vec_id").isin(300L, 10300L))
        .select("vec_id").as[Long].collect().toSet
      assert(inCat === Set(300L), s"catalog content: $inCat")
    } finally LandedCatalog.drop(spark, cat)
  }

  test("streaming beacon DAG equals the batch pipeline") {
    import graft.plans.BeaconPipeline
    // land the synthetic beacon corpus, then run decode+enrich+route as
    // a streaming job over it
    val src = Files.createTempDirectory("beacon_stream").toString
    val beacons = BeaconPipeline.syntheticBeacons(spark, dir)
    beacons.write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema(beacons.schema).parquet(src)
    val routed = BeaconPipeline.decode(stream)
      .withColumn("route",
        when(col("parse_error") || col("uptime_s") < 0, "bad").otherwise("good"))
    References.runToMemory(routed, "beacon_stream")
    val got = spark.table("beacon_stream")
      .groupBy("route").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = BeaconPipeline.build(spark, dir)
    assert(got("good") === batch.good.count())
    assert(got("bad") === batch.bad.count())
    // decoded field parity on a sample
    val sGot = spark.table("beacon_stream").filter(col("route") === "good")
      .select("implant_id", "mac").orderBy("implant_id", "mac").limit(50).collect().toSeq
    val sWant = batch.good
      .select("implant_id", "mac").orderBy("implant_id", "mac").limit(50).collect().toSeq
    assert(sGot === sWant)
  }

  test("chunk reassembly: round trip, duplicate-tolerant, chunk-size invariant") {
    import spark.implicits._
    val blobs = Seq(
      ("s1", Array.tabulate[Byte](10000)(i => (i * 31).toByte)),
      ("s2", Array.tabulate[Byte](4052)(i => i.toByte)),
      ("s3", Array.tabulate[Byte](17)(i => (i + 1).toByte))
    ).toDF("stream_id", "blob")
    for (chunkSize <- Seq(1000, 4052)) {
      val chunks = Reassembly.chunk(blobs, chunkSize)
      val withDups = chunks.union(chunks.limit(2)) // retransmits
      val out = Reassembly.reassemble(withDups)
        .select("stream_id", "blob", "contiguous", "total_bytes")
        .as[(String, Array[Byte], Boolean, Long)].collect()
        .map(r => r._1 -> r).toMap
      val want = blobs.as[(String, Array[Byte])].collect().toMap
      want.foreach { case (id, blob) =>
        val (_, got, contiguous, total) = out(id)
        assert(contiguous, s"$id not contiguous @ $chunkSize")
        assert(total === blob.length)
        assert(got.sameElements(blob), s"$id blob mismatch @ $chunkSize")
      }
    }
  }

  test("streaming gram screen equals the sequential batch loop; replay appends nothing") {
    import spark.implicits._
    import graft.plans.{GramCatalog, LandedCatalog}
    import graft.operators.Dedup
    // history carries run H; file 0 introduces run R (novel -> no
    // span); file 1 repeats R (only the append loop can flag it) AND
    // hits the catalog run H
    val hist = Seq((0L, "h0 h1 h2 h3 h4 h5")).toDF("doc_id", "text")
    val f0 = Seq((100L, "aa bb cc dd ee x0 x1")).toDF("doc_id", "text")
    val f1 = Seq(
      (200L, "y0 aa bb cc dd ee y1"),
      (201L, "z0 z1 h0 h1 h2 h3 h4 z2")).toDF("doc_id", "text")
    val src = java.nio.file.Files.createTempDirectory("gram_src").toString
    f0.coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(1100) // distinct mtimes -> deterministic file order
    f1.coalesce(1).write.mode("append").parquet(src)
    val sink = java.nio.file.Files.createTempDirectory("gram_sink").toString + "/out"
    val chk = java.nio.file.Files.createTempDirectory("gram_chk").toString
    val cat = GramCatalog.land(spark, hist, "spec_stream_gram")
    try {
      graft.streaming.GramScreen.spanScreen(spark, src, f0.schema, cat, sink, chk)
      val streamed = spark.read.parquet(sink)
        .select("doc_id", "span_start", "span_end", "n_grams")
        .as[(Long, Int, Int, Long)].collect().toSet
      // the sequential loop over the same files in the same order
      val loop = Seq(f0, f1).foldLeft(
          (Set.empty[(Long, Int, Int, Long)], hist)) { case ((acc, history), b) =>
        val spans = Dedup.dupSpansIncrementalFrom(b, Dedup.gramStats(history, 5))
          .as[(Long, Int, Int, Long)].collect().toSet
        (acc ++ spans, history.unionByName(b))
      }._1
      assert(streamed === loop, s"stream $streamed != loop $loop")
      // the order-dependence is real: R flags in doc 200 (the LATER
      // copy), never in doc 100; the catalog hit flags in doc 201
      assert(streamed.map(_._1) === Set(200L, 201L))
      // replay with the same checkpoint: sink unchanged, stats stable
      val statsBefore = GramCatalog.stats(spark, cat).count()
      graft.streaming.GramScreen.spanScreen(spark, src, f0.schema, cat, sink, chk)
      assert(spark.read.parquet(sink)
        .select("doc_id", "span_start", "span_end", "n_grams")
        .as[(Long, Int, Int, Long)].collect().toSet === streamed)
      assert(GramCatalog.stats(spark, cat).count() === statsBefore)
    } finally LandedCatalog.drop(spark, cat)
  }

  test("streaming perceptual screen equals the sequential survivor loop") {
    import spark.implicits._
    // independent Scala replay of the two-batch loop — survivor rule
    // included — against the REAL Structured-Streaming gate (the SQL
    // oracle replays the same loop; this pins it from a third side)
    val sigs = graft.operators.Multimodal.dhashSignatures(spark, dir)
      .as[(Long, Long)].collect()
    val h0 = sigs.filter(_._1 < 250)
    val b0 = sigs.filter(s => s._1 >= 250 && s._1 < 375)
    val b1 = sigs.filter(_._1 >= 375)
    def loop(batch: Array[(Long, Long)], hist: Array[(Long, Long)]) =
      batch.flatMap { case (b, sh) =>
        val ms = (hist.filter(_._1 != b) ++ batch.filter(_._1 < b))
          .map { case (p, psh) => (p, graft.functions.TextImpl.hamming64(sh, psh)) }
          .filter(_._2 <= 3)
        if (ms.isEmpty) None
        else Some((b, ms.map(_._1).min, ms.map(_._2).min, ms.length.toLong))
      }
    val d0 = loop(b0, h0)
    val dropped0 = d0.map(_._1).toSet
    val d1 = loop(b1, h0 ++ b0.filterNot(s => dropped0(s._1)))
    val want = (d0 ++ d1).sortBy(_._1).toSeq
    assert(want.nonEmpty, "no streaming screen verdicts in the corpus")
    // all three hit kinds occur: landed history, previous-batch
    // survivor, intra-batch
    assert(d0.exists(_._2 < 250), "no landed-history hit in batch 0")
    assert(d1.exists(v => v._2 >= 250 && v._2 < 375),
      "no previous-batch-survivor hit in batch 1")
    assert(d1.exists(_._2 >= 375), "no intra-batch hit in batch 1")
    val got = graft.streaming.SigScreen.phashScreenReplayGate(spark, dir)
      .as[(Long, Long, Int, Long)].collect().toSeq
    assert(got === want)
  }

  test("streaming classifier screen equals the batch score under the pinned model") {
    import spark.implicits._
    // pinned weights make verdicts batching-independent BY
    // CONSTRUCTION — the claim is that the streaming path (real
    // Structured Streaming, model artifact re-read per trigger,
    // idempotent batch_id sink) lands exactly the batch answer
    val got = graft.streaming.ClsScreen.screenReplayGate(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    val scored = graft.operators.Classifier.scoreIncr(spark, dir)
    val want = scored.filter(col("margin_e9") >= 0L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === want, s"stream ${got.take(5)}... != batch ${want.take(5)}...")
    // non-vacuous both ways: some survive, some are cut
    assert(want.nonEmpty, "no survivors — keep rule never fired")
    assert(want.size < scored.count(), "screen cut nothing")
    graft.Shared.releaseAll(spark)
    spark.catalog.clearCache()
  }

  test("streaming classifier screen under the PINNED ELECTED CUT equals the batch screen") {
    import spark.implicits._
    // weights AND the per-lang elected threshold are pinned in one
    // artifact before the stream starts, so verdicts are
    // batching-independent by construction — the streamed union must
    // equal the batch replay: score the arriving slice under the
    // pinned weights, bucket, keep at the history-elected cut
    val got = graft.streaming.ClsScreen.cutScreenReplayGate(spark, dir)
      .as[(Long, String, Long, Long)].collect().toSeq
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "text")
    val hist = docs.filter(col("doc_id") < 250)
    val w = graft.Shared.materialize(
      graft.operators.Classifier.pinnedWeights(hist,
        col("doc_id") % 10 === 0, col("doc_id") % 10 === 5))
    def bucketed(side: org.apache.spark.sql.DataFrame) =
      graft.operators.Classifier.scoreWith(side, w)
        .join(side.select("doc_id", "lang"), "doc_id")
        .withColumn("mbkt", expr(graft.operators.Classifier.MarginBucketSql))
    val th = graft.operators.Elections.histogramThreshold(
      bucketed(hist), "lang", "mbkt")
    val scoredBatch = bucketed(docs.filter(col("doc_id") >= 250))
    val want = scoredBatch.join(th, Seq("lang"))
      .filter(col("mbkt") >= col("b_threshold"))
      .select(col("doc_id"), col("lang"), col("margin_e9"), col("b_threshold"))
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got === want, s"stream ${got.take(5)}... != batch ${want.take(5)}...")
    assert(want.nonEmpty, "no survivors — elected cut never kept anything")
    assert(want.size < scoredBatch.count(), "elected cut never cut anything")
    graft.Shared.releaseAll(spark)
    spark.catalog.clearCache()
  }

  test("a model artifact without _PINNED fails the batch loudly; landModel swaps atomically") {
    import java.nio.file.Files
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").filter(col("doc_id") < 40)
    val base = Files.createTempDirectory("cls_pin").toString
    // a HALF-WRITTEN artifact: weights parquet present, no _PINNED
    // marker (what a crash mid-land leaves if the writer skips the
    // staged-rename discipline) — the screen must refuse the batch
    val halfDir = s"$base/model_half"
    graft.operators.Classifier.pinnedWeights(docs,
      col("doc_id") % 10 === 0, col("doc_id") % 10 === 5)
      .write.parquet(s"$halfDir/weights")
    val srcDir = s"$base/src"
    docs.coalesce(1).write.parquet(srcDir)
    val ex = intercept[Exception] {
      graft.streaming.ClsScreen.classifierScreen(spark, srcDir, docs.schema,
        halfDir, s"$base/sink1", s"$base/ck1")
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last.getMessage)
    assert(rootMsg(ex).contains("_PINNED"),
      s"half-written artifact scored a batch (or failed for another reason): $ex")
    // landModel's staged write-then-rename produces a pinned artifact
    // the same screen accepts
    val goodDir = s"$base/model_good"
    graft.streaming.ClsScreen.landModel(
      graft.operators.Classifier.pinnedWeights(docs,
        col("doc_id") % 10 === 0, col("doc_id") % 10 === 5), goodDir)
    assert(new java.io.File(s"$goodDir/_PINNED").isFile)
    assert(!new java.io.File(s"$goodDir.staging").exists, "staging dir leaked")
    // minMargin = MinValue: the pin under test is the artifact
    // discipline, not the keep rule — at some scales every doc in the
    // tiny fixture scores negative and a margin>=0 cut would leave an
    // empty (hence unreadable-as-assertion) sink
    graft.streaming.ClsScreen.classifierScreen(spark, srcDir, docs.schema,
      goodDir, s"$base/sink2", s"$base/ck2", minMargin = Long.MinValue)
    assert(spark.read.parquet(s"$base/sink2").count() > 0)
    graft.Shared.releaseAll(spark)
    spark.catalog.clearCache()
  }

  test("streaming semantic-decontamination screen equals the batch screen") {
    import spark.implicits._
    // a STATIC benchmark catalog makes verdicts batch-independent by
    // construction — the stream's verdict union must equal the
    // at-ingest batch screen over the same arriving slice
    val got = graft.streaming.VecScreen.decontamScreenReplayGate(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val want = graft.operators.Decontaminate.semanticIncrGate(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === want, s"stream ${got.take(3)}... != batch ${want.take(3)}...")
    // non-vacuous: the planted leaks fired, and both slices produced one
    assert(want.nonEmpty, "no flagged leaks — plant never fired")
    assert(want.exists(_._1 < 375) && want.exists(_._1 >= 375),
      s"plants missing from one slice: ${want.map(_._1)}")
    graft.Shared.releaseAll(spark)
    spark.catalog.clearCache()
  }

  test("missing chunk is detected by the resume-accounting invariant") {
    import spark.implicits._
    val blobs = Seq(("s1", Array.tabulate[Byte](9000)(_.toByte))).toDF("stream_id", "blob")
    val chunks = Reassembly.chunk(blobs, 1000).filter(col("offset") =!= 3000L)
    import spark.implicits._
    val r = Reassembly.reassemble(chunks)
      .select("contiguous").as[Boolean].head()
    assert(!r)
  }
}
