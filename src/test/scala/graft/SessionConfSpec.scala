package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup
import graft.plans.LandedCatalog
import graft.streaming.EventStream

/** The engine runs inside its caller's session and must never write
  * that session's conf while a query runs: a query running
  * concurrently on the session would plan under another path's
  * setting. Work that needs another setting runs on a session clone;
  * a streaming gate sets its fan-out only around `start()`, where
  * Structured Streaming snapshots the session.
  */
class SessionConfSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private val partsKey = "spark.sql.shuffle.partitions"
  private val modeKey = "spark.sql.sources.partitionOverwriteMode"
  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Records the three settings every time a query of `owner` is
    * optimized. Optimizer rules run synchronously inside the query, so
    * they see the values that query planned under (an async listener
    * could read them after a restore). Clones of `owner` copy the rule
    * but are not recorded: their settings are theirs.
    */
  private class Recorder(owner: SparkSession) extends Rule[LogicalPlan] {
    val seen = new ConcurrentLinkedQueue[(String, String, String)]()
    def apply(plan: LogicalPlan): LogicalPlan = {
      if (SparkSession.getActiveSession.exists(_ eq owner)) {
        val c = SQLConf.get
        seen.add((c.getConfString(partsKey, "-"), c.getConfString(modeKey, "-"),
          c.getConfString(nanosKey, "-")))
      }
      plan
    }
  }

  private def kvSpec = Seq(LandedCatalog.Spec("kv", "k BIGINT, v STRING, ingest_id BIGINT",
    "k", Seq("k")))

  private def kvRows(s: SparkSession, lo: Long, hi: Long, tag: String): Seq[DataFrame] =
    Seq(s.range(lo, hi).select(col("id").as("k"), lit(tag).as("v")))

  private def rowsPerIngest(s: SparkSession, h: LandedCatalog.Handle): Map[Long, (Long, String)] =
    s.table(h.table("kv")).groupBy("ingest_id")
      .agg(count(lit(1)), max(col("v")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap

  test("CC rounds, catalog appends and the nanos retry plan the caller's queries under its own conf") {
    val caller = spark.newSession()
    caller.conf.set(partsKey, "7")
    caller.conf.set(modeKey, "static")
    caller.conf.set(nanosKey, "false")
    val rec = new Recorder(caller)
    caller.experimental.extraOptimizations = Seq(rec)
    val base = Files.createTempDirectory("graft_confspec").toString
    val h = LandedCatalog.handle("graft_confspec", "recorded", base, kvSpec)
    try {
      // a 60-node chain: several star rounds, one component rooted at 0
      val chain = caller.range(0, 59).select(col("id").as("a"), (col("id") + 1).as("b"))
      val cc = Dedup.connectedComponents(chain).collect()
      assert(cc.length === 60 && cc.forall(_.getLong(1) === 0L))

      LandedCatalog.land(caller, h, 4)(kvRows(caller, 0, 10, "land"))
      LandedCatalog.append(caller, h, 1)(kvRows(caller, 10, 15, "b1"))
      assert(rowsPerIngest(caller, h) === Map(0L -> (10L, "land"), 1L -> (5L, "b1")))

      val fixture = getClass.getResource("/nanos_events").getPath
      assert(Tables.events(caller, fixture).count() === 3)
    } finally {
      caller.experimental.extraOptimizations = Nil
      LandedCatalog.drop(caller, h)
    }
    val seen = rec.seen.asScala.toSet
    assert(rec.seen.size > 5, "the recorder saw no caller queries")
    assert(seen === Set(("7", "static", "false")),
      s"a caller query planned under another path's conf: $seen")
    assert((caller.conf.get(partsKey), caller.conf.get(modeKey), caller.conf.get(nanosKey)) ===
      (("7", "static", "false")))
  }

  test("concurrent appends to two landed catalogs keep every other ingest partition") {
    val base = Files.createTempDirectory("graft_confspec").toString
    val cats = Seq("left", "right").map(n => LandedCatalog.handle("graft_confspec", n, base, kvSpec))
    def onBothAtOnce(appends: LandedCatalog.Handle => Unit): Unit = {
      val failures = new ConcurrentLinkedQueue[Throwable]()
      val threads = cats.map(h => new Thread(() => appends(h)))
      threads.foreach { t =>
        t.setUncaughtExceptionHandler((_, e) => failures.add(e)); t.start()
      }
      threads.foreach(_.join())
      assert(failures.isEmpty, failures.asScala.map(_.toString).mkString("; "))
    }
    try {
      cats.foreach(h => LandedCatalog.land(spark, h, 4)(kvRows(spark, 0, 20, "land")))
      onBothAtOnce(h => (1L to 4L).foreach(id =>
        LandedCatalog.append(spark, h, id)(kvRows(spark, id * 100, id * 100 + id, s"b$id"))))
      val want = Map(0L -> (20L, "land"), 1L -> (1L, "b1"), 2L -> (2L, "b2"),
        3L -> (3L, "b3"), 4L -> (4L, "b4"))
      cats.foreach(h => assert(rowsPerIngest(spark, h) === want, h.stem))
      // a replayed batch rewrites its own partition only, and a session
      // that has already read the table sees the rewrite
      onBothAtOnce(h => LandedCatalog.append(spark, h, 2)(kvRows(spark, 900, 907, "replay")))
      cats.foreach(h =>
        assert(rowsPerIngest(spark, h) === want.updated(2L, (7L, "replay")), h.stem))
      assert(spark.conf.getOption(modeKey).forall(_.equalsIgnoreCase("static")))
    } finally cats.foreach(h => LandedCatalog.drop(spark, h))
  }

  test("stream gates keep the input-derived fan-out on their state operators and batch sessions") {
    val before = spark.conf.get(partsKey)
    val (srcDir, schema) = EventStream.replaySrcDir(spark, dir)
    val want = EventStream.statePartitionsFor(spark, srcDir)
    assert(want.toString !== before, "the fixture must size below the session setting")

    // ig_stream_windows: every state operator of every micro-batch;
    // the listener bus delivers a query's progress before its end
    val stateParts = new ConcurrentLinkedQueue[Int]()
    val queryId = new java.util.concurrent.atomic.AtomicReference[java.util.UUID]()
    val ended = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (e.name == "win_replay_gate") queryId.set(e.id)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == queryId.get) ended.countDown()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == queryId.get)
          e.progress.stateOperators.foreach(op => stateParts.add(op.numShufflePartitions.toInt))
    }
    spark.streams.addListener(listener)
    try {
      assert(EventStream.windowReplayGate(spark, dir).count() > 0)
      assert(ended.await(60, java.util.concurrent.TimeUnit.SECONDS), "no termination event")
    } finally spark.streams.removeListener(listener)
    assert(!stateParts.isEmpty && stateParts.asScala.forall(_ == want),
      s"state operators ran ${stateParts.asScala.toSeq.distinct} partitions, want $want")

    // a foreachBatch drain: the batch session keeps the count, while
    // the caller's own setting is back once start() returns (before
    // batch 0 has planned and run its first job)
    val inBatch = new ConcurrentLinkedQueue[(String, String)]()
    val ck = Files.createTempDirectory("graft_confspec_ck").toString
    EventStream.drainBatches(spark, srcDir, schema, ck, 4) { (batch, _) =>
      inBatch.add((batch.sparkSession.conf.get(partsKey), spark.conf.get(partsKey)))
    }
    assert(!inBatch.isEmpty)
    assert(inBatch.asScala.toSet === Set((want.toString, before)))
    assert(spark.conf.get(partsKey) === before)
  }

  test("src/main writes session conf only on a private clone or around a stream start") {
    // the two sanctioned writers: SessionClone on the clone it just
    // made, and EventStream.withStateParts around DataStreamWriter.start()
    val allowed = Map(
      "org/apache/spark/sql/graft/SessionClone.scala" -> 1,
      "graft/streaming/EventStream.scala" -> 2)
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    def scalaFiles(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val writes = """\.conf\.(set|unset)\(""".r
    val found = scalaFiles(root).map { f =>
      val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
      val n = try src.getLines().map(l => writes.findAllIn(l).size).sum finally src.close()
      root.toPath.relativize(f.toPath).toString -> n
    }.filter(_._2 > 0).toMap
    assert(found === allowed)
  }
}
