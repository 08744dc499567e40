package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, Shared, SparkEntry}

/** One benchmark process: set-up, a cold pass and warm passes over a
  * workload's operation list, driven through graft's public entry
  * points from a single client thread.
  *
  * Arguments are `key=value` pairs:
  *  - `spawn_ms`  wall clock (epoch ms) at which the caller started
  *                this process; set-up time is measured from it
  *  - `ops`       comma-separated `name@dir`: a `SparkEntry.queries`
  *                name and its input directory (one parquet per table)
  *  - `seconds`   minimum length of the timed warm phase (at least one
  *                pass), which follows one untimed warm-up pass
  *  - `trace`     1 attaches the listeners and runs the layer probes
  *  - `out`       directory for `metrics.json`, `oracle_sql.json` and
  *                the cold-pass results, one parquet directory per
  *                operation under `results`, which the caller checks
  *
  * Every operation's timed action is `collect()`: it computes every row
  * and column of the result, in every pass.
  */
object Harness {

  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val spawnMs = kv("spawn_ms").toLong
    val ops = kv("ops").split(",").toSeq.map { o =>
      val i = o.indexOf('@')
      Op(o.take(i), o.drop(i + 1))
    }
    val out = new File(kv("out"))
    out.mkdirs()

    val t0 = System.nanoTime()
    val spark = GraftSession.getOrCreate("perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    ops.map(_.sf).distinct.foreach { sf =>
      val missing = Tables.filterNot(t => new File(s"$sf/$t.parquet").isFile)
      require(missing.isEmpty, s"inputs missing under $sf: ${missing.mkString(",")}")
      Shared.srcFingerprint(spark, sf)
    }
    val setupS = (System.currentTimeMillis() - spawnMs) / 1e3

    val json = new Json
    json.num("setup_s", setupS)
    json.num("session_start_s", sessionS)
    val sql = new Json
    SparkEntry.oracleSql.toSeq.sorted.foreach { case (n, q) => sql.str(n, q) }
    Files.write(Paths.get(out.getPath, "oracle_sql.json"), sql.render.getBytes(UTF_8))
    new Run(spark, ops, kv("seconds").toDouble, kv("trace") == "1", out, json).apply()
    Files.write(Paths.get(out.getPath, "metrics.json"), json.render.getBytes(UTF_8))
    // the caller deletes the run's directories; skipping Spark's own
    // shutdown saves about a second per process
    Runtime.getRuntime.halt(0)
  }

  /** Minimal JSON object writer: numbers, strings and nested objects. */
  final class Json {
    private val fields = mutable.ArrayBuffer.empty[String]
    private def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(k: String, v: Double): Unit =
      fields += s"${q(k)}: ${if (v.isNaN || v.isInfinite) "null" else v.toString}"
    def str(k: String, v: String): Unit = fields += s"${q(k)}: ${q(v)}"
    def nums(k: String, vs: Seq[Double]): Unit = fields += s"${q(k)}: ${vs.mkString("[", ", ", "]")}"
    def obj(k: String, o: Json): Unit = fields += s"${q(k)}: ${o.render}"
    def render: String = fields.mkString("{", ", ", "}")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Order-sensitive digest of a collected result, so later passes are
    * checked against the cold pass that DuckDB checks.
    */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.toString.getBytes(UTF_8)); md.update(0x1e.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** One operation: a `SparkEntry.queries` name and its input directory. */
final case class Op(name: String, sf: String)

/** One pass: its wall time and each operation's latency and build time. */
final case class Pass(wall: Double, opS: Seq[Double], buildS: Seq[Double], c: Counters)

/** Per-pass counters filled by Spark's listeners in a traced run. */
final class Counters {
  var actions, jobs, stages, tasks = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L
  var batches, streamRows = 0L
  var streamPlanMs, walMs, stateCommitMs = 0L
  val batchMs = mutable.ArrayBuffer.empty[Double]
  val stateRows = mutable.Map.empty[java.util.UUID, Long]
}

final class Run(spark: SparkSession, ops: Seq[Op], seconds: Double,
    trace: Boolean, out: File, json: Harness.Json) {
  import Harness._

  private val cores = spark.sparkContext.defaultParallelism
  @volatile private var cur = new Counters

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = cur.synchronized { cur.jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      cur.synchronized { cur.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) cur.synchronized {
        val c = cur
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private object QeListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = cur.synchronized {
      val c = cur
      c.actions += 1
      val ph = qe.tracker.phases
      c.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
      c.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
      c.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      cur.synchronized {
        val c = cur
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        c.batches += 1
        c.streamRows += p.numInputRows
        c.batchMs += ms("triggerExecution").toDouble
        c.streamPlanMs += ms("queryPlanning")
        c.walMs += ms("walCommit")
        c.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        c.stateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
      }
  }

  private def drain(): Unit = org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)

  private val tmpDir = new File(System.getProperty("java.io.tmpdir"))
  private val warehouse = new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))

  private def treeSize(f: File): (Long, Long) =
    if (!f.exists) (0L, 0L)
    else if (f.isFile) (f.length, 1L)
    else Option(f.listFiles).toSeq.flatten.map(treeSize)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  private def landed(): (Long, Long) = {
    val (a, b) = treeSize(tmpDir)
    val (c, d) = treeSize(warehouse)
    (a + c, b + d)
  }

  private val coldDigest = mutable.Map.empty[String, String]
  private var attempted = 0L
  private val mismatched = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val errors = mutable.Map.empty[String, String]

  private def pass(cold: Boolean): Pass = {
    if (trace) { drain(); cur = new Counters }
    val opS = mutable.ArrayBuffer.empty[Double]
    val buildS = mutable.ArrayBuffer.empty[Double]
    var wall = 0.0
    ops.foreach { case Op(name, sf) =>
      val fn = SparkEntry.queries(name)
      attempted += 1
      val t0 = System.nanoTime()
      var t1 = t0
      var df: DataFrame = null
      val rows: Array[Row] =
        try {
          df = fn(spark, sf)
          t1 = System.nanoTime()
          df.collect()
        } catch {
          case e: Throwable =>
            errors.getOrElseUpdate(name, e.toString.take(300))
            null
        }
      val t2 = System.nanoTime()
      opS += (t2 - t0) / 1e9
      buildS += (t1 - t0) / 1e9
      wall += (t2 - t0) / 1e9
      if (rows == null) mismatched(name) += 1
      else {
        val d = digest(rows)
        if (cold) {
          coldDigest(name) = d
          // the DuckDB check reads this copy of the cold-pass result
          spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
            .write.mode("overwrite").parquet(new File(out, s"results/$name").getPath)
        } else if (!coldDigest.get(name).contains(d)) mismatched(name) += 1
      }
      Shared.releaseAll(spark)
      spark.catalog.clearCache()
    }
    if (trace) drain()
    Pass(wall, opS.toSeq, buildS.toSeq, cur)
  }

  def apply(): Unit = {
    if (trace) {
      spark.sparkContext.addSparkListener(Listener)
      spark.listenerManager.register(QeListener)
      spark.streams.addListener(StreamListener)
    }
    val inputBytes = ops.map(_.sf).distinct
      .flatMap(d => Harness.Tables.map(t => new File(s"$d/$t.parquet").length)).sum
    val cgCount0 = codegenCount()
    val cgTime0 = codegenTimeMs()
    val landed0 = landed()
    val cold = pass(cold = true)
    val cgClasses = codegenClasses()
    val cgCount1 = codegenCount()
    val cgTime1 = codegenTimeMs()
    val landed1 = landed()

    // one untimed pass first: the JIT is still compiling through the
    // first pass after the cold one, which read up to 60% slower
    // than the passes after it. Its results are checked like the others.
    pass(cold = false)
    val warm = mutable.ArrayBuffer.empty[Pass]
    val w0 = System.nanoTime()
    while (warm.isEmpty || (System.nanoTime() - w0) / 1e9 < seconds)
      warm += pass(cold = false)

    json.num("cold_pass_s", cold.wall)
    json.nums("warm_pass_s", warm.map(_.wall).toSeq)
    // each operation's median over the warm passes, then the median of
    // those: pooling every latency would put the median in the gap
    // between two operations and let it jump from run to run
    json.num("op_p50_s", median(ops.indices.map(i => median(warm.map(_.opS(i)).toSeq))))
    json.num("attempted", attempted.toDouble)
    val perOp = new Json
    ops.map(_.name).zipWithIndex.foreach { case (n, i) =>
      val o = new Json
      o.num("cold_s", cold.opS(i))
      o.num("warm_p50_s", median(warm.map(_.opS(i)).toSeq))
      o.num("attempts", (warm.length + 2).toDouble)
      o.num("mismatched", mismatched(n).toDouble)
      errors.get(n).foreach(o.str("error", _))
      perOp.obj(n, o)
    }
    json.obj("ops", perOp)

    if (trace) {
      val t = new Json
      layerMetrics(t, cold, warm.toSeq, inputBytes,
        (landed1._1 - landed0._1, landed1._2 - landed0._2),
        cgClasses, cgCount1 - cgCount0, cgTime1 - cgTime0)
      json.obj("layers", t)
    }
  }

  private def codegenHist(name: String) =
    org.apache.spark.metrics.source.CodegenMetrics.metricRegistry.histogram(name)
  private def codegenCount(): Long = codegenHist("compilationTime").getCount
  /** Spark keeps compile times in a sampling histogram; mean × count
    * recovers their sum while the sample still holds every compile.
    */
  private def codegenTimeMs(): Double = {
    val h = codegenHist("compilationTime")
    h.getSnapshot.getMean * h.getCount
  }
  private def codegenClasses(): Long = codegenHist("generatedClassSize").getCount

  private def layerMetrics(t: Json, cold: Pass, warm: Seq[Pass], inputBytes: Long,
      landedCold: (Long, Long), cgClasses: Long, cgCompiles: Long, cgMs: Double): Unit = {
    def perWarm(f: Pass => Double): Double = median(warm.map(f))
    val mb = 1024.0 * 1024.0
    t.num("trace.cold_pass_s", cold.wall)
    t.num("trace.warm_pass_s", perWarm(_.wall))
    t.num("queries.build_s", perWarm(_.buildS.sum))
    t.num("plan.analysis_s", perWarm(_.c.analysisMs / 1e3))
    t.num("plan.optimization_s", perWarm(_.c.optimizationMs / 1e3))
    t.num("plan.planning_s", perWarm(_.c.planningMs / 1e3))
    t.num("plan.actions", perWarm(_.c.actions.toDouble))
    t.num("codegen.compile_s", cgMs / 1e3)
    t.num("codegen.classes", cgCompiles.toDouble)
    t.num("sched.jobs", perWarm(_.c.jobs.toDouble))
    t.num("sched.stages", perWarm(_.c.stages.toDouble))
    t.num("sched.tasks", perWarm(_.c.tasks.toDouble))
    val runS = warm.map(_.c.runMs / 1e3).sum
    val capS = cores * warm.map(_.wall).sum
    t.num("sched.busy_run_s", runS / warm.length)
    t.num("sched.capacity_s", capS / warm.length)
    t.num("sched.busy_share", runS / capS)
    t.num("exec.run_s", perWarm(_.c.runMs / 1e3))
    t.num("exec.cpu_s", perWarm(_.c.cpuNs / 1e9))
    t.num("exec.gc_s", perWarm(_.c.gcMs / 1e3))
    t.num("exec.shuffle_write_mb", perWarm(_.c.shuffleWrite / mb))
    t.num("exec.shuffle_read_mb", perWarm(_.c.shuffleRead / mb))
    t.num("exec.spill_mb", perWarm(_.c.spill / mb))
    t.num("exec.input_mb", perWarm(_.c.input / mb))
    t.num("exec.output_mb", perWarm(_.c.output / mb))
    t.num("plans.landed_mb", landedCold._1 / mb)
    t.num("plans.landed_files", landedCold._2.toDouble)
    t.num("plans.write_amp", landedCold._1.toDouble / inputBytes)
    t.num("streaming.batches", perWarm(_.c.batches.toDouble))
    t.num("streaming.input_rows", perWarm(_.c.streamRows.toDouble))
    t.num("streaming.batch_p50_s", {
      val all = warm.flatMap(_.c.batchMs)
      if (all.isEmpty) 0.0 else median(all) / 1e3
    })
    t.num("streaming.plan_s", perWarm(_.c.streamPlanMs / 1e3))
    t.num("streaming.wal_s", perWarm(_.c.walMs / 1e3))
    t.num("streaming.state_rows", perWarm(_.c.stateRows.values.sum.toDouble))
    t.num("streaming.state_commit_s", perWarm(_.c.stateCommitMs / 1e3))
    val sf = ops.head.sf
    Probes.operators(spark, sf, t, () => { drain(); cur.synchronized(cur.jobs) },
      () => { cur = new Counters })
    Probes.functions(spark, sf, t)
    t.num("jvm.peak_rss_mb", Probes.peakRssMb())
  }
}
