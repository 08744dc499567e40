package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Sessions
import graft.operators.Sessions.Command

/** Command-session state machine semantics (§3.2). */
class SessionsSpec extends AnyFunSuite {

  // env-overridable scale: the verify recipe re-runs the suite at
  // sf0.1 (cross-scale insurance)
  private val dir =
    sys.env.getOrElse("SPARK_GRAFT_SPEC_SF_DIR", "/root/testdata/sf0.001")

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("replay folds opcodes with byte accounting, ignore-unknown, EXIT stop") {
    val cmds = Seq(
      Command("s", 1, Sessions.Upload, "/a", 100),
      Command("s", 2, Sessions.Download, "/b", 40),
      Command("s", 3, 99, "/junk", 7),          // unknown → ignored
      Command("s", 4, Sessions.Execute, "/bin/x", 0),
      Command("s", 5, Sessions.Upload, "/c", 11),
      Command("s", 6, Sessions.Exit, "", 0),
      Command("s", 7, Sessions.Upload, "/late", 999)) // after EXIT: not applied
    val r = Sessions.replayOne("s", cmds.iterator)
    assert(r.bytes_up === 111)
    assert(r.bytes_down === 40)
    assert(r.n_ignored === 1)
    assert(r.executed === 1)
    assert(r.terminated)
    assert(r.last_seq === 6)
    assert(r.n_commands === 7)
  }

  test("replay is order-insensitive in input, ordered by seq in semantics") {
    val cmds = Seq(
      Command("s", 2, Sessions.Exit, "", 0),
      Command("s", 1, Sessions.Upload, "/a", 50))
    val r = Sessions.replayOne("s", scala.util.Random.shuffle(cmds).iterator)
    assert(r.bytes_up === 50 && r.terminated)
  }

  test("distributed replay equals local fold per session") {
    import spark.implicits._
    val ds = Sessions.syntheticCommands(spark, dir)
    val dist = Sessions.replay(ds).collect().map(s => s.session_id -> s).toMap
    val local = ds.collect().groupBy(_.session_id).map { case (id, cs) =>
      id -> Sessions.replayOne(id, cs.iterator)
    }
    assert(dist === local)
    assert(dist.nonEmpty)
  }

  test("day-sharded sessionization is row-identical to the unsharded operator") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, dir)
    val sharded = Sessions.gapSessionsSharded(ev)
    val plain = queries.IngestPack.sessionStats(spark, dir)
    // distributed set equality — no driver-side collect of the corpus
    assert(sharded.exceptAll(plain).isEmpty && plain.exceptAll(sharded).isEmpty,
      "sharded sessionization diverged from the unsharded operator")
    // the event-level sort really is shard-scoped: the first-pass
    // window partitions by (user, day shard), not the bare key
    val winSpecs = sharded.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.length
    }
    assert(winSpecs.contains(2),
      s"no (key, shard)-partitioned window in the plan: $winSpecs")
  }

  test("sharded == unsharded on a hot-key corpus (30%-of-events implant)") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    import spark.implicits._
    // synthetic skew fixture, self-contained (no /tmp dependency): the
    // hot user owns ~30% of events, spread over 6 days so day-shards
    // split it; session gaps planted to SPAN midnight boundaries (the
    // merge path) as well as fall inside days
    val rows = (0 until 20000).map { i =>
      val user = if (i % 10 < 3) 424242L else (i % 997).toLong
      // epoch-aligned days; each event i advances 40 min within its
      // user's stream -> sessions chain across midnight for the hot key
      val ts = new Timestamp(1700000000000L + (i / 10) * 2400L * 1000)
      (i.toLong, user, ts, (i % 4096).toDouble)
    }.toDF("event_id", "user_id", "ts", "value")
    val sharded = Sessions.gapSessionsSharded(rows)
    // unsharded reference: the sessionStats shape inline over the frame
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val plain = rows
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 3600L * 1000000, 1)
          .otherwise(0))
      .withColumn("session_no", sum(col("new_s")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy("user_id", "session_no")
      .agg(count(lit(1)).as("n_cmds"),
        round(sum(col("value").cast("decimal(18,6)")), 2).cast("double").as("bytes"),
        unix_micros(min(col("ts"))).as("started"),
        unix_micros(max(col("ts"))).as("ended"))
    assert(sharded.exceptAll(plain).isEmpty && plain.exceptAll(sharded).isEmpty,
      "sharded diverged from unsharded on the hot-key fixture")
    // the fixture actually exercises the merge: the hot key chains
    // 40-minute steps continuously, so it must own >= 1 session whose
    // bounds land in DIFFERENT day shards (re-linked at boundaries)
    val dayUs = 86400L * 1000000
    val spans = sharded.filter(col("user_id") === 424242L &&
      floor(col("started") / dayUs) =!= floor(col("ended") / dayUs)).count()
    assert(spans >= 1, "no boundary-spanning hot session — merge path untested")
    val hot = sharded.filter(col("user_id") === 424242L)
      .agg(count(lit(1)), sum("n_cmds")).head()
    assert(hot.getLong(1) === 6000L, s"hot key lost events: $hot")
  }
}
