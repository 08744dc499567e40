package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.IngestPack

/** Reference-semantics ingest operators: engine-only invariants that
  * the driver gate records rows-only for.
  */
class IngestSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("gcStaleSiblings judges staleness by the newest RECURSIVE mtime, not the top dir's") {
    val base = java.nio.file.Files.createTempDirectory("gcspec").toString
    def mk(name: String, nestedFreshFile: Boolean): java.io.File = {
      val d = new java.io.File(s"$base/$name/ck/offsets")
      d.mkdirs()
      val f = new java.io.File(d, "0")
      f.createNewFile()
      val old = System.currentTimeMillis() - 3L * 3600 * 1000
      // age everything, then (optionally) freshen only the NESTED file
      // - POSIX dir mtimes at the top stay old either way
      Seq(f, d, d.getParentFile, d.getParentFile.getParentFile)
        .foreach(_.setLastModified(old))
      if (nestedFreshFile) f.setLastModified(System.currentTimeMillis())
      d.getParentFile.getParentFile
    }
    val live = mk("gate_sf1_0000000a", nestedFreshFile = true)   // old top, fresh checkpoint write
    val dead = mk("gate_sf1_0000000b", nestedFreshFile = false)  // old throughout
    val keep = mk("gate_sf1_0000000c", nestedFreshFile = false)  // old, but it's OUR dir
    // old throughout, but not a key after the prefix: another scale
    // dir's landing (`sf1_skew`) and a name of another shape
    val skew = mk("gate_sf1_skew_0000000d", nestedFreshFile = false)
    val pid = mk("gate_sf1_4242", nestedFreshFile = false)
    val swept = scala.collection.mutable.ArrayBuffer.empty[String]
    Shared.gcStaleSiblings(spark, base, "gate_sf1_", keep.getName, onDelete = swept += _)
    assert(live.exists, "live gate dir (fresh nested write) was GC'd")
    assert(!dead.exists, "fully-stale sibling survived GC")
    assert(keep.exists, "own dir must never be GC'd")
    assert(skew.exists, "another scale dir's landing matched the prefix")
    assert(pid.exists, "a name whose key is not a fingerprint matched")
    assert(swept.toSeq === Seq(dead.getName), "onDelete must see exactly the victims")
    // the per-process gate dirs sweep the same way under a pid key
    Shared.gcStaleSiblings(spark, base, "gate_sf1_", keep.getName, keyShape = "[0-9]+")
    assert(!pid.exists && live.exists && keep.exists && skew.exists)
  }

  test("key ledger: append-only lineage, one current head per key, upsert is its projection") {
    import spark.implicits._
    val hist = Seq(("ka", 1L, "h1"), ("ka", 2L, "h2"), ("kb", 5L, "h3"))
      .toDF("key", "v", "payload")
    val adds = Seq(("ka", 3L, "a1"), ("ka", 2L, "a2dup"), ("kc", 9L, "a3"))
      .toDF("key", "v", "payload")
    val led = operators.Configs.ledger(hist, adds, "key", "v", "payload")
      .as[(String, Long, String, Int, Boolean)].collect()
    // append-only: every input record survives, including the v=2 twin
    assert(led.length === 6)
    val ka = led.filter(_._1 == "ka").sortBy(_._4)
    assert(ka.map(_._3).toSeq === Seq("h1", "a2dup", "h2", "a1"),
      "per-key chain ordered by (v, tiebreak)")
    // exactly one current head per key, and it is the chain tail
    led.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.count(_._5) === 1)
      assert(rows.maxBy(_._4)._5)
    }
    // upsert (last-wins) == the ledger's current projection when the
    // winner is unambiguous (distinct versions per key)
    val h2 = hist.filter(col("v") =!= 2L)
    val a2 = adds.filter(col("v") =!= 2L)
    val up = operators.Configs.upsert(h2, a2, "key", "v")
      .as[(String, Long, String)].collect().toSet
    val cur = operators.Configs.ledger(h2, a2, "key", "v", "payload")
      .as[(String, Long, String, Int, Boolean)].collect()
      .filter(_._5).map(t => (t._1, t._2, t._3)).toSet
    assert(up === cur)
  }

  test("TLV beacon round-trip re-extracts the original fields") {
    import spark.implicits._
    val got = IngestPack.tlvRoundtrip(spark, dir)
      .as[(Long, String, Long, Long)].collect()
    assert(got.length === 300)
    // recompute expectations from the same derivations
    val events = Tables.events(spark, dir).filter(col("event_id") < 300)
      .select("event_id", "user_id").as[(Long, Long)].collect().toMap
    got.foreach { case (eid, mac, uptime, nextBeacon) =>
      val uid = events(eid)
      val macHex = f"${uid * 131071 % 281474976710656L}%012x"
      val expMac = macHex.grouped(2).mkString("-")
      assert(mac === expMac, s"event $eid")
      assert(uptime === uid)
      assert(nextBeacon === eid % 86400)
    }
  }

  test("prefix match: every selected row is the best-rank, first-wins match") {
    import spark.implicits._
    val out = IngestPack.prefixMatch(spark, dir)
      .as[(Long, Long, Int)].collect()
    assert(out.nonEmpty)
    // one row per user at most, rank within 1..4
    assert(out.map(_._1).distinct.length === out.length)
    assert(out.forall(r => r._3 >= 1 && r._3 <= 4))
  }

  test("validation routing covers all routes and partitions the table") {
    import spark.implicits._
    val routes = IngestPack.validationRoute(spark, dir)
      .as[(String, Long)].collect().toMap
    val total = Tables.events(spark, dir).count()
    assert(routes.values.sum === total)
    assert(routes.keySet.subsetOf(Set("good", "bad_port", "bad_key", "bad_jitter")))
  }

  test("os decode: unknown codes fall back, knowns decode") {
    import spark.implicits._
    val names = IngestPack.osDecode(spark, dir).as[(String, Long)].collect().toMap
    assert(names.contains("Unknown"))
    assert(names.keys.exists(_ != "Unknown"))
  }

  test("header-once: exactly one header per block, on its first row") {
    import spark.implicits._
    val out = IngestPack.headerOnce(spark, dir)
      .as[(Long, Long, String)].collect()
    val byBlock = out.groupBy(_._1)
    byBlock.foreach { case (block, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.head._3.startsWith("pid   state"), s"block $block first row")
      assert(sorted.head._3.contains("\n"), s"block $block header newline")
      assert(sorted.tail.forall(!_._3.contains("\n")), s"block $block extra header")
    }
  }

  test("trigger delay: variance bounded by ±30, 1-second minimum clamp") {
    import spark.implicits._
    val rows = IngestPack.triggerDelay(spark, dir)
      .select("delay_s", "variance", "calc_delay")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (delay, v, calc) =>
      assert(v >= -30 && v <= 30)
      assert(calc === math.max(1L, delay + v))
    }
    // the clamp must actually fire somewhere (delay 0..119, variance to -30)
    assert(rows.exists { case (d, v, _) => d + v < 1 })
  }

  test("fork-per-trigger: a failing callback isolates as fork_failed") {
    import spark.implicits._
    val rows = IngestPack.forkCallbacks(spark, dir)
      .as[(Long, String, Long)].collect()
    assert(rows.length === 300)
    rows.foreach { case (id, status, bytes) =>
      if (id % 13 == 0) assert(status === "fork_failed" && bytes === 0L, s"id $id")
      else assert(status === "ok" && bytes === (id % 7 + 1) * 512L, s"id $id")
    }
  }

  test("profile union: distinct collapses the routed duplicates") {
    import spark.implicits._
    val union = IngestPack.profileUnion(spark, dir).as[(String, String)].collect()
    val valid = IngestPack.profileValidation(spark, dir).as[(String, String)].collect()
    assert(union.sorted.toSeq === valid.sorted.toSeq)
  }

  test("env-var expansion expression: identifier boundaries and escapes in-plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, map}
    // TextImpl semantics are pinned in TrainingSpec; this asserts the
    // EXPRESSION path (codegen, map-literal argument) end to end
    val env = map(lit("HOME"), lit("/root"), lit("USER"), lit("svc"),
      lit("USERNAME"), lit("adm"))
    val got = Seq("${HOME}/a", "$USERNAME/$USER", "$USERX", "cost $$5")
      .toDF("p")
      .select(graft.functions.TextExpressions.expand_env(col("p"), env))
      .as[String].collect().toSeq
    // $USERX matches the longest identifier USERX (absent -> empty),
    // never the USER prefix
    assert(got === Seq("/root/a", "adm/svc", "", "cost $5"))
  }

  test("interval join: bin-size invariant, equals naive containment, no nested-loop plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unix_micros}
    import graft.operators.Intervals
    def rows(binMinutes: Int) =
      Intervals.intervalJoin(spark, dir, binMinutes)
        .as[(Long, Long, Long)].collect().toSeq
    val got = rows(30)
    assert(got.nonEmpty, "no event falls inside any derived window")
    // the binned join == the naive containment join, computed here
    // by brute force over the collected inputs (the oracle replays
    // the same thing in SQL; this pins it engine-side)
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("tus"))
      .as[(Long, Long)].collect()
    val iv = Intervals.maintenanceWindows(spark, dir)
      .as[(Long, Long, Long)].collect()
    val want = (for {
      (e, t) <- ev; (i, s, en) <- iv if t >= s && t < en
    } yield (e, i, t - s)).sortBy(x => (x._1, x._2)).toSeq
    assert(got === want)
    // lags sit inside the widest window by construction
    assert(got.forall(r => r._3 >= 0 && r._3 < 25L * 60 * 1000000))
    // correctness is bin-size INVARIANT — only the interval-side
    // duplication factor moves (7 min: multi-bin explode on every
    // window; 120 min: every window single-bin)
    assert(rows(7) === got)
    assert(rows(120) === got)
    // the point of the operator: the plan is an equi join, never the
    // nested-loop shape the naive formulation forces
    val plan = Intervals.intervalJoin(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"interval join planned as a nested loop:\n$plan")
  }
}
