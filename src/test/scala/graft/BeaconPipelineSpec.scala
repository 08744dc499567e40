package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.BeaconPipeline

/** End-to-end ingest DAG over the synthetic beacon corpus: decode,
  * child tables, enrichment, routing, partitioned landing.
  */
class BeaconPipelineSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("pipeline routes every beacon to exactly one sink; error channel = unknown TLV") {
    val r = BeaconPipeline.build(spark, dir)
    val total = Tables.events(spark, dir).count()
    val good = r.good.count(); val bad = r.bad.count()
    assert(good + bad === total)
    // eid % 10 == 3 injects the unknown TLV type
    val expectedBad = Tables.events(spark, dir)
      .filter(col("event_id") % 10 === 3).count()
    assert(bad === expectedBad)
    assert(r.bad.filter(!col("parse_error")).count() === 0)
  }

  test("TLV decode reproduces the derived fields byte-for-byte") {
    import spark.implicits._
    val got = BeaconPipeline.decode(BeaconPipeline.syntheticBeacons(spark, dir))
      .filter(!col("parse_error"))
      .select("implant_id", "mac", "uptime_s")
      .as[(String, String, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (imp, mac, up) =>
      val uid = imp.stripPrefix("imp-").toLong
      assert(mac === f"${uid * 131071 % 281474976710656L}%012x".grouped(2).mkString("-"))
      assert(up === uid * 37 % 864000)
    }
  }

  test("v1 wire records decode through the length dispatch; v2 rows are untouched") {
    import spark.implicits._
    val e = Tables.events(spark, dir).filter(col("event_id") < 200)
    // the v1 record is exactly 32 bytes (the dispatch signal); v2 TLV
    // payloads are >= 35 by construction
    val wire = e.select(col("event_id"), col("user_id"))
    val lens = BeaconPipeline.decodeMixedWire(e)
      .join(wire, col("rec_id") === col("event_id"))
      .select("rec_id", "user_id", "ver", "mac", "uptime_s")
      .as[(Long, Long, Int, String, Long)].collect()
    assert(lens.nonEmpty)
    lens.foreach { case (rid, uid, ver, mac, up) =>
      assert(ver === (if (rid % 4 == 1) 1 else 2))
      assert(mac === f"${uid * 131071 % 281474976710656L}%012x".grouped(2).mkString("-"))
      assert(up === uid * 37 % 864000)
    }
    // both versions present in the slice
    assert(lens.count(_._3 == 1) > 0 && lens.count(_._3 == 2) > 0)
    // raw layout check: v1 payload is 32 bytes, mac text in the first
    // 17, big-endian uptime at [21,24]
    val raw = e.filter(col("event_id") % 4 === 1).limit(1)
      .select(col("user_id"),
        BeaconPipeline.v1Record(
          lit("aa-bb-cc-dd-ee-ff"), lit(258L)).as("p"))
      .as[(Long, Array[Byte])].head()
    assert(raw._2.length === 32)
    assert(new String(raw._2, 0, 17, "US-ASCII") === "aa-bb-cc-dd-ee-ff")
    assert(raw._2.slice(20, 24).toSeq === Seq[Byte](0, 0, 1, 2))
  }

  test("survey child tables parse typed rows out of the text blobs") {
    val r = BeaconPipeline.build(spark, dir)
    val goodN = r.good.count()
    // two proc lines per beacon
    assert(r.processes.count() === goodN * 2)
    assert(r.processes.filter(col("command") === "beacond").count() === goodN)
    // one socket line per beacon, state decoded via the dim
    assert(r.sockets.count() === goodN)
    assert(r.sockets.filter(col("state") === "UNKNOWN").count() === 0)
    assert(r.sockets.filter(col("local_ip").rlike("^\\d+\\.\\d+\\.\\d+\\.\\d+$")).count() === goodN)
    // one route per beacon with decoded flags (0003 = UG)
    assert(r.routes.count() === goodN)
    assert(r.routes.filter(col("flags") === "UG").count() === goodN)
    // every dialect yields its interface row
    assert(r.interfaces.count() === goodN)
    assert(r.interfaces.select("dialect").distinct().count() === 3)
    assert(r.interfaces.filter(col("mac").rlike("^([0-9a-f]{2}:){5}[0-9a-f]{2}$")).count() === goodN)
  }

  test("observed ingest metrics match the routed counts") {
    val df = BeaconPipeline.enriched(spark, dir)
    // collect() executes THIS plan (count() would spawn a child query
    // execution and the metrics would attach there instead)
    val total = df.collect().length.toLong
    val m = df.queryExecution.observedMetrics("ingest_metrics")
    assert(m.getAs[Long]("rows") === total)
    val expectedErrors = Tables.events(spark, dir)
      .filter(col("event_id") % 10 === 3).count()
    assert(m.getAs[Long]("parse_errors") === expectedErrors)
    assert(m.getAs[Long]("unknown_os") > 0)
  }

  test("survey parsers skip malformed lines instead of failing") {
    import spark.implicits._
    val junk = Seq(
      ("imp-x", new java.sql.Timestamp(0L),
        "garbage line\n123 no parens here\n77 (ok) S 1 2 3\n\n  \nnot: a: socket"),
    ).toDF("implant_id", "beacon_ts", "blob")
    val procs = graft.operators.Surveys.parseProcessList(junk, "blob").collect()
    assert(procs.length === 1 && procs.head.getAs[Int]("pid") === 77)
    val socks = graft.operators.Surveys.parseSockets(junk, "blob", "tcp").collect()
    assert(socks.isEmpty)
    val routes = graft.operators.Surveys.parseRoutes(junk, "blob").collect()
    assert(routes.isEmpty)
  }

  test("uptime dialects: last boot wins, quirks and error channels pinned") {
    import spark.implicits._
    val rows = Seq(
      // solaris: TWO boot records — the reference's getutxent loop
      // overwrites boottime per match, so the LAST wins (not the max:
      // the later line has the EARLIER timestamp here)
      ("solaris", "run-level 3|900\nsystem boot|950\nLOGIN|951\nsystem boot|800", 1000L),
      // solaris: no boot record -> boottime stays 0 -> uptime = now
      ("solaris", "run-level 3|900\nLOGIN|901", 1000L),
      // solaris: now == boottime -> tm == 0, the dialect's error signal
      ("solaris", "system boot|1000", 1000L),
      // linux: fscanf("%i") reads the integer part of the first field
      ("linux", "12345.67 99999.99", 1000L),
      // linux: unreadable source (fopen-fail path)
      ("linux", "", 1000L),
      ("linux", "garbage", 1000L),
      // no compiled source on this platform
      ("mikrotik", null, 1000L))
      .toDF("dialect", "blob", "now")
    val out = rows.select(
      graft.operators.Surveys.uptimeOf(col("dialect"), col("blob"), col("now")).as("r"))
      .select("r.uptime_s", "r.src_ok", "r.boot_found").collect()
    assert(out(0).getLong(0) === 200L && out(0).getBoolean(1) && out(0).getBoolean(2))
    assert(out(1).getLong(0) === 1000L && out(1).getBoolean(1) && !out(1).getBoolean(2))
    assert(out(2).getLong(0) === 0L && !out(2).getBoolean(1) && out(2).getBoolean(2))
    assert(out(3).getLong(0) === 12345L && out(3).getBoolean(1) && out(3).isNullAt(2))
    assert(out(4).getLong(0) === 0L && !out(4).getBoolean(1))
    assert(out(5).getLong(0) === 0L && !out(5).getBoolean(1))
    assert(out(6).getLong(0) === 0L && !out(6).getBoolean(1) && out(6).isNullAt(2))
  }

  test("partitioned landing: daily partitions prune") {
    val out = Files.createTempDirectory("beacon_out").toString
    BeaconPipeline.run(spark, dir, out)
    val days = new java.io.File(s"$out/beacons_good").listFiles()
      .filter(_.getName.startsWith("d=")).map(_.getName)
    assert(days.length > 5, s"expected daily partitions, got ${days.toSeq}")
    // partition pruning: a single-day read scans one partition
    val oneDay = spark.read.parquet(s"$out/beacons_good")
      .filter(col("d") === days.head.stripPrefix("d="))
    val plan = oneDay.queryExecution.executedPlan.toString
    assert(oneDay.count() > 0)
    assert(!plan.contains("PartitionFilters: []"), "partition filter not pushed")
  }

  test("the beacon scan splits a small multi-row-group events file over the cores") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val key = "spark.sql.files.openCostInBytes"
    val before = spark.conf.getOption(key)
    // the same 1,000 events in one file of several row groups
    val copy = Files.createTempDirectory("beacon_rg").toString
    Tables.events(spark, dir).coalesce(1).write
      .option("parquet.block.size", 4096).parquet(Tables.path(copy, "events"))
    val hconf = spark.sparkContext.hadoopConfiguration
    val rowGroups = new java.io.File(Tables.path(copy, "events")).listFiles()
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toString), hconf))
        try r.getRowGroups.size finally r.close()
      }.sum
    assert(rowGroups >= 2, s"fixture has $rowGroups row group(s)")
    val want = math.min(rowGroups, spark.sparkContext.defaultParallelism)

    val scan = BeaconPipeline.syntheticBeacons(spark, copy).queryExecution.toRdd
    val rowsPerTask = scan.mapPartitions(it => Iterator(it.size)).collect()
    assert(scan.getNumPartitions >= want, s"${scan.getNumPartitions} partitions")
    // a row group is read by the split holding its midpoint, and the
    // footer's bytes count too, so the tail split of a file this small
    // may hold no row group: ask only that the rows left the one task
    assert(rowsPerTask.count(_ > 0) > 1, s"rows per task: ${rowsPerTask.toSeq}")
    // the caller's own scan of the same file still plans under its
    // open cost: one split
    assert(spark.conf.getOption(key) === before)
    assert(Tables.events(spark, copy).queryExecution.toRdd.getNumPartitions === 1)

    def counts(d: String): (Long, Long) = {
      val r = BeaconPipeline.enriched(spark, d)
        .agg(count(lit(1)), sum(when(col("parse_error"), 1L).otherwise(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(counts(copy) === counts(dir))
  }
}
