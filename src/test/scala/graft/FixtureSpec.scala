package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Profiles

/** Fixture-style validation (SURVEY §5.2 #3/#5): the reference's
  * good-/bad- trigger-profile corpus, the jitter bound property, the
  * bzip2 storage codec, and the hash functions the key gate builds on.
  */
class FixtureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("profile fixtures: every good/bad row gets its reference verdict") {
    import spark.implicits._
    val out = Profiles.validate(
      Profiles.parse(Profiles.fixturesDf(spark), "line")
        .join(Profiles.fixturesDf(spark), "line"))
      .select("line", "verdict", "expected")
      .as[(String, String, String)].collect()
    assert(out.length === Profiles.fixtures.length)
    out.foreach { case (line, got, want) =>
      assert(got === want, s"line [$line]")
    }
  }

  test("jitter property: |jitter| <= pct * base, floor respected (beacon.c:49-64)") {
    import spark.implicits._
    // jitter = base * pct * (2*rand - 1); next = max(1, base + jitter)
    val base = 3600.0; val pct = 0.30
    val df = spark.range(10000)
      .withColumn("r", rand(42))
      .withColumn("jitter", lit(base) * pct * (col("r") * 2 - 1))
      .withColumn("next", greatest(lit(1.0), lit(base) + col("jitter")))
    val bad = df.filter(abs(col("jitter")) > base * pct + 1e-9).count()
    assert(bad === 0)
    assert(df.filter(col("next") < 1.0).count() === 0)
    // jitter actually varies (not a constant)
    assert(df.select(countDistinct(col("jitter"))).head().getLong(0) > 100)
  }

  test("bzip2 storage codec round-trips text (compression.c:13-31 analog)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bz2").toString + "/out"
    val rows = (1 to 500).map(i => s"beacon line $i with some repetitive payload payload payload")
    rows.toDF("line").coalesce(1).write
      .option("compression", "bzip2").mode("overwrite").text(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".bz2")), files.mkString(","))
    val back = spark.read.text(dir).as[String].collect().sorted
    assert(back.toSeq === rows.sorted)
  }

  test("sha1 / double-sha1 / md5 builtins (main.c:261-293 key derivation)") {
    import spark.implicits._
    val r = Seq("abc").toDF("s")
      .select(sha1($"s").as("h1"), sha1(sha1($"s")).as("h2"), md5($"s").as("m"))
      .head()
    // published test vectors
    assert(r.getString(0) === "a9993e364706816aba3e25717850c26c9cd0d89d")
    assert(r.getString(2) === "900150983cd24fb0d6963f7d28e17f72")
    // double hash = hash of the lowercase hex string (reference: sha1(sha1(text)))
    assert(r.getString(1).length === 40)
    assert(r.getString(1) !== r.getString(0))
  }

  test("events reader: all four physical ts layouts yield identical µs timestamps") {
    // The driver has shipped events.ts as TIMESTAMP(NANOS) (rounds
    // 1-10) and TIMESTAMP(MICROS) (round-11 regen). Tables.events must
    // keep every layout equivalent: the current testdata only
    // exercises the µs branch, so this spec writes the OTHER physical
    // variants itself and pins the invariant that saved round 12 from
    // being round 11's outage again.
    import spark.implicits._
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_events_layouts").toString
    val micros = Seq(1704067200000000L, 1704067200123456L, 1704153599999999L)
    def dirFor(name: String): String = s"$base/$name"

    // layout 1: TimestampType (what Spark writes natively — parquet
    // TIMESTAMP(MICROS, adjustedToUTC))
    micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }.toDF("event_id", "us")
      .select($"event_id", timestamp_micros($"us").as("ts"))
      .write.mode("overwrite").parquet(s"${dirFor("tsv")}/events.parquet")
    // layout 2: TimestampNTZType (parquet TIMESTAMP(MICROS, NTZ) —
    // what inferTimestampNTZ surfaces for a non-UTC-adjusted file)
    micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }.toDF("event_id", "us")
      .select($"event_id",
        timestamp_micros($"us").cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(s"${dirFor("ntz")}/events.parquet")
    // layout 3: raw INT64 nanoseconds (what TIMESTAMP(NANOS) parquet
    // becomes under spark.sql.legacy.parquet.nanosAsLong — the exact
    // column shape the legacy branch sees, sub-µs digits included).
    // This writes plain INT64, which the reader accepts on the FIRST
    // attempt (LongType adapt branch).
    micros.zipWithIndex.map { case (us, i) => (i.toLong, us * 1000L + 789L) }
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"${dirFor("ns")}/events.parquet")

    def readUs(s: SparkSession, d: String): Seq[(Long, Long)] = {
      val df = Tables.events(s, d)
      assert(df.schema("ts").dataType === TimestampType, s"layout $d type")
      df.select($"event_id", unix_micros($"ts").as("us"))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
    }
    val read = Seq("tsv", "ntz", "ns").map(n => n -> readUs(spark, dirFor(n))).toMap
    assert(read("tsv") === micros.zipWithIndex.map { case (us, i) => (i.toLong, us) })
    assert(read("ntz") === read("tsv"), "NTZ cast must preserve the stored µs value in a UTC session")
    assert(read("ns") === read("tsv"), "ns INT64 must truncate to the same µs values")

    // layout 4: a true TIMESTAMP(NANOS) file (pyarrow-written fixture,
    // see FIXTURES.md §5; the same µs values plus sub-µs digits) read
    // through a foreign session without the legacy flag: Spark rejects
    // the file there, so Tables.events must read it on a clone carrying
    // the flag, decided from the footer before any job runs (no failed
    // task), and leave the session's own flag as it was.
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val foreign = spark.newSession()
    foreign.conf.set(nanosKey, "false")
    val fixture = getClass.getResource("/nanos_events").getPath
    intercept[Exception](foreign.read.parquet(Tables.path(fixture, "events")))
    val (got, jobs) = TablesSpec.jobsOf(spark)(readUs(foreign, fixture))
    assert(got === read("tsv"), "TIMESTAMP(NANOS) must truncate to the same µs values")
    assert(jobs.nonEmpty, "the collect ran outside the counted job group")
    assert(TablesSpec.failures(spark.sparkContext, jobs) === ((0, 0)),
      "(failed jobs, failed tasks) while reading the NANOS file")
    assert(foreign.conf.get(nanosKey) === "false", "the clone read leaked the legacy flag")
  }
}
