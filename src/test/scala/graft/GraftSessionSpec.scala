package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Library bootstrap: function registration across packs, and the
  * salting utilities' exactness.
  */
class GraftSessionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("registerAll exposes every pack's functions to SQL") {
    GraftSession.registerAll(spark)
    val r = spark.sql(
      """SELECT crc16_ccitt(CAST('123456789' AS BINARY)) AS a,
        |       simhash64(array('x','y')) AS b,
        |       dot_f32(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |               array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS c,
        |       lang_id('the cat and the dog') AS d
        |""".stripMargin).head()
    assert(r.getInt(0) === 0x29B1)
    assert(r.getDouble(2) === 11.0)
    assert(r.getString(3) === "en")
  }

  test("GraftExtensions injects functions at session build time") {
    // every name registerAll adds to a fresh session must also resolve
    // on a session built with the extension
    val fresh = spark.newSession()
    val builtin = fresh.sessionState.functionRegistry.listFunction().toSet
    GraftSession.registerAll(fresh)
    val registered = (fresh.sessionState.functionRegistry.listFunction().toSet -- builtin)
      .map(_.funcName)
    assert(registered.size >= 44, registered.toSeq.sorted.mkString(","))
    val active = SparkSession.getActiveSession
    try {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val crc = s2.sql("SELECT crc16_ccitt(CAST('123456789' AS BINARY)) AS c")
        .head().getInt(0)
      assert(crc === 0x29B1)
      val missing = registered.filterNot(n =>
        s2.sessionState.functionRegistry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
      assert(missing.isEmpty, s"not injected: ${missing.toSeq.sorted.mkString(", ")}")
      val beacon = s2.sql("SELECT CAST(bz2_decompress(bz2_compress(" +
        "CAST('beacon payload' AS BINARY)), 1024) AS STRING) AS s").head().getString(0)
      assert(beacon === "beacon payload")
    } finally {
      active.foreach { s =>
        SparkSession.setActiveSession(s); SparkSession.setDefaultSession(s)
      }
    }
  }

  test("multi-probe LSH top-k recall >= single-probe recall") {
    import spark.implicits._
    import graft.operators.Similarity
    val brute = Similarity.bruteForceTopK(spark, "/root/testdata/sf0.001")
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val single = Similarity.lshTopK(spark, "/root/testdata/sf0.001")
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val multi = Similarity.lshTopK(spark, "/root/testdata/sf0.001", multiProbe = true)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val rs = (brute intersect single).size.toDouble / brute.size
    val rm = (brute intersect multi).size.toDouble / brute.size
    assert(rm >= rs, s"multi-probe recall $rm < single $rs")
  }

  test("approx_count_distinct tracks exact distinct within rsd") {
    import spark.implicits._
    val df = Tables.orders(spark, "/root/testdata/sf0.01")
    val exact = df.select(countDistinct($"o_custkey")).head().getLong(0)
    val approx = df.select(approx_count_distinct($"o_custkey", 0.02)).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx $approx vs exact $exact")
  }
}
