package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{CodecExpressions => CE, CodecImpl}

/** The codec Catalyst expressions exercised through real Spark plans —
  * Column API, SQL registration, and generator-style explode of
  * tlv_decode.
  */
class CodecExprSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("crc16 over a column matches the pure implementation") {
    import spark.implicits._
    val rows = Seq("123456789", "", "hello graft").map(_.getBytes("ASCII"))
    val got = rows.toDF("b").select(CE.crc16_ccitt(col("b"))).as[Int].collect()
    assert(got.toSeq === rows.map(CodecImpl.crc16).toSeq)
    assert(got(0) === 0x29B1)
  }

  test("bthp frame/strip round-trips through a plan, SQL registration included") {
    import spark.implicits._
    val row = Seq(("message-bytes", 77L)).toDF("msg", "pid")
      .select(CE.bthp_strip(CE.bthp_frame(col("msg").cast("binary"), col("pid"),
        lit("10.1.2.3"), lit(null).cast("string"))).as("h"))
      .select(col("h.proxy_id"), col("h.beacon_ip"), col("h.dst_ip"),
        col("h.payload").cast("string"))
      .head()
    assert(row.getLong(0) === 77L)
    assert(row.getString(1) === "10.1.2.3")
    assert(row.isNullAt(2))
    assert(row.getString(3) === "message-bytes")
    graft.functions.CodecExpressions.register(spark)
    val viaSql = spark.sql(
      "SELECT bthp_strip(bthp_frame(CAST('x' AS BINARY), 5L, '9.8.7.6', NULL)).proxy_id AS p")
      .head().getLong(0)
    assert(viaSql === 5L)
    // ExpectsInputTypes: an INT-literal proxy id coerces to BIGINT at
    // analysis instead of ClassCastException-ing at runtime
    val intLit = spark.sql(
      "SELECT bthp_strip(bthp_frame(CAST('x' AS BINARY), 5, '9.8.7.6', NULL)).proxy_id AS p")
      .head().getLong(0)
    assert(intLit === 5L)
  }

  test("xtea encrypt/decrypt round-trips through a plan") {
    import spark.implicits._
    val key = Array.tabulate[Byte](16)(_.toByte)
    val pt = "EIGHTBYTESx2!!!!".getBytes("ASCII")
    val back = Seq((pt, key)).toDF("data", "key")
      .select(CE.xtea_decrypt(CE.xtea_encrypt(col("data"), col("key")), col("key")).as("rt"))
      .as[Array[Byte]].head()
    assert(back.sameElements(pt))
  }

  test("tlv_decode explodes into typed per-field rows") {
    import spark.implicits._
    val blob = CodecImpl.tlvEncode(Seq(
      1 -> "00-11-22-33-44-55".getBytes, 2 -> "12345".getBytes, 7 -> "3600".getBytes))
    val out = Seq(Tuple1(blob)).toDF("raw")
      .select(explode(CE.tlv_decode(col("raw"))).as("f"))
      .select(col("f.type").as("t"), col("f.value").cast("string").as("v"))
      .as[(Int, String)].collect().toSeq
    assert(out === Seq((1, "00-11-22-33-44-55"), (2, "12345"), (7, "3600")))
  }

  test("tlv_decode routes a truncated frame to null, interpreted and codegen") {
    CE.register(spark)
    // header claims 10 value bytes but 2 follow; a lone half header;
    // one well-formed frame. Built over range() (not a local relation,
    // which the optimizer would evaluate interpreted) so the codegen
    // pass really runs generated code.
    def bin(b: Array[Byte]) = lit(b)
    val raw = when(col("id") === 0, bin(Array[Byte](0, 1, 0, 10, 0x41, 0x42)))
      .when(col("id") === 1, bin(Array[Byte](0)))
      .otherwise(bin(CodecImpl.tlvEncode(Seq(1 -> "ab".getBytes))))
    // dns_name_decode: a truncated label; a pointer to itself; a
    // well-formed name; the same name at a negative offset
    val dns = when(col("id") === 0, bin(Array[Byte](3, 0x61, 0x62)))
      .when(col("id") === 1, bin(Array[Byte](0xC0.toByte, 0)))
      .otherwise(bin(CodecImpl.dnsNameEncode("ab.c")))
    val dnsOffset = when(col("id") === 3, lit(-1)).otherwise(lit(0))
    // bthp_strip: a truncated main header; a main header cut inside
    // the additional headers; two well-formed envelopes
    val bthp = when(col("id") === 0, bin(Array[Byte](1, 2, 0)))
      .when(col("id") === 1, bin(Array[Byte](1, 2, 0, 14, 0, 0, 0, 0, 0, 0, 0, 0, 2)))
      .otherwise(bin(CodecImpl.bthpFrame("x".getBytes, 5L, "9.8.7.6")))
    // key_extract: a buffer under 17 bytes; 17 bytes whose first byte
    // puts the key at offset 14 (needs 31); a well-formed 32-byte buffer
    val keyBuf = Array.tabulate[Byte](32)(i => (i * 7 + 1).toByte)
    val kbuf = when(col("id") === 0, bin(Array[Byte](1, 2, 3, 4, 5)))
      .when(col("id") === 1, bin(Array.tabulate[Byte](17)(i => if (i == 0) 11 else i.toByte)))
      .otherwise(bin(keyBuf))
    // sliding_xor: an empty key; a negative offset; a well-formed call
    val xkey = when(col("id") === 0, bin(Array.empty[Byte])).otherwise(bin("ab".getBytes))
    val xoff = when(col("id") === 1, lit(-1)).otherwise(lit(3))
    // xtea_encrypt/xtea_decrypt: a 15- and a 17-byte key; a 16-byte key
    val teaKey = Array.tabulate[Byte](16)(i => (i * 5 + 3).toByte)
    val tkey = when(col("id") === 0, bin(teaKey.take(15)))
      .when(col("id") === 1, bin(teaKey :+ 1.toByte)).otherwise(bin(teaKey))
    val teaPlain = "beacon!!".getBytes
    val teaCipher = CodecImpl.xteaEncrypt(teaPlain, teaKey)
    // aes_frame_decode: a 16- and a 31-byte key; the 32-byte key
    val aesKey = Array.tabulate[Byte](32)(i => (i * 3 + 2).toByte)
    val akey = when(col("id") === 0, bin(aesKey.take(16)))
      .when(col("id") === 1, bin(aesKey.take(31))).otherwise(bin(aesKey))
    val aesFrame = CodecImpl.aesFrameEncode("frame".getBytes, aesKey, CodecImpl.sessionIv(aesKey))
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    for (mode <- Seq(Seq("false", "NO_CODEGEN"), Seq("true", "CODEGEN_ONLY"))) {
      keys.zip(mode).foreach { case (k, v) => spark.conf.set(k, v) }
      try withClue(mode) {
        val q = spark.range(4).select(col("id"), CE.tlv_decode(raw).as("f"),
          CE.dns_name_decode(dns, dnsOffset).as("n"), CE.bthp_strip(bthp).as("h"),
          CE.key_extract(kbuf).as("k"), CE.sliding_xor(bin("xyz".getBytes), xkey, xoff).as("x"),
          CE.xtea_encrypt(bin(teaPlain), tkey).as("te"), CE.xtea_decrypt(bin(teaCipher), tkey).as("td"),
          CE.aes_frame_decode(bin(aesFrame), akey, lit(64)).as("a"))
        assert(q.queryExecution.executedPlan.toString.contains("*(") === (mode.head == "true"))
        val got = q.orderBy("id").collect()
        assert(got.take(2).forall(_.isNullAt(1)), "truncated frame did not decode to null")
        assert(got(2).getSeq[org.apache.spark.sql.Row](1).map(_.getInt(0)) === Seq(1))
        assert(Seq(0, 1, 3).forall(got(_).isNullAt(2)), "malformed DNS name did not decode to null")
        assert(got(2).getString(2) === "ab.c")
        assert(got.take(2).forall(_.isNullAt(3)), "truncated BTHP envelope did not decode to null")
        assert(got(2).getStruct(3).getAs[Long]("proxy_id") === 5L)
        assert(got.take(2).forall(_.isNullAt(4)), "short key buffer did not decode to null")
        assert(got(2).getAs[Array[Byte]](4).toSeq === CodecImpl.keyExtract(keyBuf).toSeq)
        assert(got.take(2).forall(_.isNullAt(5)), "empty key or negative offset did not give null")
        assert(got(2).getAs[Array[Byte]](5).toSeq ===
          CodecImpl.slidingXor("xyz".getBytes, "ab".getBytes, 3).toSeq)
        assert(got.take(2).forall(r => r.isNullAt(6) && r.isNullAt(7)),
          "an XTEA key of the wrong length did not give null")
        assert(got(2).getAs[Array[Byte]](6).toSeq === teaCipher.toSeq)
        assert(got(2).getAs[Array[Byte]](7).toSeq === teaPlain.toSeq)
        assert(got.take(2).forall(_.isNullAt(8)), "an AES key of the wrong length did not give null")
        assert(got(2).getAs[Array[Byte]](8).toSeq === "frame".getBytes.toSeq)
      } finally keys.foreach(spark.conf.unset)
    }
    // the SQL form from the bug report (constant-folded, interpreted)
    assert(spark.sql("SELECT tlv_decode(unhex('0001000A4142')) AS f").head().isNullAt(0))
    assert(spark.sql("SELECT dns_name_decode(unhex('C000'), 0) AS n").head().isNullAt(0))
    assert(spark.sql("SELECT bthp_strip(unhex('010200')) AS h").head().isNullAt(0))
    assert(spark.sql("SELECT key_extract(unhex('0102')) AS k").head().isNullAt(0))
    assert(spark.sql("SELECT sliding_xor(unhex('41'), unhex(''), 0) AS x").head().isNullAt(0))
    assert(spark.sql("SELECT sliding_xor(unhex('41'), unhex('4243'), -1) AS x").head().isNullAt(0))
    assert(spark.sql("SELECT xtea_encrypt(unhex('41'), unhex('00')) AS x").head().isNullAt(0))
    assert(spark.sql("SELECT xtea_decrypt(unhex(repeat('00', 8)), unhex('00')) AS x").head().isNullAt(0))
    assert(spark.sql(
      "SELECT aes_frame_decode(unhex(repeat('00', 16)), unhex('00'), 16) AS a").head().isNullAt(0))
  }

  test("size_encode and dns_name_encode give null on a bad input, interpreted and codegen") {
    CE.register(spark)
    // size_encode: two negative sizes, then two valid ones
    val size = when(col("id") === 0, lit(-1L)).when(col("id") === 1, lit(Long.MinValue))
      .otherwise(col("id") * 1000)
    // dns_name_encode: a 64-byte label; a label with a character outside
    // US-ASCII (a surrogate pair); an ASCII name; a 63-byte label
    val name = when(col("id") === 0, lit("a" * 64 + ".com"))
      .when(col("id") === 1, lit("a\uD83D\uDE00b.c"))
      .when(col("id") === 2, lit("ab.c")).otherwise(lit("a" * 63))
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    for (mode <- Seq(Seq("false", "NO_CODEGEN"), Seq("true", "CODEGEN_ONLY"))) {
      keys.zip(mode).foreach { case (k, v) => spark.conf.set(k, v) }
      try withClue(mode) {
        val q = spark.range(4).select(col("id"), CE.size_encode(size).as("s"),
          CE.dns_name_encode(name).as("n"))
        assert(q.queryExecution.executedPlan.toString.contains("*(") === (mode.head == "true"))
        val got = q.orderBy("id").collect()
        assert(got.take(2).forall(_.isNullAt(1)), "a negative size did not give null")
        assert(got(2).getAs[Array[Byte]](1).toSeq === CodecImpl.sizeEncode(2000L).toSeq)
        assert(got(3).getAs[Array[Byte]](1).toSeq === CodecImpl.sizeEncode(3000L).toSeq)
        assert(got(0).isNullAt(2), "a 64-byte label did not give null")
        // the length byte counts the 3 bytes written ('?' for the pair)
        assert(got(1).getAs[Array[Byte]](2).toSeq === Seq[Byte](3, 'a', '?', 'b', 1, 'c', 0))
        assert(got(2).getAs[Array[Byte]](2).toSeq === Seq[Byte](2, 'a', 'b', 1, 'c', 0))
        assert(got(3).getAs[Array[Byte]](2).toSeq === (63.toByte +: Seq.fill[Byte](63)('a')) :+ 0.toByte)
      } finally keys.foreach(spark.conf.unset)
    }
    // the SQL forms (constant-folded, interpreted)
    assert(spark.sql("SELECT size_encode(-1) AS s").head().isNullAt(0))
    assert(spark.sql("SELECT dns_name_encode(repeat('a', 64)) AS n").head().isNullAt(0))
  }

  test("SQL registration: functions callable from spark.sql") {
    CE.register(spark)
    val row = spark.sql(
      """SELECT crc16_ccitt(CAST('123456789' AS BINARY)) AS crc,
        |       mac_format(unhex('001A2B3C4D5E')) AS mac,
        |       size_decode(size_encode(42L)) AS sz,
        |       ip_cksum(unhex('0001f203f4f5f6f7')) AS ck
        |""".stripMargin).head()
    assert(row.getInt(0) === 0x29B1)
    assert(row.getString(1) === "00-1a-2b-3c-4d-5e")
    assert(row.getLong(2) === 42L)
    assert(row.getInt(3) === 0x220D)
  }

  test("aes_frame encode/decode round-trips through a plan, rejects to null") {
    CE.register(spark)
    val key = "repeat('0b', 32)" // deterministic 32-byte key, hex-expanded
    val row = spark.sql(
      s"""SELECT CAST(aes_frame_decode(
         |         aes_frame_encode(CAST('hello session' AS BINARY), unhex($key)),
         |         unhex($key), 65535) AS STRING) AS rt,
         |       aes_frame_decode(
         |         aes_frame_encode(CAST('hello session' AS BINARY), unhex($key)),
         |         unhex($key), 12) AS cap_reject,
         |       aes_frame_decode(unhex('00'), unhex($key), 65535) AS align_reject
         |""".stripMargin).head()
    assert(row.getString(0) === "hello session")
    assert(row.isNullAt(1), "embedded length above cap must reject to null")
    assert(row.isNullAt(2), "non-16-multiple frame must reject to null")
  }

  test("generated code for the kernels compiles (no silent interpreted fallback)") {
    import spark.implicits._
    // with fallback disabled, a janino compile error fails the query
    // instead of silently degrading the stage to interpreted mode
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      val s = emb.select(
        graft.functions.VectorExpressions.dot_f32(col("embedding"), col("embedding")).as("d"),
        graft.functions.VectorExpressions.dot_f32_dec(col("embedding"), col("embedding")).as("dd"))
        .agg(sum(col("d"))).head().getDouble(0)
      assert(s > 0)
      val mac = Seq(Tuple1(Array.tabulate[Byte](6)(_.toByte))).toDF("b")
        .select(CE.mac_format(col("b")),
          CE.crc16_ccitt(col("b")),
          CE.tlv_decode(CE.tlv_encode(array(
            struct(lit(1).as("type"), col("b").as("value"))))))
        .head()
      assert(mac.getString(0) === "00-01-02-03-04-05")
      // text expressions generate code too
      val txt = Seq(("the cat and the dog", "a 'b c' d")).toDF("t", "line")
        .select(graft.functions.TextExpressions.lang_id(col("t")),
          graft.functions.TextExpressions.rolling_fingerprint(col("t")),
          graft.functions.TextExpressions.simhash64(split(col("t"), " ")),
          graft.functions.TextExpressions.argv_tokenize(col("line")))
        .head()
      assert(txt.getString(0) === "en")
      assert(txt.getSeq[String](3) === Seq("a", "b c", "d"))
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("null in → null out (no NPE inside a plan)") {
    import spark.implicits._
    val got = Seq(Option.empty[Array[Byte]]).toDF("b")
      .select(CE.crc16_ccitt(col("b"))).collect()
    assert(got.head.isNullAt(0))
  }

  test("key_extract + seed_xor compose inside one projection") {
    import spark.implicits._
    val buf = new Array[Byte](64)
    buf(0) = (3 ^ 5).toByte // offset 3 % 15 = 3... b0^5=6? (3^5)=6 → 6%15=6
    val off = ((buf(0) & 0xFF) ^ 5) % 15
    for (i <- 0 until 16) buf(off + 1 + i) = (i + 1).toByte
    val k = Seq(Tuple1(buf)).toDF("b")
      .select(CE.key_extract(col("b")).as("k")).as[Array[Byte]].head()
    assert(k.sameElements((1 to 16).map(_.toByte)))
  }

  test("text expressions declare inputTypes: coercion at analysis, not runtime CCE") {
    graft.functions.TextExpressions.register(spark)
    // an INT argument to the string-typed functions coerces (int ->
    // string) at analysis time instead of ClassCastException-ing in
    // the executor; hamming64 coerces INT literals to BIGINT
    assert(spark.sql("SELECT lang_id(123) AS l").head().getString(0) != null)
    assert(spark.sql("SELECT fnv1a64(7) AS h").head().getLong(0) ==
      spark.sql("SELECT fnv1a64('7') AS h").head().getLong(0))
    assert(spark.sql("SELECT hamming64(5, 1) AS d").head().getInt(0) === 1)
    assert(spark.sql("SELECT size(argv_tokenize(42)) AS n").head().getInt(0) === 1)
  }
}
