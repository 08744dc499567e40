package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CodecImpl

/** Frozen golden vectors (tsv files under src/test/resources/golden,
  * FIXTURES.md §3): the committed regression baseline for every codec.
  * A change in any implementation that shifts a single byte fails here.
  */
class GoldenVectorSpec extends AnyFunSuite {

  private def hex(s: String): Array[Byte] =
    if (s.isEmpty) Array.empty
    else s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def hexOf(b: Array[Byte]): String = b.map(x => f"${x & 0xFF}%02x").mkString

  private def vectors(name: String): Seq[Array[String]] = {
    val in = getClass.getResourceAsStream(s"/golden/$name")
    require(in != null, s"missing golden resource $name")
    scala.io.Source.fromInputStream(in).getLines()
      .filter(_.nonEmpty).map(_.split("\t", -1)).toSeq
  }

  test("crc16.tsv") {
    vectors("crc16.tsv").foreach { case Array(in, want) =>
      assert(f"${CodecImpl.crc16(hex(in))}%04x" === want, in)
    }
  }

  test("xtea.tsv") {
    vectors("xtea.tsv").foreach { case Array(k, pt, ct) =>
      assert(hexOf(CodecImpl.xteaEncrypt(hex(pt), hex(k))) === ct, pt)
      val padded = hex(pt) ++ Array.fill[Byte]((8 - hex(pt).length % 8) % 8)(0)
      assert(CodecImpl.xteaDecrypt(hex(ct), hex(k)).sameElements(padded), pt)
    }
  }

  test("size_preamble.tsv") {
    vectors("size_preamble.tsv").foreach { case Array(n, buf) =>
      assert(hexOf(CodecImpl.sizeEncode(n.toLong)) === buf, n)
      assert(CodecImpl.sizeDecode(hex(buf)) === n.toLong, n)
    }
  }

  test("key_extract.tsv") {
    vectors("key_extract.tsv").foreach { case Array(buf, key) =>
      assert(hexOf(CodecImpl.keyExtract(hex(buf))) === key, buf)
    }
  }

  test("payload_xor.tsv") {
    vectors("payload_xor.tsv").foreach { case Array(p, obf) =>
      assert(hexOf(CodecImpl.seedXor(hex(p))) === obf, p)
      // involution modulo the zero-seed promotion
      assert(hexOf(CodecImpl.seedXor(hex(obf))).drop(2) === p.drop(2), p)
    }
  }

  test("tlv.tsv") {
    // columns: encode spec, wire bytes, decode spec — they differ when
    // the stream embeds a zero-length TLV, which the reference decoder
    // treats as a terminator (honeycomb.py:218: the walk runs only
    // while type != 0 AND length != 0)
    def parse(spec: String): Seq[(Int, Array[Byte])] =
      if (spec.isEmpty) Seq.empty
      else spec.split(",").toSeq.map { f =>
        val Array(t, v) = f.split(":", -1); (t.toInt, hex(v))
      }
    vectors("tlv.tsv").foreach { case Array(encSpec, enc, decSpec) =>
      assert(hexOf(CodecImpl.tlvEncode(parse(encSpec))) === enc, encSpec)
      val back = CodecImpl.tlvDecode(hex(enc))
      val want = parse(decSpec)
      assert(back.map(_._1) === want.map(_._1), decSpec)
      assert(back.zip(want).forall { case ((_, a), (_, b)) => a.sameElements(b) }, decSpec)
    }
  }

  test("b64.tsv matches java and the reference RFC1113 table") {
    vectors("b64.tsv").foreach { case Array(in, b64) =>
      assert(java.util.Base64.getEncoder.encodeToString(hex(in)) === b64, in)
    }
  }

  test("dns_name.tsv") {
    vectors("dns_name.tsv").foreach { case Array(pkt, off, name) =>
      assert(CodecImpl.dnsNameDecode(hex(pkt), off.toInt) === name, pkt)
    }
  }

  test("mac_fmt.tsv") {
    vectors("mac_fmt.tsv").foreach { case Array(m, want) =>
      assert(CodecImpl.macFormat(hex(m)) === want, m)
    }
  }

  test("cksum.tsv") {
    vectors("cksum.tsv").foreach { case Array(in, want) =>
      assert(f"${CodecImpl.ipCksum(hex(in))}%04x" === want, in)
    }
  }

  // ---------------------------------------------------------- BPE pins

  test("BpeVocab.merges is exactly the frozen trainer output") {
    // the versioned-artifact contract: the committed table IS
    // bpeTrain over the committed seed — any trainer edit that would
    // silently shift token ids across the lake fails here
    import graft.functions.BpeVocab
    assert(References.bpeTrain(References.seedCorpus, References.nMerges)
      === BpeVocab.merges)
  }

  test("bpe encode golden vectors") {
    import graft.functions.TextImpl
    val gold: Seq[(String, Seq[Int])] = Seq(
      "the table scan" -> Seq(257, 283, 287),
      " the query engine reads the table" ->
        Seq(258, 372, 378, 390, 371, 258, 283),
      "a hash join on the key" ->
        Seq(97, 364, 330, 336, 110, 258, 331),
      "in 1995 and 2020 the count was 1000" ->
        Seq(277, 357, 380, 262, 339, 309, 258, 334, 269, 275, 358, 48),
      "a == b and a != b" ->
        Seq(97, 375, 61, 267, 262, 259, 373, 61, 267),
      "http://example -- yes... no..." ->
        Seq(104, 411, 381, 387, 382, 402, 374, 45, 377, 297, 322, 376, 111, 322),
      // out-of-seed words fall back to raw bytes (never dropped)
      "zebra quartz vex" ->
        Seq(122, 101, 98, 114, 97, 337, 117, 97, 347, 122, 294, 387),
      "the the the" -> Seq(257, 258, 258), // bare "the" only word-initially
      "" -> Seq(),
      "   " -> Seq(32, 32, 32),
      // uppercase is outside the lowercase word class -> byte-level
      "The Table Scan" -> Seq(84, 104, 101, 32, 84, 97, 276, 32, 83, 285))
    gold.foreach { case (s, want) =>
      assert(TextImpl.bpeEncode(s).toSeq === want, s)
    }
  }

  test("bpe decode inverts encode losslessly") {
    import graft.functions.TextImpl
    val cases = Seq(
      References.seedCorpus,
      "the table scan", "The Table Scan", "a == b", "", "  spaced  out  ",
      "zebra quartz vex 9000!", "multi\n\nline\ttext", "1995-2020 :: ok...")
    cases.foreach { s =>
      assert(References.bpeDecode(TextImpl.bpeEncode(s).toIndexedSeq) === s,
        s.take(40))
    }
  }
}
