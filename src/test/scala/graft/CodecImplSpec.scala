package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{CodecImpl, TextImpl}

/** Golden vectors + properties for the pure codec layer (FIXTURES.md §3). */
class CodecImplSpec extends AnyFunSuite {

  /** Deterministic pseudo-random byte arrays for property-style loops. */
  private val rnd = new scala.util.Random(42)
  private def randBytes(n: Int): Array[Byte] = {
    val a = new Array[Byte](n); rnd.nextBytes(a); a
  }

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // ------------------------------------------------------------- crc16

  /** Independent nibble-LUT formulation (the reference's table shape,
    * tiny_crc16.c:3-68) to cross-check the bitwise implementation.
    */
  private def crc16Nibble(msg: Array[Byte]): Int = {
    val hi = Array(0x00, 0x10, 0x20, 0x30, 0x40, 0x50, 0x60, 0x70,
      0x81, 0x91, 0xA1, 0xB1, 0xC1, 0xD1, 0xE1, 0xF1)
    val lo = Array(0x00, 0x21, 0x42, 0x63, 0x84, 0xA5, 0xC6, 0xE7,
      0x08, 0x29, 0x4A, 0x6B, 0x8C, 0xAD, 0xCE, 0xEF)
    var h = 0xFF; var l = 0xFF
    msg.foreach { m =>
      for (nib <- Seq((m >> 4) & 0xF, m & 0xF)) {
        val t = (h >> 4) ^ nib
        h = ((h << 4) | (l >> 4)) & 0xFF
        l = (l << 4) & 0xFF
        h = h ^ hi(t)
        l = l ^ lo(t)
      }
    }
    ((h << 8) | l) & 0xFFFF
  }

  test("crc16: CCITT-FALSE check value") {
    assert(CodecImpl.crc16("123456789".getBytes("ASCII")) === 0x29B1)
  }
  test("crc16: empty input = init value") {
    assert(CodecImpl.crc16(Array.empty) === 0xFFFF)
  }
  test("crc16: equals the nibble-LUT formulation on arbitrary input") {
    for (n <- 0 to 200) {
      val bytes = randBytes(n)
      assert(CodecImpl.crc16(bytes) === crc16Nibble(bytes))
    }
  }
  test("crc16: 84-byte trigger window case is stable") {
    val buf = Array.tabulate[Byte](84)(i => (i * 7 + 3).toByte)
    assert(CodecImpl.crc16(buf) === crc16Nibble(buf))
  }

  // -------------------------------------------------------------- xtea

  private val key = hex("000102030405060708090a0b0c0d0e0f")

  test("xtea: known-shape round trip, exact multiple of 8") {
    val pt = "ABCDEFGH01234567".getBytes("ASCII")
    val ct = CodecImpl.xteaEncrypt(pt, key)
    assert(ct.length === 16)
    assert(!ct.sameElements(pt))
    assert(CodecImpl.xteaDecrypt(ct, key).sameElements(pt))
  }
  test("xtea: tail zero-padded to 8 (beacon.c:620-653)") {
    val pt = "ABC".getBytes("ASCII")
    val ct = CodecImpl.xteaEncrypt(pt, key)
    assert(ct.length === 8)
    val back = CodecImpl.xteaDecrypt(ct, key)
    assert(back.sameElements(pt ++ Array[Byte](0, 0, 0, 0, 0)))
  }
  test("xtea: ECB — equal blocks encrypt equally") {
    val pt = hex("1122334455667788" * 2)
    val ct = CodecImpl.xteaEncrypt(pt, key)
    assert(ct.slice(0, 8).sameElements(ct.slice(8, 16)))
  }
  test("xtea: decrypt drops trailing partial block (honeycomb.py:95-103)") {
    val ct = hex("00112233445566778899aa") // 11 bytes
    assert(CodecImpl.xteaDecrypt(ct, key).length === 8)
  }
  test("xtea: round trip property") {
    for (n <- 1 to 100) {
      val pt = randBytes(n); val k = randBytes(16)
      val padded = pt ++ Array.fill[Byte]((8 - pt.length % 8) % 8)(0)
      assert(CodecImpl.xteaDecrypt(CodecImpl.xteaEncrypt(pt, k), k).sameElements(padded))
    }
  }

  // ----------------------------------------------------- size preamble

  test("size preamble: golden (beacon.c:77-94)") {
    val buf = CodecImpl.sizeEncode(12345L)
    assert(buf.length === 64)
    assert((buf(0) & 0xFF) === (5 ^ 5)) // 5 digits XOR key 5 = 0
    assert(((buf(1) & 0xFF) ^ 5).toChar === '1')
    assert(((buf(5) & 0xFF) ^ 5).toChar === '5')
    assert(CodecImpl.sizeDecode(buf) === 12345L)
  }
  test("size preamble: round trip property") {
    for (_ <- 1 to 200) {
      val n = math.abs(rnd.nextLong()) % 999999999999L
      assert(CodecImpl.sizeDecode(CodecImpl.sizeEncode(n)) === n)
    }
  }
  test("size preamble: malformed input → -1") {
    assert(CodecImpl.sizeDecode(Array.empty) === -1L)
    assert(CodecImpl.sizeDecode(Array[Byte](5 ^ 99)) === -1L) // count too big
    val bad = CodecImpl.sizeEncode(777L); bad(2) = 0xFF.toByte // non-digit
    assert(CodecImpl.sizeDecode(bad) === -1L)
  }
  test("size preamble: 19-digit overflow → -1, Long.MaxValue itself decodes") {
    def preamble(digits: String): Array[Byte] =
      ((digits.length ^ 5).toByte +: digits.map(c => (c ^ 5).toByte)).toArray
    // 9223372036854775808 = Long.MaxValue + 1: 19 digits, must not wrap
    assert(CodecImpl.sizeDecode(preamble("9223372036854775808")) === -1L)
    assert(CodecImpl.sizeDecode(preamble("9999999999999999999")) === -1L)
    assert(CodecImpl.sizeDecode(preamble("9223372036854775807")) === Long.MaxValue)
    assert(CodecImpl.sizeDecode(CodecImpl.sizeEncode(Long.MaxValue)) === Long.MaxValue)
  }

  // ------------------------------------------------------- key extract

  test("key extract: golden (beacon.c:669-678)") {
    val buf = new Array[Byte](64)
    buf(0) = (9 ^ 5).toByte // offset = 9 % 15 = 9
    for (i <- 0 until 16) buf(10 + i) = (0x40 + i).toByte
    val k = CodecImpl.keyExtract(buf)
    assert(k.sameElements((0 until 16).map(i => (0x40 + i).toByte)))
  }
  test("key extract matches size-style offset arithmetic property") {
    for (_ <- 1 to 100) {
      val buf = randBytes(64)
      val k = CodecImpl.keyExtract(buf)
      val off = ((buf(0) & 0xFF) ^ 5) % 15
      assert(k.sameElements(buf.slice(off + 1, off + 17)))
    }
  }

  // ---------------------------------------------------------- seed xor

  test("seed xor: round trip, byte0 preserved (trigger_protocols.c:213-227)") {
    val p = hex("2a0102030405")
    val obf = CodecImpl.seedXor(p)
    assert(obf(0) === 0x2a.toByte)
    assert(CodecImpl.seedXor(obf).sameElements(p))
  }
  test("seed xor: zero seed promoted to 0xFF") {
    val p = hex("000102")
    val obf = CodecImpl.seedXor(p)
    assert((obf(0) & 0xFF) === 0xFF)
    assert((obf(1) & 0xFF) === (0x01 ^ 0xFF))
  }

  // ------------------------------------------------------- sliding xor

  test("sliding xor: round trip at reference offset arithmetic") {
    for (_ <- 1 to 100) {
      val payload = randBytes(29); val window = randBytes(84)
      val off = rnd.nextInt(55) // crc % (84 - 29), trigger_protocols.c:889
      val enc = CodecImpl.slidingXor(payload, window, off)
      assert(CodecImpl.slidingXor(enc, window, off).sameElements(payload))
    }
  }

  // --------------------------------------------------------------- dns

  test("dns name: encode golden") {
    assert(CodecImpl.dnsNameEncode("www.example.com").sameElements(
      Array[Byte](3) ++ "www".getBytes ++ Array[Byte](7) ++ "example".getBytes ++
        Array[Byte](3) ++ "com".getBytes ++ Array[Byte](0)))
  }
  test("dns name: decode with 0xC0 compression pointer (decode_dns.c:136-158)") {
    // offset 0: "example.com"; offset 13: "www" + pointer to offset 0
    val base = CodecImpl.dnsNameEncode("example.com") // 13 bytes
    val pkt = base ++ Array[Byte](3) ++ "www".getBytes ++
      Array[Byte](0xC0.toByte, 0x00)
    assert(CodecImpl.dnsNameDecode(pkt, 0) === "example.com")
    assert(CodecImpl.dnsNameDecode(pkt, 13) === "www.example.com")
  }
  test("dns name: pointer loop is detected, not infinite") {
    val pkt = Array[Byte](0xC0.toByte, 0x00)
    intercept[IllegalArgumentException](CodecImpl.dnsNameDecode(pkt, 0))
  }
  test("dns name: round trip property") {
    for (_ <- 1 to 100) {
      val name = (1 to (1 + rnd.nextInt(5))).map { _ =>
        (1 to (1 + rnd.nextInt(20))).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      }.mkString(".")
      assert(CodecImpl.dnsNameDecode(CodecImpl.dnsNameEncode(name), 0) === name)
    }
  }

  // ------------------------------------------------------------- cksum

  test("ip cksum: RFC 1071 worked example") {
    assert(CodecImpl.ipCksum(hex("0001f203f4f5f6f7")) === 0x220D)
  }
  test("ip cksum: checksum over data+cksum folds to zero") {
    for (n <- 0 to 100 by 2) {
      val data = randBytes(n)
      val ck = CodecImpl.ipCksum(data)
      val withCk = data ++ Array[Byte]((ck >> 8).toByte, ck.toByte)
      assert(CodecImpl.ipCksum(withCk) === 0)
    }
  }

  // --------------------------------------------------------------- tlv

  test("tlv: golden encode (beacon.c:384-446)") {
    val enc = CodecImpl.tlvEncode(Seq(1 -> "aa".getBytes, 7 -> "123".getBytes))
    assert(enc.sameElements(
      hex("0001 0002") ++ "aa".getBytes ++ hex("0007 0003") ++ "123".getBytes ++ hex("0000 0000")))
  }
  test("tlv: null fields are skipped (skip-if-null, beacon.c:414-445)") {
    val enc = CodecImpl.tlvEncode(Seq(1 -> "aa".getBytes, 2 -> null, 3 -> "b".getBytes))
    assert(CodecImpl.tlvDecode(enc).map(_._1) === Seq(1, 3))
  }
  test("tlv: decode walks until zero TLV, preserving unknown types") {
    val enc = CodecImpl.tlvEncode(Seq(99 -> "zz".getBytes))
    val got = CodecImpl.tlvDecode(enc)
    assert(got.size === 1 && got.head._1 === 99)
  }
  test("tlv: truncated input throws") {
    intercept[IllegalArgumentException](CodecImpl.tlvDecode(hex("000100ff")))
  }
  test("tlv: zero-length TLV terminates the walk (honeycomb.py:218)") {
    // type=1 len=0 header, then a type-7 field that must NOT be read
    val blob = hex("00010000") ++ hex("0007000131") ++ hex("00000000")
    assert(CodecImpl.tlvDecode(blob) === Seq.empty)
    // type=0 with nonzero length terminates too (either-zero rule)
    val blob2 = hex("0001000161") ++ hex("00000005")
    assert(CodecImpl.tlvDecode(blob2).map(_._1) === Seq(1))
  }
  test("tlv: round trip property") {
    for (_ <- 1 to 100) {
      // values are non-empty: a zero-length field is a terminator on
      // decode (reference semantics), so it cannot round-trip
      val fields = (0 until rnd.nextInt(8)).map { _ =>
        (1 + rnd.nextInt(0xFFFF), randBytes(1 + rnd.nextInt(49)))
      }
      val back = CodecImpl.tlvDecode(CodecImpl.tlvEncode(fields))
      assert(back.map(_._1) === fields.map(_._1))
      assert(back.zip(fields).forall { case ((_, a), (_, b)) => a.sameElements(b) })
    }
  }

  // -------------------------------------------------------------- bthp

  test("bthp: golden frame bytes (honeycomb.py:120-135)") {
    val framed = CodecImpl.bthpFrame("hi".getBytes, 0xCAFEL, beaconIp = "1.2.3.4")
    // ver=1 type=2 hdrLen=20 dataLen=2 proxyId=0xCAFE addl(2,4,1.2.3.4) term
    val want = hex("0102" + "0014" + "00000002" + "0000cafe" +
      "0204" + "01020304" + "0000") ++ "hi".getBytes
    assert(framed.sameElements(want))
  }
  test("bthp: strip recovers header fields and payload (honeycomb.py:138-183)") {
    val framed = CodecImpl.bthpFrame("payload-bytes".getBytes, 4242L,
      beaconIp = "10.0.0.1", dstIp = "172.16.5.9", proxyIp = "192.168.1.254")
    val h = CodecImpl.bthpStrip(framed)
    assert(h.ver === 1 && h.typ === 2)
    assert(h.dataLen === 13L && h.proxyId === 4242L)
    assert(h.hdrLen === 12 + 3 * 6 + 2)
    assert(h.beaconIp === "10.0.0.1" && h.dstIp === "172.16.5.9" &&
      h.proxyIp === "192.168.1.254")
    assert(new String(h.payload) === "payload-bytes")
  }
  test("bthp: header-only packet (reference's fixed hdrLen 14) strips clean") {
    val framed = CodecImpl.bthpFrame("x".getBytes, 7L)
    assert(framed(2) === 0.toByte && framed(3) === 14.toByte)
    val h = CodecImpl.bthpStrip(framed)
    assert(h.beaconIp === null && h.dstIp === null && h.proxyIp === null)
    assert(new String(h.payload) === "x")
  }
  test("bthp: unknown additional-header types are skipped, not stored") {
    // main hdr + addl(type=9, len=3, zzz) + addl(2,4,ip) + term + payload
    val buf = hex("0102" + "0017" + "00000001" + "00000001") ++
      hex("0903") ++ "zzz".getBytes ++ hex("0204" + "7f000001" + "0000") ++ "p".getBytes
    val h = CodecImpl.bthpStrip(buf)
    assert(h.beaconIp === "127.0.0.1")
    assert(new String(h.payload) === "p")
  }
  test("bthp: truncated input throws") {
    intercept[IllegalArgumentException](CodecImpl.bthpStrip(hex("010200")))
    // main header but the addl stream runs off the end
    intercept[IllegalArgumentException](
      CodecImpl.bthpStrip(hex("0102" + "000e" + "00000000" + "00000000" + "02")))
  }

  // --------------------------------------------------------------- mac

  test("mac format: golden (beacon.c:657-666)") {
    assert(CodecImpl.macFormat(hex("001a2b3c4d5e")) === "00-1a-2b-3c-4d-5e")
    assert(CodecImpl.macFormat(hex("ffffffffffff")) === "ff-ff-ff-ff-ff-ff")
  }

  // ------------------------------------------ AES-CBC session framing

  // NIST SP 800-38A F.2.5 (CBC-AES256.Encrypt) — the published
  // known-answer vectors for the cipher under the frame layer
  private val NistKey = hex(
    "603deb1015ca71be2b73aef0857d77811f352c073b6108d72d9810a30914dff4")
  private val NistIv = hex("000102030405060708090a0b0c0d0e0f")
  private val NistPlain = hex(
    "6bc1bee22e409f96e93d7e117393172a" +
    "ae2d8a571e03ac9c9eb76fac45af8e51" +
    "30c81c46a35ce411e5fbc1191a0a52ef" +
    "f69f2445df4f9b17ad2b417be66c3710")
  private val NistCipher = hex(
    "f58c4c04d6e5f1ba779eabfb5f7bfbd6" +
    "9cfc4e967edb808d679f777bc6702c7d" +
    "39f23369a9d9bacfa530e26304231461" +
    "b2eb05e2c39be9fcda6c19078c6a9d1b")

  test("aes-cbc: NIST SP 800-38A CBC-AES256 known-answer vectors") {
    assert(CodecImpl.aesCbcEncrypt(NistPlain, NistKey, NistIv).sameElements(NistCipher))
    assert(CodecImpl.aesCbcDecrypt(NistCipher, NistKey, NistIv).sameElements(NistPlain))
  }

  test("session iv: md5 of the key (crypto.c:146), 16 bytes") {
    val iv = CodecImpl.sessionIv(NistKey)
    assert(iv.length === 16)
    // md5 of the empty key is the RFC 1321 known answer
    assert(CodecImpl.sessionIv(Array.empty).sameElements(
      hex("d41d8cd98f00b204e9800998ecf8427e")))
  }

  test("frame encode: buffer is the 16-multiple of len+2, zero-padded (crypto.c:218-226)") {
    val key = NistKey
    val iv = CodecImpl.sessionIv(key)
    for (n <- Seq(0, 1, 13, 14, 15, 16, 30, 31, 255, 4052)) {
      val payload = randBytes(n)
      val frame = CodecImpl.aesFrameEncode(payload, key, iv)
      val expect = if ((n + 2) % 16 == 0) n + 2 else (n + 2) + (16 - (n + 2) % 16)
      assert(frame.length === expect, s"frame size for payload $n")
      // decrypting the frame exposes the exact layout: BE length,
      // payload at offset 2, zero pad to the end
      val plain = CodecImpl.aesCbcDecrypt(frame, key, iv)
      assert((((plain(0) & 0xFF) << 8) | (plain(1) & 0xFF)) === n)
      assert(plain.slice(2, 2 + n).sameElements(payload))
      assert(plain.drop(2 + n).forall(_ == 0), "calloc zero pad")
    }
  }

  test("frame roundtrip: decode(encode(p)) == p up to the 65535 cap") {
    val key = randBytes(32)
    val iv = CodecImpl.sessionIv(key)
    for (n <- Seq(0, 1, 14, 16, 100, 65535)) {
      val p = randBytes(n)
      val back = CodecImpl.aesFrameDecode(CodecImpl.aesFrameEncode(p, key, iv), key, iv, 65535)
      assert(back != null && back.sameElements(p), s"roundtrip at $n")
    }
    assertThrows[IllegalArgumentException](
      CodecImpl.aesFrameEncode(randBytes(65536), key, iv))
  }

  test("frame decode: reference validation rejects -> null (crypto.c:349-369)") {
    val key = randBytes(32)
    val iv = CodecImpl.sessionIv(key)
    val frame = CodecImpl.aesFrameEncode(randBytes(100), key, iv)
    // not a 16-byte multiple (crypto.c:349-352)
    assert(CodecImpl.aesFrameDecode(frame.drop(1), key, iv, 65535) == null)
    assert(CodecImpl.aesFrameDecode(Array.empty, key, iv, 65535) == null)
    // embedded length exceeds the caller's buffer (crypto.c:363-369)
    assert(CodecImpl.aesFrameDecode(frame, key, iv, 99) == null)
    assert(CodecImpl.aesFrameDecode(frame, key, iv, 100) != null)
    // a tampered frame whose decrypted length field overruns the
    // actual frame content is rejected, not read out of bounds
    val big = CodecImpl.aesCbcEncrypt(
      hex("ffff") ++ new Array[Byte](14), key, iv)
    assert(CodecImpl.aesFrameDecode(big, key, iv, 65535) == null)
  }

  test("ppm decode: golden 2x1 image, header grammar, channel sums") {
    // P6, 2x1, maxval 255, pixels (1,2,3) (250,251,252)
    val img = "P6\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3, 250.toByte, 251.toByte, 252.toByte)
    val s = CodecImpl.ppmDecode(img)
    assert(s != null && s.width == 2 && s.height == 1 && s.maxval == 255)
    assert(s.nPx == 2 && s.sumR == 251L && s.sumG == 253L && s.sumB == 255L)
    // Netpbm header grammar: comments and arbitrary whitespace between
    // tokens decode to the same stats
    val commented = "P6 # a comment\n # more\n 2\t1 # dims\n255\n".getBytes("US-ASCII") ++
      img.drop("P6\n2 1\n255\n".length)
    val c = CodecImpl.ppmDecode(commented)
    assert(c == s)
  }

  test("ppm bilinear resize: golden pixels — center average, upscale clamp") {
    // 2x2 -> 1x1: the single output pixel sits at the exact center,
    // so 8.8 fixed point degenerates to the 4-pixel mean (wx=wy=128)
    val px22 = Array[Byte](10, 20, 30, 200.toByte, 100, 0,
      50, 60, 70, 140.toByte, 120, 100)
    val img22 = "P6\n2 2\n255\n".getBytes("US-ASCII") ++ px22
    assert(CodecImpl.ppmResize(img22, 1, 1).toSeq ===
      Seq[Byte](100, 75, 50))
    // 2x1 -> 3x1 UPSCALE: edge pixels clamp to the border (exact
    // copies), the middle lands halfway (hand-computed fixed point:
    // fx=-43->0 | 128 | 298->256)
    val img21 = "P6\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](10, 20, 30, 200.toByte, 100, 0)
    assert(CodecImpl.ppmResize(img21, 3, 1).toSeq ===
      Seq[Byte](10, 20, 30, 105, 60, 15, 200.toByte, 100, 0))
  }

  test("ppm bilinear resize: identity, bounds, and constant-raster properties") {
    val r = new scala.util.Random(99)
    for (_ <- 1 to 30) {
      val w = 1 + r.nextInt(8); val h = 1 + r.nextInt(6)
      val px = Array.fill(w * h * 3)(r.nextInt(256).toByte)
      val img = s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ px
      // identity geometry reproduces the raster exactly (all weights 0)
      assert(CodecImpl.ppmResize(img, w, h).toSeq === px.toSeq)
      // any geometry: every output byte within the raster's value range
      val tw = 1 + r.nextInt(12); val th = 1 + r.nextInt(9)
      val out = CodecImpl.ppmResize(img, tw, th)
      assert(out.length == tw * th * 3)
      val vals = px.map(_ & 0xFF)
      assert(out.forall(b => (b & 0xFF) >= vals.min && (b & 0xFF) <= vals.max))
    }
    // constant raster resizes to the same constant at any geometry
    val flat = "P6\n3 2\n255\n".getBytes("US-ASCII") ++ Array.fill(18)(77.toByte)
    assert(CodecImpl.ppmResize(flat, 7, 5).forall(_ == 77.toByte))
  }

  test("ppm bilinear resize: stats match the raster; rejects mirror decode") {
    val r = new scala.util.Random(7)
    val w = 5; val h = 4
    val px = Array.fill(w * h * 3)(r.nextInt(256).toByte)
    val img = s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ px
    val out = CodecImpl.ppmResize(img, 3, 2)
    val st = CodecImpl.ppmResizeStats(img, 3, 2)
    def sum(c: Int) = out.indices.filter(_ % 3 == c).map(i => (out(i) & 0xFF).toLong).sum
    assert(st.outW == 3 && st.outH == 2)
    assert(st.sumR == sum(0) && st.sumG == sum(1) && st.sumB == sum(2))
    assert(st.ordFold == out.indices.map(i => (i + 1).toLong * (out(i) & 0xFF)).sum)
    // the resize path rejects exactly what the decode path rejects
    assert(CodecImpl.ppmResize(img.dropRight(1), 3, 2) == null)
    assert(CodecImpl.ppmResize("P5\n2 1\n255\n".getBytes("US-ASCII") ++ new Array[Byte](6), 2, 2) == null)
    // plus nonpositive / absurd target geometry
    assert(CodecImpl.ppmResize(img, 0, 2) == null)
    assert(CodecImpl.ppmResize(img, 2, -1) == null)
    assert(CodecImpl.ppmResize(img, 100000, 2) == null)
  }

  private def ppmOf(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
    val px = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      px(3 * (y * w + x) + c) = f(x, y).toByte
    s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ px
  }

  test("perceptual hashes: golden bit patterns on ramps and a split field") {
    // identity-geometry 9x8 ramp: grayscale luma equals the pixel value
    // (BT.601 weights sum to 256), every horizontal gradient positive ->
    // all 64 dHash bits set; the reverse ramp sets none
    assert(CodecImpl.ppmDhash(ppmOf(9, 8, (x, _) => 20 * x)).longValue() == -1L)
    assert(CodecImpl.ppmDhash(ppmOf(9, 8, (x, _) => 20 * (8 - x))).longValue() == 0L)
    // 8x8 half-black/half-bright field: mean 100, bits set exactly where
    // x >= 4 -> byte 0xF0 per row
    assert(CodecImpl.ppmAhash(ppmOf(8, 8, (x, _) => if (x < 4) 0 else 200))
      .longValue() == 0xF0F0F0F0F0F0F0F0L)
    // constant raster: no luma exceeds the mean (strict >) -> aHash 0
    assert(CodecImpl.ppmAhash(ppmOf(8, 8, (_, _) => 77)).longValue() == 0L)
    // rejects mirror the decode language, for both hashes
    val img = ppmOf(5, 4, (x, y) => 10 * x + 7 * y)
    assert(CodecImpl.ppmDhash(img.dropRight(1)) == null)
    assert(CodecImpl.ppmAhash(img.dropRight(1)) == null)
    val p5 = "P5\n2 1\n255\n".getBytes("US-ASCII") ++ new Array[Byte](6)
    assert(CodecImpl.ppmDhash(p5) == null)
    assert(CodecImpl.ppmAhash(p5) == null)
  }

  test("dhash: resized twins of a smooth raster stay within the banded d<=3 cut") {
    // a smooth but non-monotone field (mixed gradient signs), so the
    // hash is structure-bearing, not trivially constant
    def sine(x: Int, y: Int) = 120 + (110 * math.sin(x * 0.8 + y * 0.3)).toInt
    val orig = ppmOf(8, 6, sine)
    val h0 = CodecImpl.ppmDhash(orig).longValue()
    def twinDist(tw: Int, th: Int): Int = {
      val twin = s"P6\n$tw $th\n255\n".getBytes("US-ASCII") ++
        CodecImpl.ppmResize(orig, tw, th)
      TextImpl.hamming64(h0, CodecImpl.ppmDhash(twin).longValue())
    }
    // up- and downscaled twins keep nearly every gradient sign
    // (measured 0/1/2), all inside the pigeonhole-complete d<=3 band
    assert(twinDist(12, 9) <= 3)
    assert(twinDist(6, 5) <= 3)
    assert(twinDist(16, 12) <= 3)
    // an aggressive 4x3 crush destroys the structure (measured 12):
    // the hash separates real twins from genuinely different rasters
    assert(twinDist(4, 3) > 3)
  }

  test("y4m frame lumas: per-frame series, zero-frame stream, rejects shared with decode") {
    // 2x2 4:2:0 — frame = 4 luma + 2 chroma bytes; two frames with
    // distinct luma planes
    val head = "YUV4MPEG2 W2 H2 F25:1 Ip A0:0 C420\n".getBytes("US-ASCII")
    val f1 = "FRAME\n".getBytes("US-ASCII") ++
      Array[Byte](10, 20, 30, 40, 99, 99)
    val f2 = "FRAME\n".getBytes("US-ASCII") ++
      Array[Byte](200.toByte, 201.toByte, 202.toByte, 203.toByte, 1, 2)
    val st = CodecImpl.y4mFrameLumas(head ++ f1 ++ f2)
    assert(st.nPx == 4)
    assert(st.sums.toSeq === Seq(100L, 806L))
    // the whole-stream decode must agree with the series' fold
    val dec = CodecImpl.y4mDecode(head ++ f1 ++ f2)
    assert(dec.sumY == st.sums.sum && dec.nFrames == st.sums.length)
    // zero frames: valid, empty series
    assert(CodecImpl.y4mFrameLumas(head).sums.isEmpty)
    // rejects mirror the decode language (shared header parser +
    // same walk): truncated plane set, bad magic, odd dims
    assert(CodecImpl.y4mFrameLumas((head ++ f1).dropRight(1)) == null)
    assert(CodecImpl.y4mFrameLumas("JUNK".getBytes("US-ASCII")) == null)
    assert(CodecImpl.y4mFrameLumas(
      "YUV4MPEG2 W3 H2 F25:1 C420\n".getBytes("US-ASCII")) == null)
  }

  test("wav windows: golden amplitude sums and zero crossings, partial window, rejects") {
    def le32(v: Long): Array[Byte] = Array((v & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def le16(v: Int): Array[Byte] = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def wav(samples: Seq[Int]): Array[Byte] = {
      val data = samples.flatMap(s => le16(s & 0xFFFF)).toArray
      "RIFF".getBytes ++ le32(36 + data.length) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
        le32(16000) ++ le16(2) ++ le16(16) ++ "data".getBytes ++
        le32(data.length) ++ data
    }
    // 6 mono frames, window 4: first window |10|+|-20|+|30|+|-40|=100
    // with 3 sign changes; the cross-window pair (-40, -5) is NOT
    // counted anywhere (crossings are within-window by contract)
    val b = wav(Seq(10, -20, 30, -40, -5, 0))
    val ws = CodecImpl.wavWindows(b, 4)
    assert(ws.length == 2)
    assert(ws(0) == CodecImpl.WavWindow(4, 100L, 3))
    // second window: samples -5, 0 -> sum 5, signs (neg, nonneg) -> 1
    assert(ws(1) == CodecImpl.WavWindow(2, 5L, 1))
    // window covering all frames exactly
    assert(CodecImpl.wavWindows(b, 6).toSeq ===
      Seq(CodecImpl.WavWindow(6, 105L, 4)))
    // rejects: malformed payload (decode language) and bad window
    assert(CodecImpl.wavWindows(b.dropRight(1), 4) == null)
    assert(CodecImpl.wavWindows(b, 0) == null)
    // int16 min: |−32768| must not overflow the abs
    assert(CodecImpl.wavWindows(wav(Seq(-32768)), 4).toSeq ===
      Seq(CodecImpl.WavWindow(1, 32768L, 0)))
  }

  test("wav fingerprint: delta-sign envelope golden vectors, stereo stride, rejects") {
    def le32(v: Long): Array[Byte] = Array((v & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def le16(v: Int): Array[Byte] = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def wav(nch: Int, interleaved: Seq[Int]): Array[Byte] = {
      val data = interleaved.flatMap(s => le16(s & 0xFFFF)).toArray
      "RIFF".getBytes ++ le32(36 + data.length) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(nch) ++ le32(8000) ++
        le32(8000L * nch * 2) ++ le16(nch * 2) ++ le16(16) ++ "data".getBytes ++
        le32(data.length) ++ data
    }
    // strictly rising envelope over 66 frames: every delta positive ->
    // all 64 bits set; strictly falling -> none
    assert(CodecImpl.wavFingerprint(wav(1, 0 until 66)).longValue() == -1L)
    assert(CodecImpl.wavFingerprint(wav(1, (0 until 66).map(66 - _))).longValue() == 0L)
    // the envelope is |amplitude|: a falling NEGATIVE ramp rises in abs
    assert(CodecImpl.wavFingerprint(wav(1, (0 until 66).map(f => -f))).longValue() == -1L)
    // a flat first pair clears exactly bit 0 (strict >)
    assert(CodecImpl.wavFingerprint(wav(1, Seq(5, 5) ++ (6 to 69))).longValue() == -2L)
    // stereo: ch1 junk must be strided over, ch0 alone decides
    val st = (0 until 66).flatMap(f => Seq(f, 31987 - 997 * f))
    assert(CodecImpl.wavFingerprint(wav(2, st)).longValue() == -1L)
    // 65 frames is the floor (64 deltas); 64 frames is below it
    assert(CodecImpl.wavFingerprint(wav(1, 0 until 65)).longValue() == -1L)
    assert(CodecImpl.wavFingerprint(wav(1, 0 until 64)) == null)
    // malformed payload: the decode's accept language
    assert(CodecImpl.wavFingerprint(wav(1, 0 until 66).dropRight(1)) == null)
  }

  test("y4m fingerprint: frame-mean delta-sign golden vectors, chroma stride, rejects") {
    def y4m(w: Int, h: Int, lumas: Seq[Int], chroma: Int => Int = _ => 0x80): Array[Byte] = {
      val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A0:0 C420\n".getBytes
      val cs = (w / 2) * (h / 2) * 2
      val frames = lumas.zipWithIndex.flatMap { case (l, f) =>
        "FRAME\n".getBytes.toSeq ++
          Seq.fill(w * h)(l.toByte) ++ (0 until cs).map(i => chroma(f * cs + i).toByte)
      }
      header ++ frames
    }
    // strictly rising frame means over 66 frames: all 64 bits set;
    // strictly falling: none
    assert(CodecImpl.y4mFingerprint(y4m(2, 2, 10 until 76)).longValue() == -1L)
    assert(CodecImpl.y4mFingerprint(y4m(2, 2, (10 until 76).reverse)).longValue() == 0L)
    // a flat first pair clears exactly bit 0 (strict >)
    assert(CodecImpl.y4mFingerprint(y4m(2, 2, Seq(5, 5) ++ (6 to 69))).longValue() == -2L)
    // chroma planes carry junk the frame walk must stride over
    assert(CodecImpl.y4mFingerprint(
      y4m(2, 2, 10 until 76, i => 251 - 7 * (i % 36))).longValue() == -1L)
    // constant frames: the fingerprint is n_px-invariant (sum order
    // is byte order at any raster size)
    assert(CodecImpl.y4mFingerprint(y4m(4, 4, 10 until 76)).longValue() == -1L)
    // 65 frames is the floor (64 deltas); 64 frames is below it
    assert(CodecImpl.y4mFingerprint(y4m(2, 2, 10 until 75)).longValue() == -1L)
    assert(CodecImpl.y4mFingerprint(y4m(2, 2, 10 until 74)) == null)
    // malformed stream: the decode's accept language
    assert(CodecImpl.y4mFingerprint(y4m(2, 2, 10 until 76).dropRight(1)) == null)
  }

  test("bmp decode: golden image, stride pads skipped, top-down flag, rejects") {
    def le32(v: Long): Array[Byte] =
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def le16(v: Int): Array[Byte] = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def bmp(w: Int, hField: Long, rows: Array[Byte]): Array[Byte] =
      "BM".getBytes("US-ASCII") ++ le32(54L + rows.length) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(w.toLong) ++ le32(hField) ++ le16(1) ++ le16(24) ++
        le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ rows
    // 2x2, rowSize = 8: per row 2 BGR pixels + 2 pad bytes; pads are
    // NONZERO garbage — a decoder that sums the stride instead of the
    // pixels gets different channel sums
    val rows = Array[Byte](
      1, 2, 3, 4, 5, 6, 99.toByte, 98.toByte, // row 0: (B1,G2,R3)(B4,G5,R6) + pad
      7, 8, 9, 10, 11, 12, 97.toByte, 96.toByte)
    val s = CodecImpl.bmpDecode(bmp(2, 2L, rows))
    assert(s != null && s.width == 2 && s.height == 2 && !s.topDown && s.nPx == 4)
    assert(s.sumB == 1 + 4 + 7 + 10 && s.sumG == 2 + 5 + 8 + 11 && s.sumR == 3 + 6 + 9 + 12)
    // top-down: height field = -2 as u32; sums identical, flag flips
    val td = CodecImpl.bmpDecode(bmp(2, 4294967296L - 2L, rows))
    assert(td != null && td.topDown && td.height == 2 &&
      td.sumR == s.sumR && td.sumG == s.sumG && td.sumB == s.sumB)
    // rejects: wrong magic, truncated (declared size mismatch), wrong
    // bpp, compressed, zero height
    assert(CodecImpl.bmpDecode("XX".getBytes ++ bmp(2, 2L, rows).drop(2)) == null)
    assert(CodecImpl.bmpDecode(bmp(2, 2L, rows).dropRight(1)) == null)
    val wrongBpp = bmp(2, 2L, rows); wrongBpp(28) = 32
    // declared size still matches, but bpp=32 must reject
    assert(CodecImpl.bmpDecode(wrongBpp) == null)
    val compressed = bmp(2, 2L, rows); compressed(30) = 1
    assert(CodecImpl.bmpDecode(compressed) == null)
    assert(CodecImpl.bmpDecode(bmp(2, 0L, rows)) == null)
    // height 0x80000000: math.abs keeps it negative — must reject, not
    // return garbage stats through a bypassed bounds check
    assert(CodecImpl.bmpDecode(bmp(2, 0x80000000L, rows)) == null)
    assert(CodecImpl.bmpDecode(Array.empty[Byte]) == null)
  }

  test("bmp decode: channel-sum property over random geometries") {
    def le32(v: Long): Array[Byte] =
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def le16(v: Int): Array[Byte] = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    val rnd = new scala.util.Random(31)
    for (_ <- 1 to 40) {
      val w = 1 + rnd.nextInt(9); val h = 1 + rnd.nextInt(7)
      val rowSize = ((3 * w) + 3) & ~3
      val topDown = rnd.nextBoolean()
      // per-row pixels + NONZERO pad garbage the decoder must skip
      val px = Array.fill(h, w * 3)(rnd.nextInt(256).toByte)
      val rows = px.flatMap(r => r ++ Array.fill(rowSize - w * 3)(rnd.nextInt(256).toByte))
      val hField = if (topDown) 4294967296L - h else h.toLong
      val img = "BM".getBytes ++ le32(54L + rows.length) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(w.toLong) ++ le32(hField) ++ le16(1) ++ le16(24) ++
        le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ rows
      val s = CodecImpl.bmpDecode(img)
      assert(s != null && s.width == w && s.height == h && s.topDown == topDown)
      def sum(c: Int) = px.flatten.grouped(3).map(p => (p(c) & 0xFF).toLong).sum
      assert(s.sumB == sum(0) && s.sumG == sum(1) && s.sumR == sum(2),
        s"w=$w h=$h topDown=$topDown")
      assert(CodecImpl.bmpDecode(img.dropRight(1)) == null)
    }
  }

  test("wav decode: per-channel signed-sum property over random streams") {
    def le32(v: Long): Array[Byte] =
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def le16(v: Int): Array[Byte] = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    val rnd = new scala.util.Random(37)
    for (_ <- 1 to 40) {
      val nch = 1 + rnd.nextInt(2)
      val rate = Seq(8000, 16000, 44100)(rnd.nextInt(3))
      val frames = 1 + rnd.nextInt(12)
      val samples = Array.fill(frames * nch)(rnd.nextInt(65536))
      val data = samples.flatMap(le16)
      val img = "RIFF".getBytes ++ le32(36L + data.length) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(nch) ++ le32(rate.toLong) ++
        le32(rate.toLong * nch * 2) ++ le16(nch * 2) ++ le16(16) ++
        "data".getBytes ++ le32(data.length.toLong) ++ data
      val s = CodecImpl.wavDecode(img)
      assert(s != null && s.channels == nch && s.sampleRate == rate &&
        s.nFrames == frames)
      def signed(v: Int): Long = if (v >= 32768) v - 65536L else v.toLong
      def chSum(c: Int) = samples.indices.filter(_ % nch == c).map(i => signed(samples(i))).sum
      assert(s.sumCh0 == chSum(0), s"nch=$nch frames=$frames")
      assert(s.sumCh1 == (if (nch == 2) chSum(1) else 0L))
      assert(CodecImpl.wavDecode(img.dropRight(1)) == null)
    }
  }

  test("wav decode: golden stereo PCM, signed samples, rejects") {
    def le32(v: Long): Array[Byte] =
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def le16(v: Int): Array[Byte] = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def wav(nch: Int, rate: Int, data: Array[Byte]): Array[Byte] =
      "RIFF".getBytes ++ le32(36L + data.length) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(nch) ++ le32(rate.toLong) ++
        le32(rate.toLong * nch * 2) ++ le16(nch * 2) ++ le16(16) ++
        "data".getBytes ++ le32(data.length.toLong) ++ data
    // 2 stereo frames: ch0 = [1, -2], ch1 = [-32768, 32767]
    val data = le16(1) ++ le16(0x8000) ++ le16(0xFFFE) ++ le16(0x7FFF)
    val s = CodecImpl.wavDecode(wav(2, 16000, data))
    assert(s != null && s.channels == 2 && s.sampleRate == 16000 &&
      s.bits == 16 && s.nFrames == 2)
    assert(s.sumCh0 == 1L - 2L && s.sumCh1 == -32768L + 32767L)
    // mono: ch1 sum stays 0
    val m = CodecImpl.wavDecode(wav(1, 8000, le16(5) ++ le16(0xFFFB)))
    assert(m != null && m.channels == 1 && m.nFrames == 2 &&
      m.sumCh0 == 5L - 5L && m.sumCh1 == 0L)
    // rejects: magic, riff-size mismatch (truncation), non-PCM, wrong
    // bits, block-align arithmetic, data overrun
    assert(CodecImpl.wavDecode("RIFX".getBytes ++ wav(1, 8000, data).drop(4)) == null)
    assert(CodecImpl.wavDecode(wav(2, 16000, data).dropRight(1)) == null)
    val nonPcm = wav(2, 16000, data); nonPcm(20) = 3
    assert(CodecImpl.wavDecode(nonPcm) == null)
    val bits8 = wav(2, 16000, data); bits8(34) = 8
    assert(CodecImpl.wavDecode(bits8) == null)
    val badAlign = wav(2, 16000, data); badAlign(32) = 2
    assert(CodecImpl.wavDecode(badAlign) == null)
    val overrun = wav(2, 16000, data); overrun(40) = (data.length + 4).toByte
    assert(CodecImpl.wavDecode(overrun) == null)
    // trailing junk with a patched riff size: canonical layout demands
    // riff size == 36 + dataLen, so the junk must reject
    val junk = wav(2, 16000, data) ++ Array[Byte](9, 9, 9, 9)
    val sz = junk.length - 8
    junk(4) = (sz & 0xFF).toByte; junk(5) = ((sz >> 8) & 0xFF).toByte
    assert(CodecImpl.wavDecode(junk) == null)
    assert(CodecImpl.wavDecode(Array.empty[Byte]) == null)
  }

  test("y4m decode: header tags, frame walk, plane split, rejects") {
    def y4m(header: String, frames: Array[Byte]*): Array[Byte] =
      frames.foldLeft(header.getBytes("US-ASCII")) { (acc, fr) =>
        acc ++ "FRAME\n".getBytes("US-ASCII") ++ fr
      }
    // 2x2 C420: 4 luma + 2 chroma bytes per frame
    val f1 = Array[Byte](1, 2, 3, 4, 10, 20)
    val f2 = Array[Byte](5, 6, 7, 8, 30, 40)
    val s = CodecImpl.y4mDecode(y4m("YUV4MPEG2 W2 H2 F25:1 Ip A0:0 C420\n", f1, f2))
    assert(s != null && s.width == 2 && s.height == 2 &&
      s.fpsNum == 25 && s.fpsDen == 1 && s.nFrames == 2)
    assert(s.sumY == (1 + 2 + 3 + 4) + (5 + 6 + 7 + 8))
    assert(s.sumC == (10 + 20) + (30 + 40))
    // absent colourspace tag defaults to 4:2:0; unknown X tags ignored;
    // zero frames is a valid stream
    val z = CodecImpl.y4mDecode(y4m("YUV4MPEG2 W2 H2 F30:1 Xname=v\n"))
    assert(z != null && z.nFrames == 0 && z.fpsNum == 30)
    // frame params after the marker are legal and skipped
    val p = CodecImpl.y4mDecode(y4m("YUV4MPEG2 W2 H2 F25:1\n") ++
      "FRAME Iunused\n".getBytes("US-ASCII") ++ f1)
    assert(p != null && p.nFrames == 1 && p.sumY == 1 + 2 + 3 + 4)
    // rejects
    assert(CodecImpl.y4mDecode(y4m("YUV4MPEG3 W2 H2 F25:1\n", f1)) == null)
    assert(CodecImpl.y4mDecode(y4m("YUV4MPEG2 W3 H2 F25:1\n", f1)) == null) // odd dim
    assert(CodecImpl.y4mDecode(y4m("YUV4MPEG2 W2 H2\n", f1)) == null)       // no F tag
    assert(CodecImpl.y4mDecode(y4m("YUV4MPEG2 W2 H2 F25:1 C444\n", f1)) == null)
    assert(CodecImpl.y4mDecode(y4m("YUV4MPEG2 W2 H2 F25:1\n", f1).dropRight(1)) == null)
    assert(CodecImpl.y4mDecode(y4m("YUV4MPEG2 W2 H2 F25:1\n", f1) ++
      Array[Byte]('J', 'U', 'N', 'K')) == null)                              // garbage between frames
    assert(CodecImpl.y4mDecode(Array.empty[Byte]) == null)
    // dimension bomb: w*h would overflow Int and walk negative indexes
    // — must reject, not throw
    assert(CodecImpl.y4mDecode(y4m("YUV4MPEG2 W65536 H65536 F25:1\n", f1)) == null)
    assert(CodecImpl.y4mDecode(y4m("YUV4MPEG2 W60000 H60000 F25:1\n", f1)) == null)
  }

  test("ppm decode: channel-sum property over random rasters") {
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 50) {
      val w = 1 + rnd.nextInt(12); val h = 1 + rnd.nextInt(9)
      val px = Array.fill(w * h * 3)(rnd.nextInt(256).toByte)
      val img = s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ px
      val s = CodecImpl.ppmDecode(img)
      assert(s != null && s.width == w && s.height == h && s.nPx == w * h)
      def sum(c: Int) = px.indices.filter(_ % 3 == c).map(i => (px(i) & 0xFF).toLong).sum
      assert(s.sumR == sum(0) && s.sumG == sum(1) && s.sumB == sum(2))
      // trailing bytes after the raster are ignored, as Netpbm readers do
      assert(CodecImpl.ppmDecode(img ++ Array[Byte](9, 9)) == s)
    }
  }

  test("ppm decode: malformed inputs reject as null") {
    val img = "P6\n2 1\n255\n".getBytes("US-ASCII") ++ new Array[Byte](6)
    assert(CodecImpl.ppmDecode(img) != null)
    // wrong magic (P5 = grayscale, unsupported)
    assert(CodecImpl.ppmDecode("P5\n2 1\n255\n".getBytes("US-ASCII") ++ new Array[Byte](6)) == null)
    // truncated raster
    assert(CodecImpl.ppmDecode(img.dropRight(1)) == null)
    // garbled / missing header ints
    assert(CodecImpl.ppmDecode("P6\nx 1\n255\n".getBytes("US-ASCII")) == null)
    // maxval out of the 1-byte range
    assert(CodecImpl.ppmDecode("P6\n2 1\n65535\n".getBytes("US-ASCII") ++ new Array[Byte](12)) == null)
    // a width whose digit run overflows the sanity bound must REJECT,
    // not truncate mid-number and mis-parse the leftover digits as the
    // next header field
    assert(CodecImpl.ppmDecode(
      "P6\n167772164 2\n255\n".getBytes("US-ASCII") ++ new Array[Byte](96)) == null)
    // zero dimension
    assert(CodecImpl.ppmDecode("P6\n0 1\n255\n".getBytes("US-ASCII")) == null)
    assert(CodecImpl.ppmDecode(Array.empty[Byte]) == null)
  }

  // ------------------------------------------------------ bzip2 wire

  test("bz2 wire codec: round-trip, real shrink, magic, rejects, bomb cap") {
    // round-trip over random binary (incompressible) and text
    for (n <- Seq(0, 1, 63, 4096)) {
      val data = randBytes(n)
      val c = CodecImpl.bz2Compress(data)
      assert(c.take(3).sameElements("BZh".getBytes("US-ASCII")), s"magic missing at n=$n")
      assert(CodecImpl.bz2Decompress(c, 1 << 20).sameElements(data), s"round-trip broke at n=$n")
    }
    // repetitive survey-style text genuinely shrinks
    val blob = ("pid=123 state=S name=beacond\n" * 32).getBytes("US-ASCII")
    val cb = CodecImpl.bz2Compress(blob)
    assert(cb.length < blob.length, s"no shrink: ${cb.length} vs ${blob.length}")
    // plain (uncompressed) bytes reject on the magic check
    assert(CodecImpl.bz2Decompress(blob, 1 << 20) == null)
    // corrupted stream rejects as null, never throws (error routing)
    val corrupt = cb.clone(); corrupt(cb.length / 2) = (corrupt(cb.length / 2) ^ 0x55).toByte
    assert(CodecImpl.bz2Decompress(corrupt, 1 << 20) == null)
    // truncated stream rejects
    assert(CodecImpl.bz2Decompress(cb.dropRight(5), 1 << 20) == null)
    // decompression bomb: output past maxLen rejects instead of OOMing
    val bomb = CodecImpl.bz2Compress(new Array[Byte](1 << 22)) // 4 MiB of zeros, ~tiny wire
    assert(bomb.length < 4096, s"zeros should compress tiny, got ${bomb.length}")
    assert(CodecImpl.bz2Decompress(bomb, 1 << 20) == null, "bomb must hit the cap")
    assert(CodecImpl.bz2Decompress(bomb, 1 << 22).length == (1 << 22), "in-cap output intact")
  }
}
