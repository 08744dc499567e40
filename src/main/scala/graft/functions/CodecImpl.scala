package graft.functions

import java.nio.charset.StandardCharsets

/** Pure byte-level codec semantics of the reference's record formats,
  * re-implemented from their published behavior (all algorithms are
  * public: CRC-16/CCITT, XTEA, RFC 1071 checksums, DNS name
  * compression). Each function cites the reference location whose
  * behavior it models; no reference code is copied.
  *
  * These are deliberately free of any Spark dependency so they can be
  * golden-vector tested directly and wrapped by Catalyst expressions.
  */
object CodecImpl {

  /** CRC-16/CCITT-FALSE: poly 0x1021 MSB-first, init 0xFFFF, no final
    * XOR, no reflection — the variant computed nibble-wise by
    * `server/tiny_crc16.c:3-68`. Standard check: crc16("123456789") ==
    * 0x29B1.
    */
  def crc16(msg: Array[Byte]): Int = {
    var crc = 0xFFFF
    var i = 0
    while (i < msg.length) {
      crc ^= (msg(i) & 0xFF) << 8
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x1021) & 0xFFFF
              else (crc << 1) & 0xFFFF
        b += 1
      }
      i += 1
    }
    crc
  }

  private final val XteaDelta = 0x9E3779B9
  private final val XteaRounds = 32

  private def beU32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
      ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)

  private def putBeU32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >>> 24).toByte; b(off + 1) = (v >>> 16).toByte
    b(off + 2) = (v >>> 8).toByte; b(off + 3) = v.toByte
  }

  /** XTEA, 32 rounds, delta 0x9e3779b9, big-endian words (the
    * reference decrypts with `struct.unpack("!2L")`,
    * `honeycomb/honeycomb.py:83-93`), 8-byte ECB with zero-padded tail
    * (`server/beacon.c:620-653`). Key = 16 bytes as four BE u32.
    */
  def xteaEncrypt(data: Array[Byte], key: Array[Byte]): Array[Byte] = {
    require(key.length == 16, s"XTEA key must be 16 bytes, got ${key.length}")
    val k = Array.tabulate(4)(i => beU32(key, i * 4))
    val nBlocks = (data.length + 7) / 8
    val out = new Array[Byte](nBlocks * 8)
    var blk = 0
    while (blk < nBlocks) {
      val off = blk * 8
      val padded = new Array[Byte](8)
      System.arraycopy(data, off, padded, 0, math.min(8, data.length - off))
      var v0 = beU32(padded, 0); var v1 = beU32(padded, 4); var sum = 0
      var r = 0
      while (r < XteaRounds) {
        v0 += (((v1 << 4) ^ (v1 >>> 5)) + v1) ^ (sum + k(sum & 3))
        sum += XteaDelta
        v1 += (((v0 << 4) ^ (v0 >>> 5)) + v0) ^ (sum + k((sum >>> 11) & 3))
        r += 1
      }
      putBeU32(out, off, v0); putBeU32(out, off + 4, v1)
      blk += 1
    }
    out
  }

  /** XTEA decrypt; whole 8-byte blocks only — a trailing partial block
    * is dropped, matching `honeycomb.py:95-103` (`if size - i >= 8`).
    */
  def xteaDecrypt(data: Array[Byte], key: Array[Byte]): Array[Byte] = {
    require(key.length == 16, s"XTEA key must be 16 bytes, got ${key.length}")
    val k = Array.tabulate(4)(i => beU32(key, i * 4))
    val nBlocks = data.length / 8
    val out = new Array[Byte](nBlocks * 8)
    var blk = 0
    while (blk < nBlocks) {
      val off = blk * 8
      var v0 = beU32(data, off); var v1 = beU32(data, off + 4)
      var sum = XteaDelta * XteaRounds
      var r = 0
      while (r < XteaRounds) {
        v1 -= (((v0 << 4) ^ (v0 >>> 5)) + v0) ^ (sum + k((sum >>> 11) & 3))
        sum -= XteaDelta
        v0 -= (((v1 << 4) ^ (v1 >>> 5)) + v1) ^ (sum + k(sum & 3))
        r += 1
      }
      putBeU32(out, off, v0); putBeU32(out, off + 4, v1)
      blk += 1
    }
    out
  }

  private final val XorKey = 5

  /** Size-in-preamble decode: byte0 XOR 5 = digit count, then that many
    * ASCII digits each XOR 5 (`server/beacon.c:77-94`, decode
    * `honeycomb.py:186-194`). Returns -1 on malformed input.
    */
  def sizeDecode(buf: Array[Byte]): Long = {
    if (buf.isEmpty) return -1L
    val n = (buf(0) & 0xFF) ^ XorKey
    if (n <= 0 || n > 19 || buf.length < n + 1) return -1L
    var v = 0L
    var i = 1
    while (i <= n) {
      val c = ((buf(i) & 0xFF) ^ XorKey).toChar
      if (c < '0' || c > '9') return -1L
      val d = c - '0'
      // a 19-digit value can exceed Long.MaxValue; wrap-around would
      // return garbage instead of the malformed sentinel
      if (v > (Long.MaxValue - d) / 10) return -1L
      v = v * 10 + d
      i += 1
    }
    v
  }

  /** Size-in-preamble encode into a `totalLen`-byte buffer. The
    * reference fills the remainder with random bytes (transport noise);
    * here the filler is a deterministic byte stream derived from the
    * size so encode is a pure function (decode ignores the filler).
    */
  def sizeEncode(size: Long, totalLen: Int = 64): Array[Byte] = {
    require(size >= 0, "size must be non-negative")
    val digits = size.toString.getBytes(StandardCharsets.US_ASCII)
    require(totalLen >= digits.length + 1, "buffer too small for size digits")
    val out = new Array[Byte](totalLen)
    out(0) = (digits.length ^ XorKey).toByte
    var i = 0
    while (i < digits.length) { out(i + 1) = (digits(i) ^ XorKey).toByte; i += 1 }
    var j = digits.length + 1
    var st = size * 6364136223846793005L + 1442695040888963407L // LCG filler
    while (j < totalLen) {
      st = st * 6364136223846793005L + 1442695040888963407L
      out(j) = (st >>> 56).toByte
      j += 1
    }
    out
  }

  /** Session-key extraction: offset = (byte0 XOR 5) % 15, key = 16
    * bytes at offset+1 (`server/beacon.c:669-678`,
    * `honeycomb.py:78-80`).
    */
  def keyExtract(buf: Array[Byte]): Array[Byte] = {
    require(buf.length >= 17, s"key buffer needs >= 17 bytes, got ${buf.length}")
    val offset = ((buf(0) & 0xFF) ^ XorKey) % 15
    require(buf.length >= offset + 17, "buffer too short for key at offset")
    java.util.Arrays.copyOfRange(buf, offset + 1, offset + 17)
  }

  /** Seed-XOR obfuscation: byte0 is the seed (0 promoted to 0xFF),
    * bytes 1..n XOR seed (`client/trigger_protocols.c:213-227`). It is
    * its own inverse: the receiver (`server/trigger_payload.c:113-115`)
    * applies the same XOR.
    */
  def seedXor(payload: Array[Byte]): Array[Byte] = {
    if (payload.isEmpty) return payload
    val out = payload.clone()
    var seed = out(0)
    if (seed == 0) { seed = 0xFF.toByte; out(0) = seed }
    var i = 1
    while (i < out.length) { out(i) = (out(i) ^ seed).toByte; i += 1 }
    out
  }

  /** Sliding-key XOR: payload XORed with `key.length` bytes of `key`
    * starting at `crc % (keyWindow - payloadLen)`
    * (`client/trigger_protocols.c:889-897`, inverse
    * `server/trigger_payload.c:209-217`). Generalized: XOR `data` with
    * `key` bytes cyclically from `offset`.
    */
  def slidingXor(data: Array[Byte], key: Array[Byte], offset: Int): Array[Byte] = {
    require(key.nonEmpty, "key must be non-empty")
    val out = new Array[Byte](data.length)
    var i = 0
    while (i < data.length) {
      out(i) = (data(i) ^ key((offset + i) % key.length)).toByte
      i += 1
    }
    out
  }

  /** DNS name decode with 0xC0 compression pointers
    * (`server/decode_dns.c:136-158`): length-prefixed labels joined by
    * '.', negative length byte = 14-bit pointer into the message.
    * Follows at most `maxJumps` pointers to stay total on adversarial
    * input (the reference can loop forever; we must not).
    */
  def dnsNameDecode(dns: Array[Byte], offset: Int, maxJumps: Int = 32): String = {
    val sb = new StringBuilder
    var pos = offset
    var jumps = 0
    var len = if (pos < dns.length) dns(pos).toInt else 0
    while (len != 0) {
      if (len < 0) { // compression pointer: 14-bit offset
        require(jumps < maxJumps, "DNS pointer loop")
        require(pos + 1 < dns.length, "truncated DNS pointer")
        pos = (((dns(pos) & 0x3F) << 8) | (dns(pos + 1) & 0xFF))
        jumps += 1
      } else {
        require(pos + 1 + len <= dns.length, "truncated DNS label")
        if (sb.nonEmpty) sb.append('.')
        sb.append(new String(dns, pos + 1, len, StandardCharsets.US_ASCII))
        pos += 1 + len
      }
      len = if (pos < dns.length) dns(pos).toInt else 0
    }
    sb.toString
  }

  /** DNS name encode: dotted name → length-prefixed labels + zero
    * terminator (`server/dns_client.c:78-92`).
    */
  def dnsNameEncode(name: String): Array[Byte] = {
    val labels = if (name.isEmpty) Array.empty[String] else name.split('.')
    val out = new java.io.ByteArrayOutputStream()
    labels.foreach { l =>
      // the length byte counts the bytes written: a character outside
      // US-ASCII (a surrogate pair included) becomes one '?'
      val b = l.getBytes(StandardCharsets.US_ASCII)
      require(b.length <= 63, s"DNS label too long: $l")
      out.write(b.length)
      out.write(b)
    }
    out.write(0)
    out.toByteArray
  }

  // ------------------------------------------------------------ PPM

  /** Decoded P6 raster stats: header fields + per-channel byte sums
    * (integer facts — no float hazard against the SQL oracle).
    */
  final case class PpmStats(width: Int, height: Int, maxval: Int,
      nPx: Int, sumR: Long, sumG: Long, sumB: Long)

  /** P6 PPM (binary Netpbm) decode — a REAL public image format
    * parsed without external libraries: ASCII header
    * `P6 <width> <height> <maxval>` with arbitrary whitespace and
    * `#`-to-end-of-line comments (the Netpbm header grammar), exactly
    * one whitespace byte after maxval, then the width*height*3-byte
    * RGB raster. Emits per-channel byte sums over the raster.
    *
    * Returns null on malformed input — wrong magic, missing/garbled
    * header ints, nonpositive dims, maxval outside [1,255] (2-byte
    * rasters unsupported), or truncated raster — the SQL-null error
    * signal the ingest DAGs route on.
    */
  def ppmDecode(b: Array[Byte]): PpmStats = {
    val hd = ppmHeader(b)
    if (hd == null) return null
    val Array(w, h, mv, pos) = hd
    var sr = 0L; var sg = 0L; var sb = 0L
    var i = pos
    val end = pos + w * h * 3
    while (i < end) {
      sr += b(i) & 0xFF; sg += b(i + 1) & 0xFF; sb += b(i + 2) & 0xFF
      i += 3
    }
    PpmStats(w, h, mv, w * h, sr, sg, sb)
  }

  /** Parse + validate a P6 header; returns `{w, h, maxval, rasterOff}`
    * with the raster bounds already checked against the buffer, or
    * null on any malformed-input condition [[ppmDecode]] rejects.
    * Shared by the decode and resize paths so their accept/reject
    * languages cannot drift.
    */
  private def ppmHeader(b: Array[Byte]): Array[Int] = {
    if (b == null || b.length < 2 || b(0) != 'P' || b(1) != '6') return null
    var pos = 2
    def isWs(c: Byte) = c == ' ' || c == '\n' || c == '\r' || c == '\t'
    def skipWs(): Unit = {
      var go = true
      while (go && pos < b.length) {
        if (isWs(b(pos))) pos += 1
        else if (b(pos) == '#') { while (pos < b.length && b(pos) != '\n') pos += 1 }
        else go = false
      }
    }
    def readInt(): Int = {
      skipWs()
      if (pos >= b.length || b(pos) < '0' || b(pos) > '9') return -1
      var v = 0
      while (pos < b.length && b(pos) >= '0' && b(pos) <= '9') {
        // a digit run past the sanity bound is a malformed header, not
        // a number to truncate mid-run (stopping early would leave the
        // leftover digits to mis-parse as the NEXT header field)
        if (v > 0xFFFFFF) return -1
        v = v * 10 + (b(pos) - '0'); pos += 1
      }
      v
    }
    val w = readInt(); val h = readInt(); val mv = readInt()
    if (w <= 0 || h <= 0 || mv <= 0 || mv > 255) return null
    if (pos >= b.length || !isWs(b(pos))) return null
    pos += 1
    if (w.toLong * h * 3 > b.length - pos) return null
    Array(w, h, mv, pos)
  }

  /** Integer bilinear resample of an interleaved 3-channel raster —
    * the resize kernel proper, independent of the container format.
    * Pure 8.8 fixed point, so every engine (and the SQL oracle)
    * reproduces it bit-exactly, no float rounding seam:
    *
    *   f = clamp((2d+1)·src·128 / dst − 128, 0, 256·(src−1))
    *   lo = f >> 8;  frac = f & 255;  hi = min(lo+1, src−1)
    *   out = ((256−fy)·((256−fx)·p00 + fx·p01)
    *        +      fy ·((256−fx)·p10 + fx·p11)) >> 16
    *
    * (the half-pixel-center mapping — align_corners=false in the ML
    * resize taxonomy — with floor division throughout; weights are
    * exact because the numerators stay well under 2³¹). Edge pixels
    * clamp (replicate-border), the standard CV convention.
    */
  def bilinear3(b: Array[Byte], off: Int, w: Int, h: Int,
      tw: Int, th: Int): Array[Byte] = {
    val out = new Array[Byte](tw * th * 3)
    var o = 0
    var dy = 0
    while (dy < th) {
      // the coordinate numerator (2d+1)·src·128 exceeds Int once
      // dst·src passes ~2²³ (ppmHeader admits dims to 0xFFFFFF, and
      // 256·(src−1) alone can pass 2³¹) — Long end to end, narrowing
      // only the post-clamp index/weight, which provably fit
      var fy = (2L * dy + 1) * h * 128 / th - 128
      if (fy < 0) fy = 0
      if (fy > 256L * (h - 1)) fy = 256L * (h - 1)
      val y0 = (fy >> 8).toInt; val wy = (fy & 255).toInt
      val y1 = if (y0 + 1 < h) y0 + 1 else h - 1
      var dx = 0
      while (dx < tw) {
        var fx = (2L * dx + 1) * w * 128 / tw - 128
        if (fx < 0) fx = 0
        if (fx > 256L * (w - 1)) fx = 256L * (w - 1)
        val x0 = (fx >> 8).toInt; val wx = (fx & 255).toInt
        val x1 = if (x0 + 1 < w) x0 + 1 else w - 1
        val i00 = off + 3 * (y0 * w + x0); val i01 = off + 3 * (y0 * w + x1)
        val i10 = off + 3 * (y1 * w + x0); val i11 = off + 3 * (y1 * w + x1)
        var c = 0
        while (c < 3) {
          val top = (256 - wx) * (b(i00 + c) & 0xFF) + wx * (b(i01 + c) & 0xFF)
          val bot = (256 - wx) * (b(i10 + c) & 0xFF) + wx * (b(i11 + c) & 0xFF)
          out(o) = (((256 - wy) * top + wy * bot) >> 16).toByte
          o += 1; c += 1
        }
        dx += 1
      }
      dy += 1
    }
    out
  }

  /** P6 PPM decode + integer bilinear resize to `tw`×`th`: the REAL
    * replacement for the stride-sample seam — an actual raster
    * resample over actually-decoded planes. Null on malformed input
    * (same header/raster language as [[ppmDecode]]) or nonpositive
    * target geometry.
    */
  def ppmResize(b: Array[Byte], tw: Int, th: Int): Array[Byte] = {
    if (tw <= 0 || th <= 0 || tw > 0xFFFF || th > 0xFFFF) return null
    // both axes fit 16 bits, but their product can still blow the JVM
    // array bound (0xFFFF² · 3 ≈ 12.9 G) — null, not a negative-size
    // allocation inside a codegen'd expression
    if (tw.toLong * th * 3 > Int.MaxValue - 16) return null
    val hd = ppmHeader(b)
    if (hd == null) return null
    bilinear3(b, hd(3), hd(0), hd(1), tw, th)
  }

  /** Resized-raster facts for the relational surface: geometry,
    * per-channel sums, and the position-weighted byte fold
    * Σ (i+1)·byteᵢ — the fold pins the exact byte STREAM (order and
    * values), so the oracle must reproduce the resample bit-for-bit,
    * not just its totals. Fits comfortably in a Long for any raster
    * the 16-bit geometry gate admits.
    */
  final case class PpmResizeStats(outW: Int, outH: Int,
      sumR: Long, sumG: Long, sumB: Long, ordFold: Long)

  def ppmResizeStats(b: Array[Byte], tw: Int, th: Int): PpmResizeStats = {
    val r = ppmResize(b, tw, th)
    if (r == null) return null
    var sr = 0L; var sg = 0L; var sb = 0L; var fold = 0L
    var i = 0
    while (i < r.length) {
      val v = r(i) & 0xFF
      (i % 3: @annotation.switch) match {
        case 0 => sr += v
        case 1 => sg += v
        case 2 => sb += v
      }
      fold += (i + 1).toLong * v
      i += 1
    }
    PpmResizeStats(tw, th, sr, sg, sb, fold)
  }

  /** BT.601 integer luma of the interleaved RGB pixel at offset `i`:
    * (77·r + 150·g + 29·b) >> 8. The weights sum to 256, so the
    * result stays in [0, 255] and — being pure integer arithmetic —
    * every engine (and the SQL oracle, `// 256`) reproduces it
    * exactly; a grayscale raster maps to its own value.
    */
  private def luma3(b: Array[Byte], i: Int): Int =
    (77 * (b(i) & 0xFF) + 150 * (b(i + 1) & 0xFF) + 29 * (b(i + 2) & 0xFF)) >> 8

  /** Difference hash (dHash) of a P6 payload — the classic perceptual
    * image fingerprint: decode, bilinear-resample to a 9×8 luma grid
    * ([[bilinear3]] + [[luma3]], all integer so bit-exact across
    * engines), then one bit per horizontal gradient sign — bit
    * y·8+x = 1 iff luma(x+1, y) > luma(x, y). Two images that
    * differ only by scaling or mild retouching keep most gradient
    * signs, so near-dups land within a small Hamming distance while
    * the 64-bit space keeps random collisions negligible. Null on
    * malformed payload (same reject language as [[ppmDecode]]).
    */
  def ppmDhash(b: Array[Byte]): java.lang.Long = {
    val hd = ppmHeader(b)
    if (hd == null) return null
    val g = bilinear3(b, hd(3), hd(0), hd(1), 9, 8)
    var bits = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val i0 = 3 * (y * 9 + x)
        if (luma3(g, i0 + 3) > luma3(g, i0)) bits |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    bits
  }

  /** Average hash (aHash), dHash's mean-threshold sibling: 8×8 luma
    * grid, bit y·8+x = 1 iff luma(x, y) > mean (integer mean =
    * Σ/64 floor, strict compare). Null on malformed payload.
    */
  def ppmAhash(b: Array[Byte]): java.lang.Long = {
    val hd = ppmHeader(b)
    if (hd == null) return null
    val g = bilinear3(b, hd(3), hd(0), hd(1), 8, 8)
    val l = new Array[Int](64)
    var s = 0
    var i = 0
    while (i < 64) { l(i) = luma3(g, 3 * i); s += l(i); i += 1 }
    val mean = s / 64
    var bits = 0L
    i = 0
    while (i < 64) { if (l(i) > mean) bits |= 1L << i; i += 1 }
    bits
  }

  /** Decoded BMP raster stats — see [[bmpDecode]]. */
  final case class BmpStats(width: Int, height: Int, topDown: Boolean,
      nPx: Int, sumR: Long, sumG: Long, sumB: Long)

  private def leU32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xFFL)) | ((b(off + 1) & 0xFFL) << 8) |
      ((b(off + 2) & 0xFFL) << 16) | ((b(off + 3) & 0xFFL) << 24)

  private def leU16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)

  /** Uncompressed 24-bpp BMP decode — the second REAL public image
    * format (Windows DIB, no external libraries), exercising decoder
    * semantics PPM does not: little-endian multi-byte header fields,
    * the 4-byte-aligned row stride (pad bytes skipped, never summed),
    * BGR byte order, and bottom-up vs top-down rows via the sign of
    * the height field. Accepts BITMAPFILEHEADER + 40-byte
    * BITMAPINFOHEADER, planes=1, bpp=24, BI_RGB only.
    *
    * Returns null on malformed input — wrong magic, short/foreign
    * header, unsupported bpp/compression/planes, nonpositive width,
    * zero height, a declared file size disagreeing with the actual
    * buffer, or an offset/raster overrunning it — the SQL-null error
    * signal.
    */
  def bmpDecode(b: Array[Byte]): BmpStats = {
    if (b == null || b.length < 54 || b(0) != 'B' || b(1) != 'M') return null
    if (leU32(b, 2) != b.length) return null            // declared size must match
    val pixOff = leU32(b, 10)
    if (leU32(b, 14) != 40) return null                 // BITMAPINFOHEADER only
    val w = leU32(b, 18).toInt                          // s32: top bit would go negative
    val hRaw = leU32(b, 22).toInt
    if (leU16(b, 26) != 1) return null                  // planes
    if (leU16(b, 28) != 24) return null                 // bpp
    if (leU32(b, 30) != 0) return null                  // BI_RGB
    if (w <= 0 || hRaw == 0) return null
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    // 0x80000000 survives math.abs still negative — reject it with the
    // rest of the malformed-geometry class instead of bypassing the
    // raster bounds check via a negative product
    if (h <= 0) return null
    val rowSize = ((3L * w) + 3L) & ~3L
    if (pixOff < 54 || pixOff + rowSize * h > b.length) return null
    var sr = 0L; var sg = 0L; var sb = 0L
    var r = 0
    while (r < h) {
      var i = (pixOff + r * rowSize).toInt
      var c = 0
      while (c < w) {                                   // pixel order on disk: B G R
        sb += b(i) & 0xFF; sg += b(i + 1) & 0xFF; sr += b(i + 2) & 0xFF
        i += 3; c += 1
      }
      r += 1                                            // stride skips the pad bytes
    }
    BmpStats(w, h, topDown, w * h, sr, sg, sb)
  }

  /** Decoded WAV stats — see [[wavDecode]]. */
  final case class WavStats(channels: Int, sampleRate: Int, bits: Int,
      nFrames: Int, sumCh0: Long, sumCh1: Long)

  /** RIFF/WAVE PCM decode — the REAL audio-format path (no external
    * libraries): RIFF header, `fmt ` chunk (PCM, 16-bit only),
    * `data` chunk, then interleaved signed 16-bit little-endian
    * samples. Emits per-channel signed sample sums (mono: sum_ch1 is
    * 0) — integer facts for the SQL oracle, like the image decoders.
    *
    * Returns null on malformed input: wrong magics, non-PCM, bits ≠
    * 16, a riff/byte-rate/block-align field disagreeing with the
    * arithmetic the format fixes, or a data chunk overrunning the
    * buffer. Only the canonical 44-byte header layout (fmt then data)
    * is accepted — the shape every PCM writer emits.
    */
  def wavDecode(b: Array[Byte]): WavStats = {
    if (b == null || b.length < 44) return null
    def tag(off: Int, s: String): Boolean =
      s.indices.forall(i => b(off + i) == s.charAt(i).toByte)
    if (!tag(0, "RIFF") || !tag(8, "WAVE") || !tag(12, "fmt ") || !tag(36, "data"))
      return null
    if (leU32(b, 4) != b.length - 8) return null        // riff size
    if (leU32(b, 16) != 16) return null                 // fmt chunk size
    if (leU16(b, 20) != 1) return null                  // PCM
    val nch = leU16(b, 22)
    val rate = leU32(b, 24).toInt
    val byteRate = leU32(b, 28)
    val blockAlign = leU16(b, 32)
    val bits = leU16(b, 34)
    if (bits != 16 || nch < 1 || nch > 2 || rate <= 0) return null
    if (blockAlign != nch * 2 || byteRate != rate.toLong * blockAlign) return null
    val dataLen = leU32(b, 40)
    if (dataLen % blockAlign != 0 || 44L + dataLen > b.length) return null
    // canonical layout: riff size must equal 36 + dataLen exactly
    // (with the b.length-8 check above this also bans trailing junk)
    if (leU32(b, 4) != 36L + dataLen) return null
    val frames = (dataLen / blockAlign).toInt
    var s0 = 0L; var s1 = 0L
    var f = 0
    while (f < frames) {
      val off = 44 + f * blockAlign
      s0 += ((b(off) & 0xFF) | (b(off + 1) << 8)).toShort
      if (nch == 2) s1 += ((b(off + 2) & 0xFF) | (b(off + 3) << 8)).toShort
      f += 1
    }
    WavStats(nch, rate, bits, frames, s0, s1)
  }

  /** Decoded Y4M stats — see [[y4mDecode]]. */
  final case class Y4mStats(width: Int, height: Int, fpsNum: Int, fpsDen: Int,
      nFrames: Int, sumY: Long, sumC: Long)

  /** YUV4MPEG2 (Y4M) decode — the REAL video-format path (no external
    * libraries): the ASCII stream header (`YUV4MPEG2` + space-
    * separated `W`/`H`/`F<num>:<den>` tags, `C420` or an absent
    * colourspace tag = 4:2:0 default), then repeated `FRAME` markers
    * each followed by a raw 4:2:0 plane set (w·h luma + 2·(w/2·h/2)
    * chroma bytes). Emits the frame count and the luma/chroma byte
    * sums across all frames — the video-specific semantics are the
    * per-frame marker walk and the plane split.
    *
    * Returns null on malformed input: wrong magic, missing/garbled
    * W/H/F tags, an unsupported colourspace tag, odd dimensions
    * (invalid for 4:2:0), a FRAME marker missing where a frame must
    * start, or a truncated plane set. A stream with zero frames is
    * valid (n_frames 0).
    */
  /** Parse + validate a Y4M stream header; returns
    * `{w, h, fpsNum, fpsDen, firstFrameOff}` with the 4:2:0 frame
    * size already checked against the buffer, or null on any
    * malformed-input condition [[y4mDecode]] rejects. Shared by the
    * whole-stream decode and the per-frame luma walk so their
    * accept/reject languages cannot drift.
    */
  private def y4mHeader(b: Array[Byte]): Array[Int] = {
    val magic = "YUV4MPEG2"
    if (b == null || b.length < magic.length + 1) return null
    if (!magic.indices.forall(i => b(i) == magic.charAt(i).toByte)) return null
    var pos = magic.length
    var w = -1; var h = -1; var fn = -1; var fd = -1
    // header params up to the newline
    while (pos < b.length && b(pos) != '\n') {
      if (b(pos) != ' ') return null
      pos += 1
      val start = pos
      while (pos < b.length && b(pos) != ' ' && b(pos) != '\n') pos += 1
      if (pos <= start) return null
      val tok = new String(b, start, pos - start, StandardCharsets.US_ASCII)
      tok.charAt(0) match {
        case 'W' => w = tok.drop(1).toIntOption.getOrElse(return null)
        case 'H' => h = tok.drop(1).toIntOption.getOrElse(return null)
        case 'F' =>
          val parts = tok.drop(1).split(':')
          if (parts.length != 2) return null
          fn = parts(0).toIntOption.getOrElse(return null)
          fd = parts(1).toIntOption.getOrElse(return null)
        case 'C' => if (tok != "C420") return null
        case _   => () // Ip, A, X… tags are legal and ignored
      }
    }
    if (pos >= b.length) return null
    pos += 1 // consume the header newline
    if (w <= 0 || h <= 0 || fn <= 0 || fd <= 0) return null
    if (w % 2 != 0 || h % 2 != 0) return null
    // dimension sanity bound: beyond it w*h arithmetic overflows Int
    // and a negative frame size would walk the buffer at negative
    // indexes — same malformed-header class ppmDecode rejects
    if (w > 0xFFFF || h > 0xFFFF) return null
    if (w.toLong * h + (w / 2).toLong * (h / 2) * 2 > b.length) return null
    Array(w, h, fn, fd, pos)
  }

  def y4mDecode(b: Array[Byte]): Y4mStats = {
    val hd = y4mHeader(b)
    if (hd == null) return null
    val Array(w, h, fn, fd, pos0) = hd
    var pos = pos0
    val ySz = w * h
    val frameSz = ySz + (w / 2) * (h / 2) * 2
    val marker = "FRAME"
    var sy = 0L; var sc = 0L; var frames = 0
    while (pos < b.length) {
      if (pos + marker.length > b.length ||
        !marker.indices.forall(i => b(pos + i) == marker.charAt(i).toByte)) return null
      pos += marker.length
      while (pos < b.length && b(pos) != '\n') pos += 1 // frame params
      if (pos >= b.length) return null
      pos += 1
      if (pos + frameSz > b.length) return null
      var i = pos
      val yEnd = pos + ySz
      while (i < yEnd) { sy += b(i) & 0xFF; i += 1 }
      val cEnd = pos + frameSz
      while (i < cEnd) { sc += b(i) & 0xFF; i += 1 }
      pos += frameSz
      frames += 1
    }
    Y4mStats(w, h, fn, fd, frames, sy, sc)
  }

  /** Per-frame luma-plane byte sums of a Y4M stream — the temporal
    * decode path ([[y4mDecode]] folds all frames into one total;
    * scene-cut detection needs the per-frame series). Same header
    * grammar and frame-walk rejection language as [[y4mDecode]];
    * returns `{n_px, sums(frame)}` with `n_px = w·h` so downstream
    * mean comparisons scale thresholds without re-parsing the
    * header, or null on any malformed-input condition. A zero-frame
    * stream yields an empty series.
    */
  final case class Y4mFrameLumas(nPx: Int, sums: Array[Long])

  def y4mFrameLumas(b: Array[Byte]): Y4mFrameLumas = {
    val hd = y4mHeader(b)
    if (hd == null) return null
    val w = hd(0); val h = hd(1)
    var pos = hd(4)
    val ySz = w * h
    val frameSz = ySz + (w / 2) * (h / 2) * 2
    val marker = "FRAME"
    val sums = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (pos < b.length) {
      if (pos + marker.length > b.length ||
        !marker.indices.forall(i => b(pos + i) == marker.charAt(i).toByte)) return null
      pos += marker.length
      while (pos < b.length && b(pos) != '\n') pos += 1
      if (pos >= b.length) return null
      pos += 1
      if (pos + frameSz > b.length) return null
      var sy = 0L
      var i = pos
      val yEnd = pos + ySz
      while (i < yEnd) { sy += b(i) & 0xFF; i += 1 }
      sums += sy
      pos += frameSz
    }
    Y4mFrameLumas(ySz, sums.toArray)
  }

  /** Windowed channel-0 features of a PCM WAV payload — the audio
    * feature-extraction pass a training pipeline runs after decode:
    * consecutive non-overlapping windows of `win` frames (the last
    * window may be partial), each summarized by its frame count, the
    * sum of absolute sample values (integer mean-amplitude numerator
    * — no float sqrt, so the SQL oracle replays it exactly) and the
    * zero-crossing count (sign changes between consecutive ch0
    * samples WITHIN the window; negative vs non-negative, so silence
    * runs don't count). Accept/reject language is [[wavDecode]]'s;
    * null on malformed payload or `win <= 0`.
    */
  final case class WavWindow(n: Int, sumAbs: Long, zc: Int)

  def wavWindows(b: Array[Byte], win: Int): Array[WavWindow] = {
    if (win <= 0) return null
    val st = wavDecode(b)
    if (st == null) return null
    val nch = st.channels
    val frames = st.nFrames
    def ch0(f: Int): Int = {
      val off = 44 + f * nch * 2
      ((b(off) & 0xFF) | (b(off + 1) << 8)).toShort.toInt
    }
    val nWin = (frames + win - 1) / win
    val out = new Array[WavWindow](nWin)
    var wi = 0
    while (wi < nWin) {
      val from = wi * win
      val until = math.min(from + win, frames)
      var sa = 0L; var zc = 0
      var f = from
      var prev = 0
      while (f < until) {
        val s = ch0(f)
        sa += math.abs(s.toLong)
        if (f > from && ((prev < 0) != (s < 0))) zc += 1
        prev = s
        f += 1
      }
      out(wi) = WavWindow(until - from, sa, zc)
      wi += 1
    }
    out
  }

  /** 64-bit audio fingerprint of a PCM WAV payload — the delta-sign
    * pattern of the channel-0 amplitude envelope: bit f = 1 iff
    * |s(f+1)| > |s(f)| over the first 65 frames. The same
    * perceptual-fingerprint idea as the image dHash (gradient signs
    * survive mild retouching; the 64-bit space keeps random
    * collisions negligible), applied to the time axis — it feeds the
    * SAME banded-Hamming pair operator. Integer-exact, so the SQL
    * oracle replays every bit. Null on malformed payload (wavDecode's
    * accept language) or fewer than 65 frames.
    */
  def wavFingerprint(b: Array[Byte]): java.lang.Long = {
    val st = wavDecode(b)
    if (st == null || st.nFrames < 65) return null
    val step = st.channels * 2
    def amp(f: Int): Int = {
      val off = 44 + f * step
      math.abs(((b(off) & 0xFF) | (b(off + 1) << 8)).toShort.toInt)
    }
    var bits = 0L
    var prev = amp(0)
    var f = 1
    while (f <= 64) {
      val cur = amp(f)
      if (cur > prev) bits |= 1L << (f - 1)
      prev = cur
      f += 1
    }
    bits
  }

  /** 64-bit video fingerprint of a YUV4MPEG2 stream — the delta-sign
    * pattern of the per-frame MEAN-LUMA series: bit f = 1 iff
    * mean_y(f+1) > mean_y(f) over the first 65 frames (compared as
    * frame luma SUMS — n_px is constant within a stream, so sum order
    * is mean order, integer-exact). The third application of the
    * delta-sign idea: image dHash walks the spatial axis, the audio
    * fingerprint the sample axis, this one the FRAME axis — temporal
    * shot structure survives mild per-pixel retouching, and the
    * result feeds the SAME banded-Hamming pair operator. Null on a
    * malformed stream (y4mFrameLumas's accept language) or fewer
    * than 65 frames.
    */
  def y4mFingerprint(b: Array[Byte]): java.lang.Long = {
    val fl = y4mFrameLumas(b)
    if (fl == null || fl.sums.length < 65) return null
    val s = fl.sums
    var bits = 0L
    var f = 1
    while (f <= 64) {
      if (s(f) > s(f - 1)) bits |= 1L << (f - 1)
      f += 1
    }
    bits
  }

  /** RFC 1071 ones-complement checksum over big-endian 16-bit words,
    * odd trailing byte zero-padded — the semantics of
    * `client/trigger_network.c:99-111` (endian-agnostic by
    * construction; we canonicalize to network byte order).
    */
  def ipCksum(buf: Array[Byte]): Int = {
    var sum = 0L
    var i = 0
    while (i + 1 < buf.length) {
      sum += ((buf(i) & 0xFF) << 8) | (buf(i + 1) & 0xFF)
      if ((sum & 0xFFFF0000L) != 0) sum = (sum & 0xFFFF) + 1
      i += 2
    }
    if (i < buf.length) {
      sum += (buf(i) & 0xFF) << 8
      if ((sum & 0xFFFF0000L) != 0) sum = (sum & 0xFFFF) + 1
    }
    (~sum & 0xFFFF).toInt
  }

  /** TLV encode: per field `type:u16be, len:u16be, bytes`, then a
    * zero TLV terminator; null/absent fields skipped
    * (`server/beacon.c:384-446`).
    */
  def tlvEncode(fields: Seq[(Int, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    fields.foreach { case (t, v) =>
      if (v != null) {
        require(t > 0 && t <= 0xFFFF, s"TLV type out of range: $t")
        require(v.length <= 0xFFFF, "TLV value too long")
        out.write(t >>> 8); out.write(t & 0xFF)
        out.write(v.length >>> 8); out.write(v.length & 0xFF)
        out.write(v)
      }
    }
    out.write(0); out.write(0); out.write(0); out.write(0)
    out.toByteArray
  }

  /** TLV decode: walk `(type:u16be, len:u16be, bytes)` until a
    * terminator TLV (`honeycomb.py:216-218`: the loop runs only while
    * BOTH type and length are nonzero, so a header with type=0 OR
    * length=0 ends the walk — a zero-length field is a terminator,
    * never emitted). Truncated input throws; unknown types are
    * returned as-is (validation is a separate filter, like the
    * reference's parse_error flag).
    */
  def tlvDecode(buf: Array[Byte]): Seq[(Int, Array[Byte])] = {
    val out = Seq.newBuilder[(Int, Array[Byte])]
    var pos = 0
    def u16(o: Int): Int = {
      require(o + 2 <= buf.length, "truncated TLV header")
      ((buf(o) & 0xFF) << 8) | (buf(o + 1) & 0xFF)
    }
    var t = u16(pos); var len = u16(pos + 2)
    while (t != 0 && len != 0) {
      pos += 4
      require(pos + len <= buf.length, "truncated TLV value")
      out += ((t, java.util.Arrays.copyOfRange(buf, pos, pos + len)))
      pos += len
      t = u16(pos); len = u16(pos + 2)
    }
    out.result()
  }

  /** Parsed BTHP proxy envelope (`honeycomb.py:16-28,67-68`): main
    * header `>BBHII` (ver, type, hdrLen, dataLen, proxyId), then
    * additional headers `>BB` (type, len) carrying IPs — 2=beacon,
    * 3=destination, 6=proxy — until the (0,0) terminator, then the
    * framed payload.
    */
  final case class Bthp(
      ver: Int, typ: Int, hdrLen: Int, dataLen: Long, proxyId: Long,
      beaconIp: String, dstIp: String, proxyIp: String,
      payload: Array[Byte])

  private def inet(b: Array[Byte], off: Int): String =
    s"${b(off) & 0xFF}.${b(off + 1) & 0xFF}.${b(off + 2) & 0xFF}.${b(off + 3) & 0xFF}"

  /** Strip the BTHP framing from a proxied packet
    * (`honeycomb.py:138-183`: `parse_bthp_packet` +
    * `remove_bthp_addl_hdr`). Unknown additional-header types are
    * skipped, exactly as the reference advances past them without
    * storing a value; truncated input throws.
    */
  def bthpStrip(buf: Array[Byte]): Bthp = {
    require(buf.length >= 12, "truncated BTHP main header")
    def u8(o: Int): Int = buf(o) & 0xFF
    val ver = u8(0); val typ = u8(1)
    val hdrLen = (u8(2) << 8) | u8(3)
    val dataLen = ((u8(4).toLong << 24) | (u8(5) << 16) | (u8(6) << 8) | u8(7))
    val proxyId = ((u8(8).toLong << 24) | (u8(9) << 16) | (u8(10) << 8) | u8(11))
    var off = 12
    var beaconIp: String = null; var dstIp: String = null; var proxyIp: String = null
    var done = false
    while (!done) {
      require(off + 2 <= buf.length, "truncated BTHP additional header")
      val t = u8(off); val len = u8(off + 1)
      off += 2
      if (t == 0 && len == 0) done = true
      else {
        require(off + len <= buf.length, "truncated BTHP additional value")
        t match {
          case 2 if len == 4 => beaconIp = inet(buf, off)
          case 3 if len == 4 => dstIp = inet(buf, off)
          case 6 if len == 4 => proxyIp = inet(buf, off)
          case _ => () // unknown type: skip, like the reference
        }
        off += len
      }
    }
    Bthp(ver, typ, hdrLen, dataLen, proxyId, beaconIp, dstIp, proxyIp,
      java.util.Arrays.copyOfRange(buf, off, buf.length))
  }

  /** Frame a payload in a BTHP envelope (`honeycomb.py:120-135`
    * `create_return_packet`, generalized to carry the IP additional
    * headers the parser reads back). hdrLen counts every header byte
    * including the terminator, as the reference's fixed 14 does for
    * its header-only packet.
    */
  def bthpFrame(payload: Array[Byte], proxyId: Long,
      beaconIp: String = null, dstIp: String = null,
      proxyIp: String = null): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val addls = Seq(2 -> beaconIp, 3 -> dstIp, 6 -> proxyIp).filter(_._2 != null)
    val hdrLen = 12 + addls.size * 6 + 2
    out.write(1); out.write(2) // version 1, type 2 (return packet)
    out.write(hdrLen >>> 8); out.write(hdrLen & 0xFF)
    out.write((payload.length >>> 24) & 0xFF); out.write((payload.length >>> 16) & 0xFF)
    out.write((payload.length >>> 8) & 0xFF); out.write(payload.length & 0xFF)
    out.write(((proxyId >>> 24) & 0xFF).toInt); out.write(((proxyId >>> 16) & 0xFF).toInt)
    out.write(((proxyId >>> 8) & 0xFF).toInt); out.write((proxyId & 0xFF).toInt)
    addls.foreach { case (t, ip) =>
      out.write(t); out.write(4)
      ip.split("\\.").foreach(o => out.write(o.toInt & 0xFF))
    }
    out.write(0); out.write(0) // terminator
    out.write(payload)
    out.toByteArray
  }

  /** MAC canonicalization: 6 bytes → lowercase `%02x-` join
    * (`server/beacon.c:657-666`).
    */
  def macFormat(mac: Array[Byte]): String =
    mac.map(b => f"${b & 0xFF}%02x").mkString("-")

  // ------------------------------------------------ bzip2 wire codec

  /** bzip2 wire compression (`server/compression.c:13-31`:
    * `BZ2_bzBuffToBuffCompress(..., blockSize100k=9, verbosity=0,
    * workFactor=30)` — commons-compress implements the same bzlib
    * format; block size 9 matches the reference, workFactor only
    * affects the fallback sort's effort, not the output bytes for
    * non-degenerate input). Produces the `BZh9`-magic stream the
    * version ≥ 23 beacon payload carries on the wire.
    */
  def bz2Compress(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val out = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(bos, 9)
    try out.write(data) finally out.close()
    bos.toByteArray
  }

  /** bzip2 wire decompression (`honeycomb.py:209-213` — version ≥ 23
    * payloads are `bz2.decompress`ed before TLV parsing). Returns
    * null (error routing, like the media decoders) on a missing BZh
    * magic, a malformed stream, or decompressed output past `maxLen` —
    * the cap stops a hostile tiny-payload decompression bomb from
    * taking out an executor (same discipline as the Y4M
    * dimension-bomb reject).
    */
  def bz2Decompress(data: Array[Byte], maxLen: Int): Array[Byte] = {
    if (data.length < 4 || data(0) != 'B' || data(1) != 'Z' || data(2) != 'h') return null
    try {
      val in = new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorInputStream(new java.io.ByteArrayInputStream(data))
      try {
        val bos = new java.io.ByteArrayOutputStream(math.min(maxLen, data.length * 4 + 64))
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n > 0) {
          if (bos.size() + n > maxLen) return null
          bos.write(buf, 0, n)
          n = in.read(buf)
        }
        bos.toByteArray
      } finally in.close()
    } catch {
      // NonFatal, not just IOException: commons-compress can throw
      // unchecked exceptions (e.g. array bounds from corrupt Huffman
      // tables) on crafted streams that pass the magic check — the
      // error-routing contract is null, never a task-killing throw
      case scala.util.control.NonFatal(_) => null
    }
  }

  // ------------------------------------------ AES-CBC session framing

  /** Session IV derivation: md5 of the session key
    * (`common/crypto/crypto.c:146` — the IV is seeded with the md5
    * hash of the DH shared key, so it is a pure function of the key).
    */
  def sessionIv(key: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5").digest(key)

  private def aesCbc(mode: Int, data: Array[Byte], key: Array[Byte],
      iv: Array[Byte]): Array[Byte] = {
    require(key.length == 32,
      s"AES session key must be 32 bytes (AES_KEY_SIZE 256, crypto.h:23), got ${key.length}")
    require(iv.length == 16, s"AES-CBC IV must be 16 bytes, got ${iv.length}")
    val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    c.init(mode, new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    c.doFinal(data)
  }

  /** Raw AES-256-CBC over a 16-multiple buffer (no padding — the
    * framing layer owns padding). Exposed for golden-vector testing
    * (NIST SP 800-38A CBC-AES256 vectors) independent of the frame
    * layout.
    */
  def aesCbcEncrypt(data: Array[Byte], key: Array[Byte], iv: Array[Byte]): Array[Byte] =
    aesCbc(javax.crypto.Cipher.ENCRYPT_MODE, data, key, iv)

  def aesCbcDecrypt(data: Array[Byte], key: Array[Byte], iv: Array[Byte]): Array[Byte] =
    aesCbc(javax.crypto.Cipher.DECRYPT_MODE, data, key, iv)

  /** Encrypted-session frame WRITE side
    * (`common/crypto/crypto.c:205-273`): payload capped at 65535
    * (`:210-213`), buffer sized to the next 16-byte multiple of
    * (len + 2) and zero-filled (`:218-221` — calloc supplies the zero
    * pad), 2-byte big-endian length prefix (`:224-225`), payload at
    * offset 2, then AES-256-CBC over the whole buffer. Modeled as a
    * pure single-frame transform with the IV an explicit argument —
    * the reference chains the CBC IV across a connection's frames, so
    * this is bit-identical to the reference's FIRST frame under
    * iv = [[sessionIv]](key), and the per-frame semantics (layout,
    * padding, validation) are what define the record format.
    *
    * WARNING: not for production encryption — with the fixed
    * key-derived IV, equal payloads under one key yield equal
    * ciphertexts (deterministic by design, required for the oracle).
    */
  def aesFrameEncode(payload: Array[Byte], key: Array[Byte],
      iv: Array[Byte]): Array[Byte] = {
    require(payload.length <= 0xFFFF,
      s"frame payload must be <= 65535 bytes (crypto.c:210-213), got ${payload.length}")
    val n = payload.length + 2
    val bufsize = if (n % 16 == 0) n else n + (16 - n % 16)
    val buf = new Array[Byte](bufsize) // zero-filled = calloc pad
    buf(0) = (payload.length >>> 8).toByte
    buf(1) = payload.length.toByte
    System.arraycopy(payload, 0, buf, 2, payload.length)
    aesCbcEncrypt(buf, key, iv)
  }

  /** Encrypted-session frame READ side
    * (`common/crypto/crypto.c:286-384`): reject input that is not a
    * 16-byte multiple (`:349-352`), decrypt, read the 2-byte
    * big-endian embedded length (`:362`), reject a length that
    * exceeds the caller's buffer capacity (`:363-369`), else return
    * exactly `len` payload bytes from offset 2. Rejections return
    * null (the reference returns -1), which the ingest error-routing
    * queries treat as a routed failure, not an exception.
    */
  def aesFrameDecode(frame: Array[Byte], key: Array[Byte], iv: Array[Byte],
      maxLen: Int): Array[Byte] = {
    if (frame.length == 0 || frame.length % 16 != 0) return null
    val plain = aesCbcDecrypt(frame, key, iv)
    val len = ((plain(0) & 0xFF) << 8) | (plain(1) & 0xFF)
    if (len > maxLen || len > plain.length - 2) return null
    java.util.Arrays.copyOfRange(plain, 2, 2 + len)
  }

  // ------------------------------------------- planted-corpus synthesis

  private def md5Chain(prefix: String, id: Long, blocks: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Byte](blocks * 16)
    var i = 0
    while (i < blocks) {
      md.reset()
      val d = md.digest(s"$prefix$i|$id".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.arraycopy(d, 0, out, i * 16, 16)
      i += 1
    }
    out
  }

  /** Native synthesis of the scene-cut gate's planted Y4M payload —
    * byte-identical to the Column formula it replaces
    * (`PayloadReferences.scenePayloadColumns` in the tests, pinned
    * by PayloadParitySpec): per-frame constant luma = shot base
    * (40 + id%30 before the cut, 180 + id%40 after) + deterministic jitter
    * ((id·7 + f·13) % 9 − 4), chroma bytes from the "sc" md5 chain,
    * docs ≡ 0 (mod 4) single-shot, docs ≡ 6 (mod 11) truncated by one
    * byte. Moved into one static call because the 8-frame concat
    * expression tree generated a projection method past the JIT's
    * huge-method limit — measured ~3.6 ms/doc interpreted vs ~10 µs
    * native for identical bytes.
    */
  def sceneY4mPayload(docId: Long): Array[Byte] = {
    val w = (4 + (docId % 3) * 2).toInt
    val h = (2 + (docId % 2) * 2).toInt
    val nf = (4 + docId % 5).toInt
    val cutAt = if (docId % 4 == 0) nf else (2 + docId % 3).toInt
    val cs = (w / 2) * (h / 2) * 2
    val chain = md5Chain("sc", docId, 8)
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A0:0 C420\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val frameSz = 6 + w * h + cs
    val total = header.length + nf * frameSz
    val out = new Array[Byte](total)
    System.arraycopy(header, 0, out, 0, header.length)
    var pos = header.length
    var f = 0
    while (f < nf) {
      out(pos) = 'F'; out(pos + 1) = 'R'; out(pos + 2) = 'A'
      out(pos + 3) = 'M'; out(pos + 4) = 'E'; out(pos + 5) = '\n'
      pos += 6
      val base = if (f < cutAt) 40 + docId % 30 else 180 + docId % 40
      val yByte = (base + (docId * 7 + f * 13) % 9 - 4).toByte
      java.util.Arrays.fill(out, pos, pos + w * h, yByte)
      pos += w * h
      System.arraycopy(chain, cs * f, out, pos, cs)
      pos += cs
      f += 1
    }
    if (docId % 11 == 6) java.util.Arrays.copyOf(out, total - 1) else out
  }

  /** Native synthesis of the video-fingerprint gates' twin-planted
    * Y4M payload — byte-identical to the Column formula it replaces
    * (`PayloadReferences.vfpPayloadColumns` in the tests, pinned by
    * PayloadParitySpec): constant-luma frames whose per-frame byte is byte f of
    * the BASE doc's "vf" md5 chain (exact twins at id−8, retouched
    * twins at id−16 with frame 0 forced to 0xFF, short clips at
    * 20 frames, docs ≡ 4 (mod 9) truncated by one byte), chroma a
    * constant 0x80. Replaces the regexp_replace frame-template
    * expansion (a regex pass over up to 144 hex chars per doc plus
    * the hex↔binary round trip) with direct byte assembly.
    */
  def vfpY4mPayload(docId: Long): Array[Byte] = {
    val exact = docId % 7 == 3 && docId >= 8
    val pert = docId % 11 == 7 && docId >= 16 && !exact
    val base = if (exact) docId - 8 else if (pert) docId - 16 else docId
    val w = (4 + (docId % 3) * 2).toInt
    val h = (2 + (docId % 2) * 2).toInt
    val nf = (if (docId % 13 == 2) 20L else 65 + docId % 8).toInt
    val cs = (w / 2) * (h / 2) * 2
    val chain = md5Chain("vf", base, 5)
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A0:0 C420\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val frameSz = 6 + w * h + cs
    val total = header.length + nf * frameSz
    val out = new Array[Byte](total)
    System.arraycopy(header, 0, out, 0, header.length)
    var pos = header.length
    var f = 0
    while (f < nf) {
      out(pos) = 'F'; out(pos + 1) = 'R'; out(pos + 2) = 'A'
      out(pos + 3) = 'M'; out(pos + 4) = 'E'; out(pos + 5) = '\n'
      pos += 6
      val yByte = if (pert && f == 0) 0xFF.toByte else chain(f)
      java.util.Arrays.fill(out, pos, pos + w * h, yByte)
      pos += w * h
      java.util.Arrays.fill(out, pos, pos + cs, 0x80.toByte)
      pos += cs
      f += 1
    }
    if (docId % 9 == 4) java.util.Arrays.copyOf(out, total - 1) else out
  }

  /** The beacon DAG's planted TLV wire payload for (user_id, event_id):
    * seven ASCII survey fields (mac, uptime, process list, ipconfig
    * blob in one of three dialects, route table, socket table, next
    * beacon) plus an unknown type-99 field on `eid % 10 == 3`, in
    * `tlvEncode`'s framing. One writer fills a byte array sized
    * exactly up front: each field's 4-byte header is reserved, its
    * value written digit by digit, and the length backfilled. Every
    * numeric step is the reference formula's
    * (`PayloadReferences.beaconRawTlvColumns` in the tests): Java `%`
    * signs and Long wraparound, octets through the same double
    * division, `hex()`'s minimal uppercase digits (16 for a negative),
    * `lpad`'s left truncation and `%d` of the Int narrowing, so the
    * bytes equal the reference on the whole Long domain
    * (PayloadParitySpec: residue grids plus a random property).
    */
  def beaconRawTlv(uid: Long, eid: Long): Array[Byte] = {
    val ip = (eid * 2654435761L) % 4294967296L
    val gwIp = (uid * 16843009L + 167772161L) % 4294967296L
    val ipO = Array(beaconOctet(ip, 0), beaconOctet(ip, 1),
      beaconOctet(ip, 2), beaconOctet(ip, 3))
    val gwO = Array(beaconOctet(gwIp, 0), beaconOctet(gwIp, 1),
      beaconOctet(gwIp, 2), beaconOctet(gwIp, 3))
    val mac = uid * 131071 % 281474976710656L
    val uptime = uid * 37 % 864000
    val pid = (eid % 32768).toInt
    val uid1000 = (uid % 1000).toInt
    val uid100 = (uid % 100).toInt
    val eid100 = (eid % 100).toInt
    val pid1 = ((eid + 1) % 32768).toInt
    val next = eid % 86400
    val dialect = uid % 3
    val unknown = eid % 10 == 3

    val dotted = 3 + decLen(ipO(0)) + decLen(ipO(1)) + decLen(ipO(2)) + decLen(ipO(3))
    val procLen = BProcA.length + BProcB.length + 5 + decLen(pid) + decLen(uid1000) +
      2 * (decLen(uid100) + decLen(eid100)) + decLen(pid1) + decLen(pid)
    val ipconfigLen = 17 + dotted + (
      if (dialect == 0) BLinuxA.length + BLinuxB.length + BLinuxC.length
      else if (dialect == 1) BSolarisA.length + BSolarisB.length
      else BMikrotikA.length + BMikrotikB.length + BMikrotikC.length)
    val values = 17 + decLen(uptime) + procLen + ipconfigLen +
      BRouteHead.length + 17 + BRouteTail.length + // two 8-digit addresses
      BAnHead.length + 36 + // two 13-char addr:port, three hex bytes
      decLen(next) + (if (unknown) 2 else 0)
    val w = new AsciiTlvWriter(values + 4 * (if (unknown) 8 else 7) + 4)

    def hexByte(v: Long): Unit = w.hex(v, 2, HexUpper)
    def hexAddr(o: Array[Long], port: Long): Unit = {
      hexByte(o(0)); hexByte(o(1)); hexByte(o(2)); hexByte(o(3))
      w.put(':'); w.hex(port, 4, HexUpper)
    }
    def dottedIp(): Unit = {
      w.dec(ipO(3)); w.put('.'); w.dec(ipO(2)); w.put('.')
      w.dec(ipO(1)); w.put('.'); w.dec(ipO(0))
    }

    w.open(1); w.mac(mac, '-', HexLower); w.close()
    w.open(2); w.dec(uptime); w.close()
    w.open(3)
    w.dec(pid); w.str(BProcA); w.dec(uid1000); w.put(' '); w.dec(uid100)
    w.put(' '); w.dec(eid100); w.put('\n')
    w.dec(pid1); w.str(BProcB); w.dec(pid); w.put(' '); w.dec(uid100)
    w.put(' '); w.dec(eid100)
    w.close()
    w.open(4)
    if (dialect == 0) {
      w.str(BLinuxA); w.mac(mac, ':', HexUpper); w.str(BLinuxB); dottedIp(); w.str(BLinuxC)
    } else if (dialect == 1) {
      w.str(BSolarisA); dottedIp(); w.str(BSolarisB); w.mac(mac, ':', HexLower)
    } else {
      w.str(BMikrotikA); w.mac(mac, ':', HexUpper); w.str(BMikrotikB); dottedIp()
      w.str(BMikrotikC)
    }
    w.close()
    w.open(5)
    w.str(BRouteHead)
    hexByte(ipO(0)); hexByte(ipO(1)); hexByte(ipO(2)); hexByte(ipO(3)); w.put(' ')
    hexByte(gwO(0)); hexByte(gwO(1)); hexByte(gwO(2)); hexByte(gwO(3))
    w.str(BRouteTail)
    w.close()
    w.open(6)
    w.str(BAnHead); hexAddr(ipO, uid % 65536); w.put(' '); hexAddr(gwO, 443L)
    w.put(' '); hexByte((eid % 11 + 1).toInt.toLong); w.put(' ')
    hexByte(eid % 256); w.put(':'); hexByte(uid % 256)
    w.close()
    w.open(7); w.dec(next); w.close()
    if (unknown) { w.open(99); w.put('?'); w.put('?'); w.close() }
    w.buf
  }

  private val BProcA = ascii(" (beacond) S ")
  private val BProcB = ascii(" (survey) R ")
  private val BLinuxA = ascii("eth0      Link encap:Ethernet  HWaddr ")
  private val BLinuxB = ascii("\n          inet addr:")
  private val BLinuxC = ascii("  Mask:255.255.255.0")
  private val BSolarisA = ascii("e1000g0: flags=1000843<UP> mtu 1500\n\tinet ")
  private val BSolarisB = ascii(" netmask ffffff00\n\tether ")
  private val BMikrotikA = ascii("0 R name=\"ether1\" mac-address=")
  private val BMikrotikB = ascii(" address=")
  private val BMikrotikC = ascii("/24")
  private val BRouteHead = ascii("eth0 ")
  private val BRouteTail = ascii(" 0003 0 0 0 00FFFFFF 1500 0 0")
  private val BAnHead = ascii("  0: ")
  private val HexUpper = ascii("0123456789ABCDEF")
  private val HexLower = ascii("0123456789abcdef")
  private def ascii(s: String): Array[Byte] = s.getBytes(StandardCharsets.US_ASCII)

  /** `floor(v / 256^shift) % 256` through a double division, as the
    * reference's `cast("double")`/`pow` chain computes it. */
  private def beaconOctet(v: Long, shift: Int): Long =
    math.floor(v.toDouble / OctetDivisors(shift)).toLong % 256
  private val OctetDivisors = Array.tabulate(4)(s => math.pow(256, s).toLong)

  /** Characters of `v` in decimal, sign included. */
  private def decLen(v: Long): Int = {
    val x = if (v < 0) v else -v
    var n = 1
    var p = -10L
    while (n < 19 && x <= p) { n += 1; p *= 10 }
    if (v < 0) n + 1 else n
  }

  /** ASCII writer over one byte array of the payload's exact size; the
    * four zero bytes of the TLV terminator are the array's tail. */
  private final class AsciiTlvWriter(size: Int) {
    val buf = new Array[Byte](size)
    private var pos = 0
    private var valueAt = 0

    /** Writes the type and reserves the length of a new field. */
    def open(t: Int): Unit = {
      buf(pos) = (t >>> 8).toByte; buf(pos + 1) = t.toByte
      pos += 4; valueAt = pos
    }

    /** Backfills the open field's length. */
    def close(): Unit = {
      val n = pos - valueAt
      buf(valueAt - 2) = (n >>> 8).toByte; buf(valueAt - 1) = n.toByte
    }

    def put(c: Char): Unit = { buf(pos) = c.toByte; pos += 1 }

    def str(s: Array[Byte]): Unit = {
      System.arraycopy(s, 0, buf, pos, s.length)
      pos += s.length
    }

    /** `String.valueOf(v)`; digits come off a non-positive copy so
      * Long.MinValue needs no special case. */
    def dec(v: Long): Unit = {
      val n = decLen(v)
      var x = v
      if (x < 0) buf(pos) = '-'.toByte else x = -x
      var i = pos + n
      while ({ i -= 1; buf(i) = ('0' - x % 10).toByte; x /= 10; x != 0 }) ()
      pos += n
    }

    /** `lpad(hex(v), n, "0")`: the minimal hex digits of `v` (16 for a
      * negative), zero-padded on the left to `n`, or cut to their
      * leftmost `n` when longer. */
    def hex(v: Long, n: Int, digits: Array[Byte]): Unit = {
      val nd = math.max(1, (67 - java.lang.Long.numberOfLeadingZeros(v)) / 4)
      val pad = math.max(0, n - nd)
      var i = 0
      while (i < n) {
        buf(pos + i) =
          if (i < pad) '0'.toByte
          else digits(((v >>> (4 * (nd - 1 - (i - pad)))) & 0xF).toInt)
        i += 1
      }
      pos += n
    }

    /** The 12-digit `lpad(hex(v), 12, "0")` as six pairs joined by
      * `sep`. */
    def mac(v: Long, sep: Char, digits: Array[Byte]): Unit = {
      val at = pos
      hex(v, 12, digits)
      var i = 5
      while (i > 0) {
        buf(at + 3 * i + 1) = buf(at + 2 * i + 1); buf(at + 3 * i) = buf(at + 2 * i)
        buf(at + 3 * i - 1) = sep.toByte
        i -= 1
      }
      pos = at + 17
    }
  }
}
