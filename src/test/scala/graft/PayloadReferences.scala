package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.{CodecExpressions => CE}

/** The Column formulations the native payload expressions replaced,
  * kept as PayloadParitySpec's references: `scene_y4m_payload`,
  * `vfp_y4m_payload` and `beacon_raw_tlv` must equal them byte for
  * byte. The Column trees generated projection methods past the JIT's
  * huge-method limit (~3.6 ms/doc interpreted for the scene payload),
  * which is why the query paths call the native expressions.
  */
object PayloadReferences {

  /** `scene_y4m_payload` (see `graft.operators.Multimodal.scenePayload`). */
  def scenePayloadColumns(did: Column): Column = {
    val w = (lit(4) + (did % 3) * 2).cast("int")
    val h = (lit(2) + (did % 2) * 2).cast("int")
    val nf = (lit(4) + did % 5).cast("int")
    val cutAt = when(did % 4 === 0, nf).otherwise((lit(2) + did % 3).cast("int"))
    val cs = (w / 2) * (h / 2) * 2
    val chain = concat((0 until 8).map(i =>
      md5(concat(lit(s"sc$i|"), did.cast("string")).cast("binary"))): _*)
    val header = concat(lit("YUV4MPEG2 W"), w.cast("string"),
      lit(" H"), h.cast("string"), lit(" F25:1 Ip A0:0 C420\n")).cast("binary")
    val frameSegs = (0 until 8).map { f =>
      val byteF = when(lit(f) < cutAt, lit(40) + did % 30)
        .otherwise(lit(180) + did % 40) + (did * 7 + f * 13) % 9 - 4
      val hx = lpad(lower(hex(byteF.cast("bigint"))), 2, "0")
      // repeat to the max raster (8·4 px) then cut to w·h — one hx
      // evaluation per frame, not one per raster element
      val yHex = substr(repeat(hx, 32), lit(1), w * h * lit(2))
      when(lit(f) < nf,
        concat(lit("FRAME\n").cast("binary"),
          unhex(yHex),
          unhex(substr(chain, cs * lit(2) * f + 1, cs * 2))))
        .otherwise(lit(Array.emptyByteArray))
    }
    val full = concat(header +: frameSegs: _*)
    when(did % 11 === 6,
      substr(full, lit(1), octet_length(full) - 1)).otherwise(full)
  }

  /** `vfp_y4m_payload` (see `graft.operators.Multimodal.vfpPayload`). */
  def vfpPayloadColumns(did: Column): Column = {
    val exact = did % 7 === 3 && did >= 8
    val pert = did % 11 === 7 && did >= 16 && !exact
    val base = when(exact, did - 8).when(pert, did - 16).otherwise(did)
    val w = (lit(4) + (did % 3) * 2).cast("int")   // 4, 6, 8 — even
    val h = (lit(2) + (did % 2) * 2).cast("int")   // 2, 4 — even
    val nf = when(did % 13 === 2, 20)
      .otherwise(lit(65) + did % 8).cast("int")
    val cs = (w / 2) * (h / 2) * 2
    val chain = concat((0 until 5).map(i =>
      md5(concat(lit(s"vf$i|"), base.cast("string")).cast("binary"))): _*)
    // per-frame luma bytes as one hex string (2 chars per frame)
    val lums = when(pert, concat(lit("ff"), substr(chain, lit(3), nf * 2 - 2)))
      .otherwise(substr(chain, lit(1), nf * 2))
    // ONE codegen'd regexp pass assembles every frame: each 2-char
    // luma group expands to FRAME\n (hex 4652414d450a) + the luma
    // byte repeated across the Y plane + the constant-0x80 chroma
    // block. The first cut of this payload was a 72-branch concat of
    // per-frame segments — it blew janino's method limit exactly as
    // DESIGN §2's codegen lesson warns (7 Failed-to-compile stages,
    // 24 MiB task binaries); the single-regexp shape keeps the whole
    // projection compiled and the expression tree ~25 nodes.
    val frameTpl = concat(lit("4652414d450a"), repeat(lit("$1"), w * h),
      repeat(lit("80"), cs))
    val header = concat(lit("YUV4MPEG2 W"), w.cast("string"),
      lit(" H"), h.cast("string"), lit(" F25:1 Ip A0:0 C420\n")).cast("binary")
    val full = concat(header,
      unhex(regexp_replace(lums, lit("(..)"), frameTpl)))
    when(did % 9 === 4,
      substr(full, lit(1), octet_length(full) - 1)).otherwise(full)
  }

  /** `beacon_raw_tlv` (see `graft.plans.BeaconPipeline.syntheticBeacons`). */
  def beaconRawTlvColumns(uid: Column, eid: Column): Column = {
    val ip = (eid * 2654435761L) % 4294967296L
    val gwIp = (uid * 16843009L + 167772161L) % 4294967296L
    val macHex = lpad(hex(uid * 131071 % 281474976710656L), 12, "0")
    val mac = lower(concat_ws("-", (0 until 6).map(i => substring(macHex, 1 + 2 * i, 2)): _*))
    val dialect = when(uid % 3 === 0, "linux").when(uid % 3 === 1, "solaris").otherwise("mikrotik")

    val procBlob = concat(
      format_string("%d (beacond) S %d %d %d", (eid % 32768).cast("int"),
        (uid % 1000).cast("int"), (uid % 100).cast("int"), (eid % 100).cast("int")),
      lit("\n"),
      format_string("%d (survey) R %d %d %d", ((eid + 1) % 32768).cast("int"),
        (eid % 32768).cast("int"), (uid % 100).cast("int"), (eid % 100).cast("int")))

    val netstatAn = concat(
      lit("  0: "), hexAddr(ip, uid % 65536), lit(" "), hexAddr(gwIp, lit(443)),
      lit(" "), hexByte((eid % 11 + 1).cast("int")), lit(" "),
      hexByte(eid % 256), lit(":"), hexByte(uid % 256))

    val netstatRn = concat(
      lit("eth0 "), hexByte(octet(ip, 0)), hexByte(octet(ip, 1)), hexByte(octet(ip, 2)),
      hexByte(octet(ip, 3)), lit(" "),
      hexByte(octet(gwIp, 0)), hexByte(octet(gwIp, 1)), hexByte(octet(gwIp, 2)),
      hexByte(octet(gwIp, 3)),
      lit(" 0003 0 0 0 00FFFFFF 1500 0 0"))

    val ipconfig = when(dialect === "linux", concat(
        lit("eth0      Link encap:Ethernet  HWaddr "), upper(translate(mac, "-", ":")),
        lit("\n          inet addr:"), dottedIp(ip), lit("  Mask:255.255.255.0")))
      .when(dialect === "solaris", concat(
        lit("e1000g0: flags=1000843<UP> mtu 1500\n\tinet "), dottedIp(ip),
        lit(" netmask ffffff00\n\tether "), translate(mac, "-", ":")))
      .otherwise(concat(
        lit("0 R name=\"ether1\" mac-address="), upper(translate(mac, "-", ":")),
        lit(" address="), dottedIp(ip), lit("/24")))

    val knownTlv = array(
      struct(lit(1).as("type"), mac.cast("binary").as("value")),
      struct(lit(2).as("type"), (uid * 37 % 864000).cast("string").cast("binary").as("value")),
      struct(lit(3).as("type"), procBlob.cast("binary").as("value")),
      struct(lit(4).as("type"), ipconfig.cast("binary").as("value")),
      struct(lit(5).as("type"), netstatRn.cast("binary").as("value")),
      struct(lit(6).as("type"), netstatAn.cast("binary").as("value")),
      struct(lit(7).as("type"), (eid % 86400).cast("string").cast("binary").as("value")))
    val withUnknown = concat(knownTlv,
      array(struct(lit(99).as("type"), lit("??").cast("binary").as("value"))))

    CE.tlv_encode(when(eid % 10 === 3, withUnknown).otherwise(knownTlv))
  }

  private def dottedIp(ip: Column): Column =
    concat_ws(".", octet(ip, 3), octet(ip, 2), octet(ip, 1), octet(ip, 0))

  private def octet(ip: Column, shift: Int): Column =
    floor(ip.cast("double") / math.pow(256, shift).toLong).cast("bigint") % 256

  private def hexByte(c: Column): Column = lpad(hex(c), 2, "0")

  /** /proc/net-style little-endian hex addr "0100007F:1F90". */
  private def hexAddr(ip: Column, port: Column): Column =
    concat(hexByte(octet(ip, 0)), hexByte(octet(ip, 1)),
      hexByte(octet(ip, 2)), hexByte(octet(ip, 3)),
      lit(":"), lpad(hex(port), 4, "0"))
}
