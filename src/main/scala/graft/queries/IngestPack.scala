package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Dims
import graft.functions.{CodecExpressions => CE}

/** Reference-semantics ingest operators (SURVEY §2.2/2.3/2.4/2.8,
  * honeycomb pipeline §3.3), expressed over deterministic derivations
  * of the driver's `events` table so each stays DuckDB-oracle-checkable:
  * IPv4 int⇄dotted, hex formatting, MAC canonicalization, route-flag
  * bitmask decode, OS / TCP-state dimension decodes with
  * unknown-fallback, static IP remap, longest-prefix gateway matching
  * (/32→/8 precedence, first-wins), validation routing, and /proc-style
  * text synth + re-parse. The TLV beacon round-trip is engine-native
  * (rows-only in the gate; equality asserted in IngestSpec).
  */
object IngestPack {

  type Q = (SparkSession, String) => DataFrame

  /** Derived deterministic IPv4 (Knuth multiplicative hash of the id,
    * exact in BIGINT on both engines).
    */
  private def ipOf(c: Column): Column = (c * 2654435761L) % 4294967296L
  private val IpOfSql = "((%s * 2654435761) %% 4294967296)"

  private def octet(ip: Column, shift: Int): Column =
    floor(ip.cast("double") / math.pow(256, shift).toLong).cast("bigint") % 256

  /** int → dotted quad, pure integer arithmetic. */
  private def dotted(ip: Column): Column =
    concat_ws(".", octet(ip, 3), octet(ip, 2), octet(ip, 1), octet(ip, 0))
  private def dottedSql(ip: String): String =
    s"concat_ws('.', ($ip // 16777216) % 256, ($ip // 65536) % 256, ($ip // 256) % 256, $ip % 256)"

  // ---------------------------------------------------------- formatting

  /** IPv4 int ⇄ dotted-quad (`netstat_rn.c:118-124`, `decode_dns.c:87-92`). */
  val ipv4Format: Q = (s, d) =>
    Tables.events(s, d)
      .filter(col("event_id") < 300)
      .select(col("event_id"), ipOf(col("event_id")).as("ip"))
      .withColumn("dotted", dotted(col("ip")))
      .orderBy("event_id")

  /** Fixed-width uppercase hex of a port, with an engine-side
    * parse-back tautology (`netstat_an.c:303-311` hex addr:port).
    */
  val hexFormat: Q = (s, d) =>
    Tables.events(s, d)
      .filter(col("event_id") < 300)
      .select(col("event_id"), (col("user_id") % 65536).as("port"))
      .withColumn("hexport", lpad(hex(col("port")), 4, "0"))
      // conv() round-trip must hold; keeps the parse path exercised
      .filter(conv(col("hexport"), 16, 10).cast("bigint") === col("port"))
      .orderBy("event_id")

  /** MAC canonicalization via the engine's mac_format expression,
    * oracle-matched by an independent SQL construction
    * (`beacon.c:657-666`).
    */
  val macFormat: Q = (s, d) =>
    Tables.events(s, d)
      .filter(col("event_id") < 300)
      .select(col("event_id"),
        CE.mac_format(unhex(lpad(hex(col("user_id") * 131071 % 281474976710656L), 12, "0")))
          .as("mac"))
      .orderBy("event_id")

  /** Route-flag bitmask → letters (U/G/H/D/M, `netstat_rn.c:129-158`). */
  val flagsDecode: Q = (s, d) => {
    val f = col("user_id") % 32
    def bit(mask: Int, letter: String): Column =
      when(f.bitwiseAND(lit(mask)) =!= 0, letter).otherwise("")
    Tables.events(s, d)
      .filter(col("event_id") < 300)
      .select(col("event_id"),
        concat(bit(1, "U"), bit(2, "G"), bit(4, "H"), bit(8, "D"), bit(16, "M")).as("flags"))
      .orderBy("event_id")
  }

  // ----------------------------------------------------- dimension joins

  /** OS-code decode incl. legacy codes, unknown fallback
    * (`honeycomb.py:252-286`); aggregated by decoded name.
    */
  val osDecode: Q = (s, d) =>
    Tables.events(s, d)
      .select((col("user_id") % 70).cast("int").as("os_code"))
      .join(broadcast(Dims.osCodesDf(s)), Seq("os_code"), "left")
      .groupBy(coalesce(col("os_name"), lit("Unknown")).as("os_name"))
      .agg(count(lit(1)).as("n"))
      .orderBy("os_name")

  /** TCP-state decode (`netstat_an.c:348-389`). */
  val tcpStateDecode: Q = (s, d) =>
    Tables.events(s, d)
      .filter(col("event_id") < 300)
      .select(col("event_id"), (col("event_id") % 13).cast("int").as("state_code"))
      .join(broadcast(Dims.tcpStatesDf(s)), Seq("state_code"), "left")
      .select(col("event_id"), col("state_code"),
        coalesce(col("state_name"), lit("UNKNOWN")).as("state_name"))
      .orderBy("event_id")

  /** Static internal→public IP remap, identity on miss
    * (`processRSI.py:364-385`).
    */
  val ipRemap: Q = (s, d) => {
    val internal = concat(lit("10.1.1."), (col("event_id") % 15 + 1))
    Tables.events(s, d)
      .filter(col("event_id") < 300)
      .select(col("event_id"), internal.as("internal_ip"))
      .join(broadcast(Dims.ipRemapDf(s)), Seq("internal_ip"), "left")
      .select(col("event_id"),
        coalesce(col("public_ip"), col("internal_ip")).as("resolved_ip"))
      .orderBy("event_id")
  }

  // ------------------------------------------------- longest-prefix match

  /** Gateway ↔ interface longest-prefix match with /32→/24→/16→/8
    * precedence and first-wins tie-break (`processRSI.py:291-314`) —
    * the reference's only non-equi join, realized as a rank join +
    * ROW_NUMBER()=1.
    */
  val prefixMatch: Q = (s, d) => {
    val iface = Tables.events(s, d).filter(col("event_id") < 2000)
      .select(col("user_id"), col("event_id"), ipOf(col("event_id")).as("ip"))
      .withColumn("dotted", dotted(col("ip")))
    // gateway table built from an independent scan (self-join lineage
    // would trip DetectAmbiguousSelfJoin)
    val gw = Tables.events(s, d).filter(col("event_id") < 2000)
      .groupBy("user_id").agg(min(col("event_id")).as("gid"))
      .withColumn("gip", ipOf(col("gid") * 7))
      .withColumn("gdotted", dotted(col("gip")))
      .select("user_id", "gdotted")
    // dotted strings joined on octet prefixes; rank 1 = /32 … 4 = /8
    val joined = iface.join(gw, "user_id")
      .withColumn("rank",
        when(col("dotted") === col("gdotted"), 1)
          .when(pfxStr(col("dotted"), 3) === pfxStr(col("gdotted"), 3), 2)
          .when(pfxStr(col("dotted"), 2) === pfxStr(col("gdotted"), 2), 3)
          .when(pfxStr(col("dotted"), 1) === pfxStr(col("gdotted"), 1), 4))
      .filter(col("rank").isNotNull)
    val w = Window.partitionBy("user_id").orderBy("rank", "event_id")
    joined.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("rank"))
      .orderBy("user_id")
  }

  /** First n octets of a dotted string. */
  private def pfxStr(dotted: Column, n: Int): Column =
    concat_ws(".", slice(split(dotted, "\\."), 1, n))

  // --------------------------------------------------- validation routing

  /** Good/bad record routing on the reference's validation predicates
    * (port ∈ [1,65535], key length ≥ 8, jitter ∈ [0,30] —
    * `client/main.c:141-147`, `trigger_payload.h:21`,
    * `server/main.c:236-242`); counts per route.
    */
  val validationRoute: Q = (s, d) => {
    val port = col("user_id") % 70000
    val keyLen = col("event_id") % 24
    val jitter = col("value") % 40
    Tables.events(s, d)
      .select(
        when(port < 1 || port > 65535, "bad_port")
          .when(keyLen < 8, "bad_key")
          .when(jitter < 0 || jitter > 30, "bad_jitter")
          .otherwise("good").as("route"))
      .groupBy("route").agg(count(lit(1)).as("n"))
      .orderBy("route")
  }

  // ------------------------------------------- /proc text synth + re-parse

  /** Synthesize a `/proc/<pid>/stat`-format line per record and parse
    * it back into typed columns (`process_list.c:182-227`): the text
    * scan path of §2.1, exercised end-to-end in SQL on both engines.
    */
  val procParse: Q = (s, d) => {
    val line = format_string("%d (%s) %s %d %d %d",
      col("event_id").cast("int"), col("event_type"), lit("S"),
      (col("user_id") % 32768).cast("int"), (col("user_id") % 100).cast("int"),
      (col("event_id") % 100).cast("int"))
    val re = "^(\\d+) \\((.*)\\) (\\S+) (\\d+) (\\d+) (\\d+)$"
    Tables.events(s, d)
      .filter(col("event_id") < 300)
      .select(col("event_id"), line.as("line"))
      .select(col("event_id"),
        regexp_extract(col("line"), re, 1).cast("bigint").as("pid"),
        regexp_extract(col("line"), re, 2).as("command"),
        regexp_extract(col("line"), re, 3).as("state"),
        regexp_extract(col("line"), re, 4).cast("bigint").as("ppid"),
        regexp_extract(col("line"), re, 5).cast("bigint").as("pgrp"),
        regexp_extract(col("line"), re, 6).cast("bigint").as("sess"))
      .orderBy("event_id")
  }

  /** Per-OS uptime-source extraction, all three reference dialects in
    * one pass (`survey_uptime.c` — see [[graft.operators.Surveys.uptimeOf]]):
    * synthesize a deterministic `/proc/uptime` text (linux), a utmpx
    * accounting dump with a decoy boot record so LAST-wins is pinned
    * (solaris, plus rare no-boot-record and unreadable slices), or no
    * source at all (mikrotik), then extract uptime per the dialect
    * rule and surface the error channels.
    */
  val uptimeDialects: Q = (s, d) => {
    val uid = col("user_id"); val eid = col("event_id")
    val dialect = when(uid % 3 === 0, "linux")
      .when(uid % 3 === 1, "solaris").otherwise("mikrotik")
    val now = lit(1700000000L) + eid % 86400
    val up = uid * 37 % 864000 + eid % 1000
    val linuxBlob = when(eid % 17 === 9, "")
      .otherwise(format_string("%d.%02d %d.%02d", up.cast("int"),
        (eid % 100).cast("int"), (up * 3).cast("int"), (uid % 100).cast("int")))
    val boot1 = lit(1700000000L) - (uid % 97) * 1000
    val boot2 = lit(1700000000L) - up
    val solarisBlob = concat(
      lit("run-level 3|"), boot1.cast("string"),
      lit("\nLOGIN|"), (boot1 + 2).cast("string"),
      when(eid % 17 === 9, "")
        .otherwise(concat(lit("\nsystem boot|"), boot1.cast("string"))),
      when(eid % 13 === 4, "")
        .otherwise(concat(lit("\nsystem boot|"), boot2.cast("string"))))
    val blob = when(dialect === "linux", linuxBlob)
      .when(dialect === "solaris", solarisBlob)
      .otherwise(lit(null).cast("string"))
    val r = graft.operators.Surveys.uptimeOf(dialect, blob, now)
    Tables.events(s, d).filter(eid < 2000)
      .select(eid.as("event_id"), dialect.as("dialect"), r.as("r"))
      .select(col("event_id"), col("dialect"),
        col("r.uptime_s").as("uptime_s"),
        col("r.src_ok").as("src_ok"),
        col("r.boot_found").as("boot_found"))
      .orderBy("event_id")
  }

  /** Patcher key-log append (`client/patcher.c:231-302`): every
    * accepted patch run appends a `(datetime, key text, trigger hash,
    * implant hash)` record to ID-keys.txt — keys shorter than
    * ID_KEY_LENGTH_MIN = 8 (`trigger_protocols.h:44`) are rejected
    * BEFORE the append, and the double-hash chain is
    * trigger = H(phrase), implant = H(trigger). Modeled with
    * [[graft.operators.Configs.ledger]]: history + new runs unioned,
    * per-key append sequence, chain head flagged current — the
    * audit-ledger twin of ig_config_upsert's last-wins. sha256
    * stands in for sha1 (the ig_key_gate precedent — DuckDB has no
    * sha1; chain semantics identical).
    */
  val keyLedger: Q = (s, d) => {
    val uid = col("user_id"); val eid = col("event_id")
    val phrase = when(eid % 19 === 6,
        concat(lit("k"), (uid % 10).cast("string")))
      .otherwise(format_string("phrase-%02d-%d",
        (uid % 40).cast("int"), (eid % 3).cast("int")))
    val runs = Tables.events(s, d).filter(eid < 2000)
      .select(eid.as("run_id"), col("ts"), phrase.as("key_text"))
      .filter(length(col("key_text")) >= 8)
      .select(col("run_id"), col("key_text"),
        date_format(col("ts"), "yyyy/MM/dd HH:mm:ss").as("ts_fmt"),
        sha2(col("key_text"), 256).as("trigger_key"), col("ts"))
      .withColumn("implant_key", sha2(col("trigger_key"), 256))
    val hist = runs.filter(col("run_id") < 1000)
    val fresh = runs.filter(col("run_id") >= 1000)
    graft.operators.Configs.ledger(hist, fresh, "key_text", "ts", "run_id")
      .drop("ts")
      .orderBy("run_id")
  }

  // -------------------------------------------------- TLV beacon roundtrip

  /** Engine-native beacon assembly: per record, TLV-encode
    * (mac, uptime, next-beacon) fields, decode back, and surface the
    * re-extracted values (equality with the inputs is asserted in
    * IngestSpec; the driver gate records rows). Mirrors
    * `beacon.c:384-446` / `honeycomb.py:216-249`.
    */
  val tlvRoundtrip: Q = (s, d) => {
    val mac = CE.mac_format(unhex(lpad(hex(col("user_id") * 131071 % 281474976710656L), 12, "0")))
    val blob = CE.tlv_encode(array(
      struct(lit(1).as("type"), mac.cast("binary").as("value")),
      struct(lit(2).as("type"), col("user_id").cast("string").cast("binary").as("value")),
      struct(lit(7).as("type"), (col("event_id") % 86400).cast("string").cast("binary").as("value"))))
    Tables.events(s, d)
      .filter(col("event_id") < 300)
      .select(col("event_id"), CE.tlv_decode(blob).as("fields"))
      .select(col("event_id"),
        element_at(col("fields"), 1).getField("value").cast("string").as("mac"),
        element_at(col("fields"), 2).getField("value").cast("string").cast("bigint").as("uptime"),
        element_at(col("fields"), 3).getField("value").cast("string").cast("bigint").as("next_beacon"))
      .orderBy("event_id")
  }

  /** AES-CBC session-frame roundtrip (§2.2, `crypto.c:205-384`): a
    * deterministic ASCII payload per document is framed — 2-byte BE
    * length prefix, zero pad to a 16-byte multiple, AES-256-CBC under
    * a fixed session key with iv = md5(key) (`crypto.c:146`) — and
    * re-extracted. The oracle recomputes the payload length and the
    * frame-size arithmetic directly and states the three validation
    * verdicts as literal TRUE; engine-side, `rt_ok` compares
    * decode(encode(p)) with p byte-for-byte and the two reject
    * columns drive the read side's error paths (embedded len > cap,
    * `crypto.c:363-369`; frame not a 16-multiple, `:349-352`), so a
    * framing, padding, or validation bug flips a boolean or the
    * frame-size column and breaks the hash.
    */
  val aesFrame: Q = (s, d) => {
    val key = unhex(lit(
      "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"))
    val pay = concat(lit("frame "), col("doc_id").cast("string"), lit(":"),
      expr("repeat('ab', CAST(doc_id % 40 AS INT))")).cast("binary")
    Tables.documents(s, d)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), pay.as("pay"))
      .select(col("doc_id"), col("pay"),
        octet_length(col("pay")).cast("bigint").as("n"),
        CE.aes_frame_encode(col("pay"), key).as("frame"))
      .select(col("doc_id"), col("n"),
        octet_length(col("frame")).cast("bigint").as("frame_len"),
        (CE.aes_frame_decode(col("frame"), key, col("n").cast("int"))
          === col("pay")).as("rt_ok"),
        CE.aes_frame_decode(col("frame"), key, (col("n") - 1).cast("int"))
          .isNull.as("reject_cap"),
        CE.aes_frame_decode(
          expr("substring(frame, 1, CAST(octet_length(frame) AS INT) - 1)"),
          key, lit(65535)).isNull.as("reject_align"))
      .orderBy("doc_id")
  }

  /** XTEA under the driver oracle (§2.2, `server/beacon.c:620-653`):
    * variable-length payloads (1–3 blocks exercising the zero-padded
    * tail) encrypted with the engine expression, the ciphertext hex
    * REPLAYED in DuckDB — 32 Feistel rounds as a 64-half-step
    * list_reduce over (v0, v1, sum) in mod-2³² BIGINT arithmetic, the
    * byte→word marshalling over hex pairs. This moves the last
    * non-AES codec from golden-only to oracle-checked (the same fall
    * crc16 took in round 9). Engine-side rt_ok/len_ok pin the decrypt
    * inverse and the block arithmetic.
    */
  val xteaRoundtrip: Q = (s, d) => {
    val key = unhex(lit("000102030405060708090a0b0c0d0e0f"))
    val msg = concat(lit("xt"), col("event_id").cast("string"), lit(":"),
      expr("repeat('q', CAST(event_id % 9 AS INT))")).cast("binary")
    Tables.events(s, d).filter(col("event_id") < 300)
      .select(col("event_id"), msg.as("m"), CE.xtea_encrypt(msg, key).as("c"))
      .select(col("event_id"),
        octet_length(col("m")).cast("bigint").as("n"),
        lower(hex(col("c"))).as("cipher"),
        (octet_length(col("c")) ===
          (octet_length(col("m")) + 7) - pmod(octet_length(col("m")) + 7, lit(8)))
          .as("len_ok"),
        (substr(CE.xtea_decrypt(col("c"), key), lit(1), octet_length(col("m")))
          === col("m")).as("rt_ok"))
      .orderBy("event_id")
  }

  /** The XOR codec family under the oracle (§2.2): seed-XOR
    * (`client/trigger_protocols.c:213-227` — byte0 the seed, 0
    * promoted to 0xFF), the promotion path itself (a 0x00-prefixed
    * twin payload), sliding-key XOR
    * (`trigger_protocols.c:889-897` — cyclic key from a per-record
    * offset), and the bitwise-NOT string scramble
    * (`common/strings/string_utils.c:16-24` ≡ XOR 0xFF, replayed
    * through the same expression). The oracle recomputes every output
    * byte over the payload's hex pairs.
    */
  val xorCodecs: Q = (s, d) => {
    val p = concat(lit("px"), col("event_id").cast("string"), lit("/"),
      col("event_type")).cast("binary")
    val p0 = concat(unhex(lit("00")), p)
    val skey = unhex(lit("0badc0de42"))
    val off = (col("event_id") % 5).cast("int")
    Tables.events(s, d).filter(col("event_id") < 300)
      .select(col("event_id"),
        lower(hex(CE.seed_xor(p))).as("seed_hex"),
        lower(hex(CE.seed_xor(p0))).as("seed0_hex"),
        lower(hex(CE.sliding_xor(p, skey, off))).as("slide_hex"),
        lower(hex(CE.sliding_xor(p, unhex(lit("ff")), lit(0)))).as("not_hex"))
      .orderBy("event_id")
  }

  /** Chunk + reassembly under the oracle (§2.1's TCP beacon sink /
    * listener pair, `server/beacon.c:553-588` chunk loop,
    * `honeycomb.py:413-445` reassembly): per record a variable-length
    * payload is split into 7-byte chunks (2–6 per record on this
    * corpus — every stream multi-chunk, every third chunk offset
    * covered by the duplication), every third chunk is DUPLICATED
    * (the at-least-once retransmit), and
    * [[graft.operators.Reassembly.reassemble]] must dedup, reorder
    * and concatenate back. The oracle recomputes the recovered text
    * and the chunk arithmetic directly, so the dedup-sort-concat fold
    * and its contiguity accounting are value-checked.
    */
  val chunkReassembly: Q = (s, d) => {
    import graft.operators.Reassembly
    val payload = concat(lit("rs"), col("event_id").cast("string"), lit("|"),
      expr("repeat('ab', CAST(event_id % 13 AS INT))"), col("event_type"))
    val blobs = Tables.events(s, d).filter(col("event_id") < 300)
      .select(col("event_id").cast("string").as("stream_id"),
        payload.cast("binary").as("orig"))
    val chunks = Reassembly.chunk(
      blobs.withColumnRenamed("orig", "blob"), chunkSize = 7)
    val withDups = Reassembly.withRetransmits(chunks, chunkSize = 7)
    Reassembly.reassemble(withDups)
      .join(blobs, "stream_id")
      .select(col("stream_id").cast("bigint").as("event_id"),
        col("blob").cast("string").as("recovered"),
        col("n_chunks"), col("total_bytes"), col("contiguous"),
        (col("blob") === col("orig")).as("rt_ok"))
      .orderBy("event_id")
  }

  // ------------------------------------------------ trigger scheduling

  /** Delayed trigger with variance (§2.9, `trigger_listen.c:79-98`):
    * delay + deterministic variance in [-30, 30], clamped to the
    * 1-second minimum, scheduled per implant.
    */
  val triggerDelay: Q = (s, d) =>
    graft.operators.Triggers.scheduleActions(
      Tables.events(s, d)
        .filter(col("event_id") < 2000)
        .select(col("event_id"), col("user_id"), col("ts"),
          (col("user_id") % 120).as("delay_s")),
      idCol = "event_id", implantCol = "user_id",
      tsCol = "ts", delayCol = "delay_s")
      .select(col("event_id"), col("delay_s"), col("variance"),
        col("calc_delay"), col("action_us"), col("fire_order"))
      .orderBy("event_id")

  /** Fork-per-trigger (§2.9, `trigger_listen.c:243-253`): each
    * trigger's callback runs as its own task; one slice of callbacks
    * throws in-task and must surface as `fork_failed` without harming
    * the rest — the oracle recomputes both paths arithmetically.
    */
  val forkCallbacks: Q = (s, d) => {
    val cb = (id: Long) => {
      if (id % 13 == 0) throw new IllegalStateException(s"callback $id refused")
      graft.operators.Triggers.CallbackResult(id, "ok", (id % 7 + 1) * 512L)
    }
    graft.operators.Triggers.forkPerTrigger(
      s, Tables.events(s, d).filter(col("event_id") < 300), "event_id", cb)
      .toDF()
      .orderBy("trigger_id")
  }

  // ----------------------------------------------- BTHP proxy envelope

  /** BTHP framing-header strip (§3.3 front stage,
    * `honeycomb.py:138-183`): frame a payload per record with derived
    * proxy metadata, strip it back with the engine expression, and
    * surface the recovered fields — the oracle reconstructs the same
    * values from the derivations directly, so any parse drift
    * hash-fails.
    */
  val bthpStrip: Q = (s, d) => {
    val framed = CE.bthp_frame(
      col("event_type").cast("binary"),
      col("user_id") % 4294967296L,
      dotted(ipOf(col("event_id"))),
      dotted((col("user_id") * 2654435761L) % 4294967296L))
    Tables.events(s, d)
      .filter(col("event_id") < 300)
      .select(col("event_id"), CE.bthp_strip(framed).as("h"))
      .select(col("event_id"),
        col("h.proxy_id").as("proxy_id"),
        col("h.beacon_ip").as("beacon_ip"),
        col("h.dst_ip").as("dst_ip"),
        col("h.data_len").as("data_len"),
        col("h.payload").cast("string").as("payload_text"))
      .orderBy("event_id")
  }

  // -------------------------------------------------------- key gate

  /** Hashed-key-match semi-join (`trigger_listen.c:221-232`): a record
    * is accepted iff the double-hash of its key exists in the implant
    * key set. sha256 here (DuckDB has no sha1; the engine also ships
    * sha1 via Spark's builtin — semantics identical).
    */
  val keyGate: Q = (s, d) => {
    val keys = Tables.events(s, d)
      .filter(col("user_id") % 7 === 0)
      .select(sha2(sha2(concat(lit("key-"), col("user_id")), 256), 256).as("key_hash"))
      .distinct()
    Tables.events(s, d)
      .filter(col("event_id") < 2000)
      .withColumn("key_hash", sha2(sha2(concat(lit("key-"), col("user_id")), 256), 256))
      .join(broadcast(keys), Seq("key_hash"), "left_semi")
      .select("event_id")
      .orderBy("event_id")
  }

  // ---------------------------------------------------- RSI XML round-trip

  /** RSI-document semantics (`honeycomb.py:318-385` writes XML;
    * `processRSI.py:54-117` re-extracts): build the document per
    * record, then recover fields with xpath — the engine's
    * semi-structured path. Oracle recovers the same values with
    * regexp (DuckDB has no xpath); values are identical.
    */
  val rsiRoundtrip: Q = (s, d) => {
    val xml = concat(
      lit("<ToolHandlerFile><header><ID>"), col("event_id"),
      lit("</ID><byteCount>"), col("user_id"),
      lit("</byteCount></header><beacon><deviceStats>"), col("event_type"),
      lit("</deviceStats></beacon></ToolHandlerFile>"))
    Tables.events(s, d)
      .filter(col("event_id") < 300)
      .select(col("event_id"), xml.as("doc"))
      .select(col("event_id"),
        expr("xpath_string(doc, '/ToolHandlerFile/header/ID')").cast("bigint").as("rid"),
        expr("xpath_string(doc, '/ToolHandlerFile/header/byteCount')").cast("bigint").as("bytes"),
        expr("xpath_string(doc, '/ToolHandlerFile/beacon/deviceStats')").as("stats"))
      .orderBy("event_id")
  }

  // ------------------------------------------------------- session stats

  /** Command-session analytics (§1.1 #2): gap-sessionize (1h idle =
    * SESSION_TIMEOUT, client_session.h:12) and aggregate per session —
    * event count and exact byte totals, first/last timestamps as epoch
    * micros.
    */
  val sessionStats: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 3600L * 1000000, 1)
          .otherwise(0))
      .withColumn("session_no", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_no")
      .agg(count(lit(1)).as("n_cmds"),
        round(sum(col("value").cast("decimal(18,6)")), 2).cast("double").as("bytes"),
        unix_micros(min(col("ts"))).as("started"),
        unix_micros(max(col("ts"))).as("ended"))
      .orderBy("user_id", "session_no")
  }

  /** The day-sharded sessionizer over the same corpus — must be
    * row-identical to [[sessionStats]] (sharding is a pure execution
    * change: the hot key's event sort runs per (key, day) shard, the
    * boundary merge re-links cut sessions). Same oracle SQL verbatim.
    */
  val shardedSessions: Q = (s, d) =>
    graft.operators.Sessions.gapSessionsSharded(Tables.events(s, d))

  // ---------------------------------------------------- TTL tombstones

  /** TTL tombstones in batch — the self-delete semantics
    * (`server/self_delete.c:19-57`: silence past a deadline expires
    * the implant): per user, last activity + a 4 h TTL compared
    * against the corpus watermark (max ts − a 1 h watermark delay, the
    * horizon an event-time timer with that delay would time out
    * against). One tombstone per expired key with its last-seen epoch
    * micros. The watermark is a broadcast scalar subquery — one
    * aggregate row joined to the per-user aggregate, never a
    * driver-side collect.
    */
  val ttlTombstones: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val agg = ev.groupBy("user_id")
      .agg(max(unix_micros(col("ts"))).as("last_seen_us"))
    val wm = broadcast(ev.agg(
      (max(unix_micros(col("ts"))) - 3600L * 1000000L).as("wm_us")))
    agg.crossJoin(wm)
      .filter(col("last_seen_us") + lit(4L * 3600L * 1000000L) < col("wm_us"))
      .select(col("user_id"), col("last_seen_us"),
        lit("ttl_expired").as("reason"))
      .orderBy("user_id")
  }

  // ----------------------------------------------------- retention sweep

  /** The retention sink as a whole-lifecycle gate
    * ([[graft.plans.Retention]] — `cleanUp.py:11-57`'s per-directory
    * age-based delete at partition granularity): the event corpus is
    * landed day-partitioned, every partition older than the last 7
    * corpus days is PHYSICALLY deleted, and the survivors are
    * aggregated per day. The oracle is the same aggregate over the
    * raw table with a plain age filter — so the destructive sweep
    * must be exactly filter-equivalent: delete one partition too many
    * or too few and the hash breaks. The cutoff derives from the
    * corpus horizon (max day − 6), a 1-row driver collect. The
    * landing happens once per (scale dir, content fingerprint)
    * ([[graft.Shared.landOnce]]): re-running against an already-swept
    * landing is the production steady state, and both the sweep
    * (idempotent) and the surviving rows are deterministic either way.
    */
  val retentionSweep: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val root = graft.Shared.landOnce(s, d, "graft_retain") { p =>
      ev.withColumn("day", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("day").parquet(p)
    }
    val cut = ev.agg(date_sub(max(to_date(col("ts"))), 6)).head.getDate(0)
    graft.plans.Retention.sweep(s, root, "day", cut.toString)
    s.read.parquet(root)
      .groupBy(col("day").cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      .orderBy("day")
  }

  // --------------------------------------------- bucketed session join

  /** Beacon↔session analytics over the BUCKETED landing tables
    * (`BeaconPipeline.landBucketed` — honeycomb's archive layer wired
    * into the flagship DAG): per session, beacon count, count of
    * pre-compression wire versions, and exact bounds. Both tables are
    * bucketed by implant_id, so the join AND the aggregation read
    * co-partitioned buckets and plan with zero hash Exchange — the
    * landing pays sessionization's one shuffle once; every later query
    * like this one is shuffle-free (plan pinned by BucketedLayoutSpec).
    */
  val bucketedSessions: Q = (s, d) => {
    val (beaconsT, sessionsT) = graft.plans.BeaconPipeline.landBucketed(s, d)
    s.table(beaconsT).join(s.table(sessionsT), "implant_id")
      .filter(col("beacon_us").between(col("started"), col("ended")))
      .groupBy("implant_id", "session_no")
      .agg(count(lit(1)).as("n_beacons"),
        sum(when(col("version") === 22, 1L).otherwise(0L)).as("n_v22"),
        min(col("beacon_us")).as("started_us"),
        max(col("beacon_us")).as("ended_us"))
      .orderBy("implant_id", "session_no")
  }

  // ------------------------------------------------ trigger pipeline

  /** Trigger gate chain end-to-end, hash-checked: the oracle rebuilds
    * every packet arithmetically (closed-form LCG pad, seed/sliding
    * XOR over byte lists, CRC-16 as a nibble-LUT fold) and replays the
    * decode on the STORED crc — so even the tamper slice's ~1/65536
    * crc-collision verdicts (one lands in bad_validator at sf0.1) are
    * reproduced exactly, garbage bytes and all. TriggerPipelineSpec
    * additionally proves the verdicts against the planted channels.
    */
  val triggerPipeline: Q = (s, d) =>
    graft.plans.TriggerPipeline.run(s, d)
      .groupBy("verdict").agg(count(lit(1)).as("n"))
      .orderBy("verdict")

  // ------------------------------------------------- config upsert

  /** Config-patcher semantics as an upsert (§2.1): base configs from
    * even events, updates from odd events; latest version per key
    * wins, updates beating base on ties.
    */
  val configUpsert: Q = (s, d) => {
    // version = event_id div 2 so an even/odd pair can collide at the
    // same version, exercising the updates-beat-base tiebreak; within
    // a (key, version, source) the row is unique → deterministic
    def configs(parity: Int) = Tables.events(s, d)
      .filter(col("event_id") % 2 === parity && col("event_id") < 2000)
      .select((col("user_id") % 100).as("key"),
        expr("event_id div 2").as("version"),
        col("event_type").as("payload"))
    graft.operators.Configs.upsert(configs(0), configs(1), "key", "version")
      .orderBy("key")
  }

  // ------------------------------------------------- session replay

  /** Command-session state machine (§3.2): replay the synthetic
    * command corpus per session — byte accounting per direction,
    * unknown opcodes ignored, EXIT/SHUTDOWN stops application.
    */
  val sessionReplay: Q = (s, d) =>
    graft.operators.Sessions.replay(
      graft.operators.Sessions.syntheticCommands(s, d))
      .toDF()
      .orderBy("session_id")

  // ----------------------------------------------------- as-of join

  /** As-of join (§2.4 declared surface): each event matched with the
    * customer's latest order at event time.
    */
  val asofJoin: Q = (s, d) =>
    graft.operators.AsOf.join(
      Tables.events(s, d).filter(col("event_id") < 1000),
      Tables.orders(s, d),
      leftKey = "user_id", rightKey = "o_custkey",
      leftTs = "ts", rightTs = "o_orderdate",
      rightTieBreak = Seq("o_orderkey"))
      .select(col("event_id"), col("o_orderkey"))
      .orderBy("event_id")

  // ------------------------------------------------ profile validation

  /** Trigger-profile fixture validation (ilm-client good-/bad- files,
    * FIXTURES §2.6): parse the pipe-delimited corpus and emit one
    * verdict per line.
    */
  val profileValidation: Q = (s, _) =>
    graft.operators.Profiles.validate(
      graft.operators.Profiles.parse(graft.operators.Profiles.fixturesDf(s), "line"))
      .select("line", "verdict")
      .orderBy("line")

  /** UNION surface (§2.7): the good and bad verdict streams are routed
    * apart (mirroring the reference's good-/bad- fixture file split),
    * reassembled with UNION ALL, then UNION'd (distinct) against the
    * unsplit corpus — the duplicates introduced by the reassembly must
    * collapse back to exactly one row per line.
    */
  val profileUnion: Q = (s, _) => {
    val v = graft.operators.Profiles.validate(
      graft.operators.Profiles.parse(graft.operators.Profiles.fixturesDf(s), "line"))
      .select("line", "verdict")
    val good = v.filter(col("verdict") === "good")
    val bad = v.filter(col("verdict") =!= "good")
    good.union(bad) // UNION ALL: routed streams reassembled
      .union(v)     // duplicates every line once
      .distinct()   // UNION (distinct) semantics
      .orderBy("line")
  }

  // ------------------------------------------------ header-once emission

  /** Header-once survey formatting (§2.6, `process_list.c:110,208-218`):
    * per process block only the first rendered line carries the column
    * header — a rank-gated conditional projection, not a stateful scan.
    */
  val headerOnce: Q = (s, d) => {
    val header = "pid   state ppid  pgrp  session command"
    val body = format_string("%-5d %-5s %-5d %-5d %-7d %s",
      col("event_id").cast("int"), lit("S"),
      (col("user_id") % 32768).cast("int"), (col("user_id") % 100).cast("int"),
      (col("event_id") % 100).cast("int"), col("event_type"))
    graft.operators.Emission.headerOnce(
      Tables.events(s, d)
        .filter(col("event_id") < 300)
        .select(col("event_id"), (col("user_id") % 20).as("block"),
          col("user_id"), col("event_type")),
      partitionCols = Seq("block"), orderCols = Seq("event_id"),
      header = lit(header), body = body, out = "line")
      .select("block", "event_id", "line")
      .orderBy("block", "event_id")
  }

  // -------------------------------------------------- end-to-end DAG

  /** The full beacon ingest DAG (SURVEY §3.3) summarized: per-OS
    * good-route counts plus the bad-channel count (rows-only in the
    * gate; the DAG's internals are asserted in BeaconPipelineSpec).
    */
  val beaconDag: Q = (s, d) => {
    val e = graft.plans.BeaconPipeline.enriched(s, d)
    // single pass: route materialized as a column, not branch filters
    e.withColumn("route",
        when(col("parse_error") || col("uptime_s") < 0, "bad").otherwise("good"))
      .groupBy(col("route"),
        when(col("route") === "bad", "(any)").otherwise(col("os_name")).as("os_name"))
      .agg(count(lit(1)).as("n"))
      .select("os_name", "n", "route")
      .orderBy("route", "os_name")
  }

  /** Env-var path expansion gate (§2.8,
    * `server/client_session.c:632-639` intent) over the NATIVE
    * `expand_env` expression (`TextImpl.expandEnv` — identifier-
    * boundary `$VAR` / `${VAR}`, unknown vars expand empty, `$$`
    * escapes a literal dollar): four path shapes per record — `${VAR}`
    * form, bare `$VAR`, the `$USERNAME`/`$USER` longest-identifier
    * pair, and an unknown var + `$$` escape. The oracle states the
    * expanded strings directly, so the expression must expand exactly.
    */
  val envvarExpand: Q = (s, d) => {
    val eid = col("event_id")
    val env = map(
      lit("HOME"), lit("/root"), lit("TMPDIR"), lit("/tmp"),
      lit("USER"), lit("svc"), lit("USERNAME"), lit("adm"))
    val raw = when(eid % 4 === 0,
        concat(lit("${HOME}/cmds/"), col("event_type"), lit(".bin")))
      .when(eid % 4 === 1, concat(lit("$TMPDIR/run-"), (eid % 100).cast("string")))
      .when(eid % 4 === 2, concat(lit("$USERNAME/$USER/"), eid.cast("string")))
      .otherwise(lit("/opt/$UNSET/x costs $$5"))
    Tables.events(s, d).filter(eid < 300)
      .select(eid.as("event_id"), raw.as("raw_path"),
        graft.functions.TextExpressions.expand_env(raw, env).as("expanded"))
      .orderBy("event_id")
  }

  /** DNS name codec driver gate (§2.2, `server/decode_dns.c:136-158`
    * decode, `server/dns_client.c:78-92` encode): per record, a
    * two-name DNS message — a plain encoded name, then a second name
    * whose tail is a 0xC0 compression pointer back into the first
    * (14-bit offset). The engine decodes both with dns_name_decode;
    * the oracle rebuilds the identical byte list in SQL and REPLAYS
    * the bounded pointer-following walk with an unrolled step chain
    * (same list-arithmetic style as the crc16 trigger oracle), so the
    * pointer path itself is hash-checked, not just a roundtrip.
    */
  val dnsDecode: Q = (s, d) => {
    val eid = col("event_id"); val uid = col("user_id")
    val name1 = concat(lit("e"), (eid % 1000).cast("string"),
      lit(".d"), (uid % 100).cast("string"), lit(".net"))
    val enc1 = CE.dns_name_encode(name1)
    val lbl = concat(lit("x"), (uid % 10).cast("string"))
    // 0-based offset of name1's SECOND label's length byte: the
    // compression target (1 length byte + first label)
    val off = length(concat(lit("e"), (eid % 1000).cast("string"))) + 1
    val msg = concat(enc1,
      unhex(lpad(hex(length(lbl)), 2, "0")), lbl.cast("binary"),
      unhex(lpad(hex(lit(0xC000) + off), 4, "0")))
    Tables.events(s, d).filter(eid < 300)
      .select(eid.as("event_id"),
        CE.dns_name_decode(msg, lit(0)).as("name_plain"),
        CE.dns_name_decode(msg, octet_length(enc1)).as("name_ptr"))
      .orderBy("event_id")
  }

  /** DNS name ENCODE driver gate (§2.2, `server/dns_client.c:78-92`:
    * dotted name → length-prefixed labels + 0 terminator). The oracle
    * rebuilds the exact wire bytes in SQL (label length prefix +
    * character codes, hex-spelled), so the encode output is
    * VALUE-checked byte for byte — the companion of ig_dns_decode's
    * pointer-walk replay; rt_ok additionally pins decode(encode(x))
    * == x through the engine's own decoder.
    */
  val dnsEncode: Q = (s, d) => {
    val eid = col("event_id"); val uid = col("user_id")
    val name = concat(lit("e"), (eid % 1000).cast("string"),
      lit(".d"), (uid % 100).cast("string"), lit(".net"))
    val enc = CE.dns_name_encode(name)
    Tables.events(s, d).filter(eid < 300)
      .select(eid.as("event_id"), name.as("name"),
        hex(enc).as("enc_hex"),
        (CE.dns_name_decode(enc, lit(0)) === name).as("rt_ok"))
      .orderBy("event_id")
  }

  /** Quote-aware argv tokenization driver gate (§2.8,
    * `client/parser.c:34-107` BuildArgv): command lines mixing plain
    * args, double- and single-quoted groups (with embedded spaces),
    * empty-quote tokens, unterminated quotes and multi-space runs. The
    * engine tokenizes with the native `argv_tokenize` expression; the
    * oracle REPLAYS the whole per-character state machine in SQL (a
    * list_reduce over (quote, in_token, current, tokens) state — same
    * fold family as the XTEA/crc16/DNS oracles), so quoting semantics
    * are value-checked token by token, not just arg counts.
    */
  val argvTokens: Q = (s, d) => {
    val eid = col("event_id")
    val line = when(eid % 5 === 0,
        concat(lit("run -a "), col("event_type")))
      .when(eid % 5 === 1,
        concat(lit("cp \"a b "), (eid % 7).cast("string"), lit("\" /tmp/x")))
      .when(eid % 5 === 2,
        concat(lit("exec 'q t' --id="), (eid % 9).cast("string"), lit(" \"\"")))
      .when(eid % 5 === 3,
        concat(lit("tail \"log "), eid.cast("string")))
      .otherwise(concat(lit("a  b   "), col("event_type"), lit(" 'x'y")))
    Tables.events(s, d).filter(eid < 300)
      .select(eid.as("event_id"), line.as("line"),
        size(graft.functions.TextExpressions.argv_tokenize(line)).as("n_args"),
        concat_ws("\u001f",
          graft.functions.TextExpressions.argv_tokenize(line)).as("args"))
      .orderBy("event_id")
  }

  /** RFC 1071 ones-complement checksum driver gate (§2.8,
    * `client/trigger_payload.c` ICMP/IP header sums): per record a
    * variable-length payload (odd and even lengths both present via
    * the event_type mix) checksummed by the native `ip_cksum`
    * expression; the oracle rebuilds the big-endian 16-bit word list
    * from the hex spelling and REPLAYS the end-around-carry fold in
    * SQL, complement included — previously spec-only (golden
    * vectors), now value-checked per row by the driver.
    */
  val ipCksumGate: Q = (s, d) => {
    val p = concat(lit("ck"), col("event_id").cast("string"), lit(":"),
      col("event_type")).cast("binary")
    Tables.events(s, d).filter(col("event_id") < 300)
      .select(col("event_id"), octet_length(p).as("n"),
        CE.ip_cksum(p).as("cksum"))
      .orderBy("event_id")
  }

  /** Mixed-version wire decode (§2.1 legacy ingest): 32-byte v1
    * records and v2 TLV payloads in one corpus, dispatched on
    * first-payload length exactly as the LP (`honeycomb.py:474-489`)
    * and decoded to one uniform schema
    * ([[graft.plans.BeaconPipeline.decodeMixedWire]] —
    * v1 parse per `honeycomb.py:388-410`). The oracle recomputes the
    * expected fields arithmetically per version, so the engine's
    * whole build→dispatch→slice/TLV-decode chain must round-trip.
    */
  val ver1Decode: Q = (s, d) =>
    graft.plans.BeaconPipeline.decodeMixedWire(
      Tables.events(s, d).filter(col("event_id") < 300))
      .orderBy("rec_id")

  /** bzip2 wire decode (§2.2, `server/compression.c:13-31` compress /
    * `honeycomb.py:209-213` version-gated decompress): version ≥ 23
    * records carry GENUINELY bzip2-compressed TLV payloads, version 22
    * plain TLV; the engine decompresses through the real codec
    * ([[graft.plans.BeaconPipeline.decodeCompressedWire]]). bz2 bytes
    * are not SQL-replayable, so the oracle recomputes every decoded
    * field arithmetically (the round-trip must land exactly) and pins
    * the engine-asserted wire receipts — BZh magic on compressed rows
    * only, compressed strictly smaller than plain — at literal TRUE.
    */
  val bz2Wire: Q = (s, d) =>
    graft.plans.BeaconPipeline.decodeCompressedWire(
      Tables.events(s, d).filter(col("event_id") < 300))
      .orderBy("rec_id")

  /** Streaming parity driver gate (§2.9): the engine side EXECUTES the
    * Structured Streaming path — file-source micro-batches, session
    * window state merged across batches, memory sink — and the oracle
    * is the batch gap-sessionization SQL (same >= 30 min boundary rule
    * as dq24_session_window, with per-session bounds). See
    * [[graft.streaming.EventStream.sessionReplayGate]].
    */
  val streamSessions: Q = (s, d) =>
    graft.streaming.EventStream.sessionReplayGate(s, d)

  /** Windowed-aggregation streaming parity gate (§2.9): same replay
    * harness, 6-hour tumbling windows with count + decimal sum —
    * window state carried across micro-batches, oracle = the batch
    * window arithmetic.
    */
  val streamWindows: Q = (s, d) =>
    graft.streaming.EventStream.windowReplayGate(s, d)

  /** Checkpointed-ingest parity gate (§2.9 incremental file ingest):
    * the engine runs the REAL checkpointed file-source ingest twice —
    * the replay must append nothing — and the oracle recomputes the
    * sunk per-user aggregates from the raw table with the exactly-once
    * receipt pinned at 0.
    */
  val streamIngest: Q = (s, d) =>
    graft.streaming.EventStream.ingestReplayGate(s, d)

  /** Interval-containment join as a BINNED equi join — events inside
    * derived maintenance windows; see [[graft.operators.Intervals]].
    * The oracle is the NAIVE non-equi formulation, so the binned plan
    * (explode-to-bins, equi join on the bin key, residual containment
    * filter) must reproduce it row for row.
    */
  val intervalJoin: Q = (s, d) =>
    graft.operators.Intervals.intervalJoin(s, d)

  // ------------------------------------------------------------- registry

  val queries: Map[String, Q] = Map(
    "ig_beacon_dag"      -> beaconDag,
    "ig_ver1_decode"     -> ver1Decode,
    "ig_bz2_wire"        -> bz2Wire,
    "ig_dns_decode"      -> dnsDecode,
    "ig_dns_encode"      -> dnsEncode,
    "ig_envvar_expand"   -> envvarExpand,
    "ig_key_gate"        -> keyGate,
    "ig_profile_valid"   -> profileValidation,
    "ig_profile_union"   -> profileUnion,
    "ig_header_once"     -> headerOnce,
    "ig_bthp_strip"      -> bthpStrip,
    "ig_trigger_delay"   -> triggerDelay,
    "ig_fork_callbacks"  -> forkCallbacks,
    "ig_asof_join"       -> asofJoin,
    "ig_interval_join"   -> intervalJoin,
    "ig_session_replay"  -> sessionReplay,
    "ig_config_upsert"   -> configUpsert,
    "ig_trigger_gates"   -> triggerPipeline,
    "ig_rsi_roundtrip"   -> rsiRoundtrip,
    "ig_session_stats"   -> sessionStats,
    "ig_sharded_sessions" -> shardedSessions,
    "ig_ttl_tombstones"  -> ttlTombstones,
    "ig_retention_sweep" -> retentionSweep,
    "ig_bucketed_sessions" -> bucketedSessions,
    "ig_ipv4_format"     -> ipv4Format,
    "ig_hex_format"      -> hexFormat,
    "ig_mac_format"      -> macFormat,
    "ig_flags_decode"    -> flagsDecode,
    "ig_os_decode"       -> osDecode,
    "ig_tcp_state"       -> tcpStateDecode,
    "ig_ip_remap"        -> ipRemap,
    "ig_prefix_match"    -> prefixMatch,
    "ig_validation"      -> validationRoute,
    "ig_proc_parse"      -> procParse,
    "ig_uptime_dialects" -> uptimeDialects,
    "ig_key_ledger"      -> keyLedger,
    "ig_tlv_roundtrip"   -> tlvRoundtrip,
    "ig_aes_frame"       -> aesFrame,
    "ig_xtea_roundtrip"  -> xteaRoundtrip,
    "ig_xor_codecs"      -> xorCodecs,
    "ig_chunk_reassembly" -> chunkReassembly,
    "ig_stream_sessions" -> streamSessions,
    "ig_stream_windows"  -> streamWindows,
    "ig_ip_cksum"        -> ipCksumGate,
    "ig_stream_ingest"   -> streamIngest,
    "ig_argv_tokens"     -> argvTokens,
  )

  private def valuesSql(rows: Seq[(Any, Any)], c1: String, c2: String): String =
    rows.map { case (a, b) =>
      val av = a match { case s: String => s"'$s'"; case x => x.toString }
      val bv = b match { case s: String => s"'$s'"; case x => x.toString }
      s"($av, $bv)"
    }.mkString(s"(VALUES ", ", ", s") AS t($c1, $c2)")

  private val ip = IpOfSql.format("event_id")

  /** Shared CTE chain: fixture lines → parsed fields → verdict, the
    * DuckDB mirror of Profiles.parse + Profiles.validate. Ends with a
    * relation `v(line, verdict)`.
    */
  private lazy val profileVerdictCte: String = {
    val values = graft.operators.Profiles.fixtures
      .map { case (l, _) => s"('$l')" }.mkString(", ")
    val protos = graft.operators.Profiles.protocols.map(p => s"'$p'").mkString(", ")
    val ipOk = (f: String) =>
      s"""(regexp_matches($f, '^\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}$$')
         | AND CAST(string_split($f,'.')[1] AS INT) BETWEEN 0 AND 255
         | AND CAST(string_split($f,'.')[2] AS INT) BETWEEN 0 AND 255
         | AND CAST(string_split($f,'.')[3] AS INT) BETWEEN 0 AND 255
         | AND CAST(string_split($f,'.')[4] AS INT) BETWEEN 0 AND 255)""".stripMargin
    s"""t(line) AS (VALUES $values),
       |p AS (SELECT line,
       |  string_split(line,'|')[1] AS cip,
       |  CAST(string_split(line,'|')[2] AS INT) AS cport,
       |  string_split(line,'|')[3] AS tip,
       |  string_split(line,'|')[4] AS proto,
       |  CAST(string_split(line,'|')[5] AS INT) AS delay
       |FROM t),
       |v AS (SELECT line,
       |  CASE WHEN cport NOT BETWEEN 1 AND 65535 THEN 'bad_callback_port'
       |       WHEN NOT ${ipOk("cip")} THEN 'bad_callback_address'
       |       WHEN NOT ${ipOk("tip")} THEN 'bad_target_address'
       |       WHEN proto NOT IN ($protos) THEN 'bad_protocol'
       |       WHEN proto IN ('raw-tcp','raw-udp') AND (delay IS NULL OR delay <= 0)
       |         THEN 'bad_raw_port'
       |       ELSE 'good' END AS verdict
       |FROM p)""".stripMargin
  }

  /** The ig_trigger_gates oracle: TriggerPipeline's packet synthesis
    * and gate-chain decode, both replayed in DuckDB SQL over
    * byte-value lists. Constants are derived from the same sources the
    * engine uses (SHA-1 key digests via MessageDigest; the pad LCG in
    * closed form: M_k = A^k, B_k = Σ A^i·C mod 2^64, so each pad byte
    * is one multiply-add instead of an iterated fold — HUGEINT splits
    * the 64×64-bit multiply at 2^32 to stay inside 128-bit range).
    */
  private lazy val triggerGatesOracleSql: String = {
    import graft.plans.TriggerPipeline.{PadLen, PayloadLen}
    val M64 = BigInt(1) << 64
    val A = BigInt("6364136223846793005")
    val C = BigInt("1442695040888963407")
    val (ms, bs) = (1 to PadLen).foldLeft((List.empty[BigInt], List.empty[BigInt])) {
      case ((mAcc, bAcc), _) =>
        val m = mAcc.headOption.getOrElse(BigInt(1)) * A % M64
        val b = (bAcc.headOption.getOrElse(BigInt(0)) * A + C) % M64
        (m :: mAcc, b :: bAcc)
    }
    def hugeList(xs: List[BigInt]): String =
      xs.reverse.map(v => s"'$v'").mkString("[", ", ", "]")
    def keyBytes(k: Int): String =
      java.security.MessageDigest.getInstance("SHA-1")
        .digest(s"key-$k".getBytes).map(b => b & 0xFF).mkString("[", ", ", "]")
    val keyCase = "CASE user_id % 7 " +
      (0 until 7).map(k => s"WHEN $k THEN ${keyBytes(k)}").mkString(" ") + " END"
    val keyOk = (0 until 7 by 2).map(k => s"key2 = ${keyBytes(k)}").mkString(" OR ")
    val lut =
      "[0, 4129, 8258, 12387, 16516, 20645, 24774, 28903, 33032, 37161, 41290, 45419, 49548, 53677, 57806, 61935]"
    def crcBytes(e: String): String =
      s"""list_reduce(list_prepend(65535, flatten(list_transform($e, bb -> [bb // 16, bb % 16]))),
         |      (c, nb) -> xor((c * 16) % 65536, l[xor(c // 4096, nb) + 1]))""".stripMargin
    val offMod = PadLen - PayloadLen
    s"""WITH lut AS (SELECT $lut AS l,
       |  list_transform(${hugeList(ms)}, s -> CAST(s AS HUGEINT)) AS mm,
       |  list_transform(${hugeList(bs)}, s -> CAST(s AS HUGEINT)) AS bb2),
       |e AS (SELECT event_id AS eid, user_id FROM events),
       |syn AS (
       |  SELECT eid,
       |    ((eid % 255) + 1) AS seed,
       |    (eid * 2654435761) % 4294967296 AS ip,
       |    (eid * 131) % 65535 + 1 AS port,
       |    (eid % 500) * 127 AS val,
       |    $keyCase AS keyb,
       |    CAST((CAST(eid AS HUGEINT) * $A + $C) % CAST('$M64' AS HUGEINT) AS HUGEINT) AS st0
       |  FROM e, lut),
       |pay AS (
       |  SELECT eid, seed, st0,
       |    list_concat([seed, ip // 16777216, (ip // 65536) % 256, (ip // 256) % 256, ip % 256,
       |      port // 256, port % 256, val // 256, val % 256], keyb) AS p,
       |    list_transform(range(1, ${PadLen + 1}), k ->
       |      CAST(((mm[k] * (st0 // 4294967296)) % 4294967296 * 4294967296
       |          + mm[k] * (st0 % 4294967296) + bb2[k]) % CAST('$M64' AS HUGEINT)
       |          // CAST('${BigInt(1) << 56}' AS HUGEINT) AS BIGINT)) AS pad
       |  FROM syn, lut),
       |wire AS (
       |  SELECT eid, p, pad, ${crcBytes("p")} AS crc
       |  FROM pay, lut),
       |pkt AS (
       |  SELECT eid, p, pad, crc,
       |    CASE WHEN eid % 7 = 6 THEN (crc // 256) * 256 + xor(crc % 256, 85) ELSE crc END AS stored,
       |    list_concat([p[1]], list_transform(p[2:$PayloadLen], x -> xor(x, p[1]))) AS obf
       |  FROM wire),
       |emb AS (
       |  SELECT eid, pad, stored,
       |    list_transform(range(1, ${PayloadLen + 1}), i -> xor(obf[i], pad[((crc % $offMod + i - 1) % $PadLen) + 1])) AS win
       |  FROM pkt),
       |dec AS (
       |  SELECT eid, stored,
       |    list_transform(range(1, ${PayloadLen + 1}), i -> xor(win[i], pad[((stored % $offMod + i - 1) % $PadLen) + 1])) AS obf2
       |  FROM emb),
       |dec2 AS (
       |  SELECT eid, stored,
       |    CASE WHEN obf2[1] = 0 THEN 255 ELSE obf2[1] END AS s2, obf2
       |  FROM dec),
       |pay2 AS (
       |  SELECT eid, stored,
       |    list_concat([s2], list_transform(obf2[2:$PayloadLen], x -> xor(x, s2))) AS p2
       |  FROM dec2),
       |chk AS (
       |  SELECT eid, stored, p2,
       |    ${crcBytes("p2")} AS crc2,
       |    p2[8] * 256 + p2[9] AS val2,
       |    p2[10:$PayloadLen] AS key2
       |  FROM pay2, lut),
       |v AS (
       |  SELECT eid,
       |    CASE WHEN crc2 <> stored THEN 'bad_crc'
       |         WHEN val2 % 127 <> 0 THEN 'bad_validator'
       |         WHEN NOT ($keyOk) THEN 'unknown_key'
       |         ELSE 'accepted' END AS verdict
       |  FROM chk)
       |SELECT verdict, count(*) AS n FROM v GROUP BY verdict ORDER BY verdict""".stripMargin
  }

  /** The gap-sessionization oracle — shared by the plain and the
    * day-sharded gates (identical semantics by construction).
    */
  private lazy val sessionStatsSql =
    s"""WITH g AS (
       |  SELECT user_id, ts, event_id, value,
       |    CASE WHEN LAG(ts) OVER w IS NULL
       |      OR ts - LAG(ts) OVER w > INTERVAL '1' HOUR THEN 1 ELSE 0 END AS new_s
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (
       |  SELECT user_id, ts, value,
       |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
       |  FROM g)
       |SELECT user_id, session_no, COUNT(*) AS n_cmds,
       |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS bytes,
       |  epoch_us(MIN(ts)) AS started, epoch_us(MAX(ts)) AS ended
       |FROM s GROUP BY user_id, session_no ORDER BY user_id, session_no""".stripMargin

  /** The DNS decode replayed in DuckDB: byte lists via ascii(), the
    * walk as 6 unrolled steps over (pos, acc) state — pos is the
    * 0-based index of the current length byte, so `msg[pos+1]` reads
    * it under 1-based list indexing. A step consumes one label
    * (append its chars, advance), follows one 0xC0 pointer
    * (reposition, 14-bit offset arithmetic), or idles on the 0
    * terminator; 6 steps cover the corpus's deepest walk (label +
    * pointer + 3 labels + terminator). The list_prepend('') keeps
    * list_reduce total without changing the fold.
    */
  private lazy val dnsDecodeOracleSql: String = {
    def codes(l: String) =
      s"list_transform(range(1, length($l)+1), i -> ascii(substr($l, CAST(i AS INT), 1)))"
    def step(i: Int) =
      s"""s$i AS (
         |  SELECT event_id, msg, start_pos,
         |    CASE WHEN msg[pos+1] = 0 THEN pos
         |         WHEN msg[pos+1] >= 192 THEN (msg[pos+1] - 192) * 256 + msg[pos+2]
         |         ELSE pos + 1 + msg[pos+1] END AS pos,
         |    CASE WHEN msg[pos+1] = 0 OR msg[pos+1] >= 192 THEN acc
         |         ELSE list_append(acc, list_reduce(list_prepend('',
         |           list_transform(range(pos+2, pos+2+msg[pos+1]),
         |             i -> chr(CAST(msg[CAST(i AS INT)] AS INT)))), (a, b) -> a || b)) END AS acc
         |  FROM s${i - 1})""".stripMargin
    s"""WITH base AS (
       |  SELECT event_id,
       |    'e' || (event_id % 1000) AS l1, 'd' || (user_id % 100) AS l2,
       |    'net' AS l3, 'x' || (user_id % 10) AS lp
       |  FROM events WHERE event_id < 300),
       |m AS (
       |  SELECT event_id,
       |    flatten([
       |      list_prepend(length(l1), ${codes("l1")}),
       |      list_prepend(length(l2), ${codes("l2")}),
       |      list_prepend(length(l3), ${codes("l3")}),
       |      [0],
       |      list_prepend(length(lp), ${codes("lp")}),
       |      [192, length(l1) + 1]]) AS msg,
       |    length(l1) + length(l2) + length(l3) + 4 AS ptr_start
       |  FROM base),
       |starts AS (
       |  SELECT event_id, msg, 0 AS start_pos FROM m
       |  UNION ALL SELECT event_id, msg, ptr_start FROM m),
       |s0 AS (
       |  SELECT event_id, msg, start_pos, start_pos AS pos,
       |    CAST([] AS VARCHAR[]) AS acc
       |  FROM starts),
       |${(1 to 6).map(step).mkString(",\n")}
       |SELECT event_id,
       |  max(CASE WHEN start_pos = 0 THEN name END) AS name_plain,
       |  max(CASE WHEN start_pos <> 0 THEN name END) AS name_ptr
       |FROM (SELECT event_id, start_pos, array_to_string(acc, '.') AS name FROM s6)
       |GROUP BY event_id ORDER BY event_id""".stripMargin
  }

  /** The DNS encode replayed in DuckDB: the wire byte list is rebuilt
    * as [len(l1)] ++ codes(l1) ++ [len(l2)] ++ codes(l2) ++ [len(l3)]
    * ++ codes(l3) ++ [0] — the `dns_client.c:78-92` label walk — and
    * hex-spelled for the value compare.
    */
  private lazy val dnsEncodeOracleSql: String = {
    def codes(l: String) =
      s"list_transform(range(1, length($l)+1), i -> ascii(substr($l, CAST(i AS INT), 1)))"
    s"""WITH base AS (
       |  SELECT event_id,
       |    'e' || (event_id % 1000) AS l1, 'd' || (user_id % 100) AS l2,
       |    'net' AS l3
       |  FROM events WHERE event_id < 300),
       |m AS (
       |  SELECT event_id, l1 || '.' || l2 || '.' || l3 AS name,
       |    flatten([
       |      list_prepend(length(l1), ${codes("l1")}),
       |      list_prepend(length(l2), ${codes("l2")}),
       |      list_prepend(length(l3), ${codes("l3")}),
       |      [0]]) AS msg
       |  FROM base)
       |SELECT event_id, name,
       |  list_reduce(list_prepend('', list_transform(msg, c -> printf('%02X', c))),
       |    (a, b) -> a || b) AS enc_hex,
       |  TRUE AS rt_ok
       |FROM m ORDER BY event_id""".stripMargin
  }

  /** The argv state machine replayed in DuckDB as UNROLLED per-column
    * CTE steps (the ig_dns_decode shape): step i consumes character i
    * of the line — guarded to a no-op past end-of-line — updating
    * (q, intok, cur, toks) as plain columnar CASE expressions. No
    * lambdas at all: a first cut as a list_reduce fold MISCOMPUTED
    * under DuckDB 1.0 (stale character indexing inside the lambda —
    * 'tail' folded to 'tiil'; the XTEA-oracle CSE hazard, reconfirmed)
    * and ran minutes instead of milliseconds. 24 steps cover the
    * corpus's longest line (20 chars; event_type tops out at
    * 'purchase'); lines PAST the unroll emit NULL tokens instead of a
    * silent truncation, so a testdata regen that lengthens event_type
    * fails with an obvious NULL signature pointing at the corpus, not
    * at a phantom tokenizer bug. (Separator set is space-only like the
    * corpus; the engine's isWhitespace superset is exercised by spec.)
    */
  private lazy val argvOracleSql: String = {
    // p.-qualified state reads: an unqualified `q` in the SELECT could
    // bind to the same-named alias being defined (lateral aliases),
    // not the previous step's column
    def step(i: Int) = {
      val c = s"substr(p.line, $i, 1)"
      s"""s$i AS (
         |  SELECT p.event_id, p.line, p.len,
         |    CASE WHEN $i > p.len THEN p.q
         |         WHEN p.q <> 0 AND ascii($c) = p.q THEN 0
         |         WHEN p.q <> 0 THEN p.q
         |         WHEN $c = '"' THEN 34 WHEN $c = '''' THEN 39
         |         ELSE 0 END AS q,
         |    CASE WHEN $i > p.len THEN p.intok
         |         WHEN p.q <> 0 THEN true
         |         WHEN $c = '"' OR $c = '''' THEN true
         |         WHEN $c = ' ' THEN false
         |         ELSE true END AS intok,
         |    CASE WHEN $i > p.len THEN p.cur
         |         WHEN p.q <> 0 AND ascii($c) = p.q THEN p.cur
         |         WHEN p.q <> 0 THEN p.cur || $c
         |         WHEN $c = '"' OR $c = '''' THEN p.cur
         |         WHEN $c = ' ' THEN ''
         |         ELSE p.cur || $c END AS cur,
         |    CASE WHEN $i <= p.len AND p.q = 0 AND $c = ' ' AND p.intok
         |         THEN list_append(p.toks, p.cur) ELSE p.toks END AS toks
         |  FROM s${i - 1} AS p)""".stripMargin
    }
    val n = 24
    s"""WITH base AS (
       |  SELECT event_id,
       |    CASE CAST(event_id % 5 AS INT)
       |      WHEN 0 THEN 'run -a ' || event_type
       |      WHEN 1 THEN 'cp "a b ' || (event_id % 7) || '" /tmp/x'
       |      WHEN 2 THEN 'exec ''q t'' --id=' || (event_id % 9) || ' ""'
       |      WHEN 3 THEN 'tail "log ' || event_id
       |      ELSE 'a  b   ' || event_type || ' ''x''y'
       |    END AS line
       |  FROM events WHERE event_id < 300),
       |s0 AS (
       |  SELECT event_id, line, length(line) AS len,
       |    0 AS q, false AS intok, '' AS cur, CAST([] AS VARCHAR[]) AS toks
       |  FROM base),
       |${(1 to n).map(step).mkString(",\n")},
       |fin AS (
       |  SELECT event_id, line, len,
       |    CASE WHEN intok THEN list_append(toks, cur) ELSE toks END AS toks
       |  FROM s$n)
       |SELECT event_id, line,
       |  CASE WHEN len > $n THEN NULL ELSE CAST(len(toks) AS INT) END AS n_args,
       |  CASE WHEN len > $n THEN NULL ELSE array_to_string(toks, chr(31)) END AS args
       |FROM fin ORDER BY event_id""".stripMargin
  }

  /** RFC 1071 replayed in DuckDB: big-endian 16-bit words rebuilt from
    * the payload's hex spelling (odd tail padded low), folded with the
    * reference's immediate end-around carry — one word's overflow is
    * at most 1, so the carry is the exact `% 65536 + 1` branch — and
    * complemented as 65535 − sum. Lambda kept small per the DuckDB
    * list_reduce CSE hazard (see the XTEA oracle note).
    */
  private lazy val ipCksumOracleSql: String = {
    def nib(pos: String) =
      s"(strpos('0123456789ABCDEF', substr(hx, CAST($pos AS INT), 1)) - 1)"
    s"""WITH m AS (
       |  SELECT event_id,
       |    hex(encode('ck' || CAST(event_id AS VARCHAR) || ':' || event_type)) AS hx,
       |    octet_length(encode('ck' || CAST(event_id AS VARCHAR) || ':' || event_type)) AS n
       |  FROM events WHERE event_id < 300),
       |w AS (
       |  SELECT event_id, n,
       |    list_transform(range(0, (n + 1) // 2), i ->
       |      ${nib("4*i+1")} * 4096 + ${nib("4*i+2")} * 256 +
       |      CASE WHEN 4*i+4 <= length(hx)
       |           THEN ${nib("4*i+3")} * 16 + ${nib("4*i+4")}
       |           ELSE 0 END) AS words
       |  FROM m)
       |SELECT event_id, CAST(n AS INT) AS n,
       |  CAST(65535 - list_reduce(list_prepend(CAST(0 AS BIGINT), words),
       |    (a, b) -> CASE WHEN a + b > 65535 THEN (a + b) % 65536 + 1
       |              ELSE a + b END) AS INT) AS cksum
       |FROM w ORDER BY event_id""".stripMargin
  }

  /** XTEA replayed in DuckDB: per 8-byte block, the 32 Feistel rounds
    * run as a 64-element list_reduce over state (v0, v1, s, i) — each
    * half-step updates ONE word (even i: v0 + sum advance; odd i: v1),
    * keeping every lambda field a small expression (a single-step
    * fold with the v0'/s' expressions inlined three times miscomputes
    * under DuckDB 1.0's lambda CSE — verified against the engine and
    * a reference implementation, so the half-step shape is
    * load-bearing, not style). All arithmetic is BIGINT mod 2³²,
    * bit-identical to Java int wraparound; words marshal from the
    * payload's hex spelling big-endian, the zero-padded tail via
    * rpad '0'.
    */
  private lazy val xteaOracleSql: String = {
    // key 000102...0f as four BE u32 words — must match the gate's literal
    val kl = Seq(0x00010203L, 0x04050607L, 0x08090a0bL, 0x0c0d0e0fL)
    def hexu32(pos: String): String = {
      val terms = (0 until 8).map { i =>
        s"(strpos('0123456789ABCDEF', substr(hxp, CAST(($pos)+$i AS INT), 1)) - 1) * ${1L << (4 * (7 - i))}"
      }
      "CAST(" + terms.mkString(" + ") + " AS BIGINT)"
    }
    val half =
      s"""(a, x) -> CASE WHEN a.i % 2 = 0 THEN struct_pack(
         |  v0 := (a.v0 + xor((xor((a.v1 * 16) % 4294967296, a.v1 // 32) + a.v1) % 4294967296,
         |                    (a.s + kl[CAST(a.s % 4 AS INT) + 1]) % 4294967296)) % 4294967296,
         |  v1 := a.v1, s := (a.s + 2654435769) % 4294967296, i := a.i + 1)
         |ELSE struct_pack(v0 := a.v0,
         |  v1 := (a.v1 + xor((xor((a.v0 * 16) % 4294967296, a.v0 // 32) + a.v0) % 4294967296,
         |                    (a.s + kl[CAST((a.s // 2048) % 4 AS INT) + 1]) % 4294967296)) % 4294967296,
         |  s := a.s, i := a.i + 1) END""".stripMargin
    val zeroState = "struct_pack(v0 := CAST(0 AS BIGINT), v1 := CAST(0 AS BIGINT), " +
      "s := CAST(0 AS BIGINT), i := CAST(0 AS BIGINT))"
    s"""WITH kk AS (SELECT [${kl.mkString(", ")}] AS kl),
       |bm AS (
       |  SELECT event_id, 'xt' || event_id || ':' || repeat('q', CAST(event_id % 9 AS INT)) AS msg
       |  FROM events WHERE event_id < 300),
       |m AS (SELECT event_id, hex(encode(msg)) AS hx, octet_length(encode(msg)) AS n FROM bm),
       |mp AS (SELECT event_id, n, rpad(hx, CAST(((n + 7) // 8) * 16 AS INT), '0') AS hxp,
       |  (n + 7) // 8 AS nb FROM m),
       |blocks AS (SELECT event_id, n, hxp, unnest(range(0, nb)) AS blk FROM mp),
       |enc AS (SELECT event_id, n, blk,
       |  list_reduce(list_prepend(
       |    struct_pack(v0 := ${hexu32("blk*16+1")}, v1 := ${hexu32("blk*16+9")},
       |      s := CAST(0 AS BIGINT), i := CAST(0 AS BIGINT)),
       |    list_transform(range(64), x -> $zeroState)),
       |    $half) AS st
       |  FROM blocks, kk)
       |SELECT event_id, CAST(max(n) AS BIGINT) AS n,
       |  lower(string_agg(printf('%08x%08x', st.v0, st.v1), '' ORDER BY blk)) AS cipher,
       |  TRUE AS len_ok, TRUE AS rt_ok
       |FROM enc GROUP BY event_id ORDER BY event_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "ig_config_upsert" ->
      s"""WITH c AS (
         |  SELECT user_id % 100 AS key, event_id // 2 AS version,
         |    event_type AS payload, CAST(MOD(event_id, 2) AS INT) AS src
         |  FROM events WHERE event_id < 2000),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY key
         |        ORDER BY version DESC, src DESC) AS rn FROM c)
         |SELECT key, version, payload FROM r WHERE rn = 1 ORDER BY key""".stripMargin,

    "ig_session_replay" ->
      s"""WITH c AS (
         |  SELECT 'sess-' || user_id AS session_id, CAST(event_id AS INT) AS seq,
         |    CASE MOD(event_id, 8) WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4
         |      WHEN 3 THEN 5 WHEN 4 THEN 8 WHEN 5 THEN 7 WHEN 6 THEN 1
         |      ELSE 10 END AS opcode,
         |    user_id % 4096 AS size
         |  FROM events),
         |t AS (SELECT session_id,
         |        MIN(CASE WHEN opcode IN (6, 10) THEN seq END) AS term_seq
         |      FROM c GROUP BY 1),
         |j AS (SELECT c.*, COALESCE(t.term_seq, 2147483647) AS tseq
         |      FROM c JOIN t USING (session_id))
         |SELECT session_id,
         |  CAST(COUNT(*) AS INT) AS n_commands,
         |  CAST(COUNT(*) FILTER (WHERE seq <= tseq
         |    AND opcode NOT IN (1,2,4,5,6,8,10)) AS INT) AS n_ignored,
         |  CAST(COALESCE(SUM(size) FILTER (WHERE opcode = 1 AND seq <= tseq), 0) AS BIGINT) AS bytes_up,
         |  CAST(COALESCE(SUM(size) FILTER (WHERE opcode = 4 AND seq <= tseq), 0) AS BIGINT) AS bytes_down,
         |  CAST(COUNT(*) FILTER (WHERE opcode IN (2, 8) AND seq <= tseq) AS INT) AS executed,
         |  CAST(COUNT(*) FILTER (WHERE opcode = 5 AND seq <= tseq) AS INT) AS deleted,
         |  (MIN(tseq) < 2147483647) AS terminated,
         |  CAST(MAX(CASE WHEN seq <= tseq THEN seq END) AS INT) AS last_seq
         |FROM j GROUP BY session_id ORDER BY session_id""".stripMargin,

    "ig_asof_join" ->
      s"""WITH m AS (
         |  SELECT e.event_id, o.o_orderkey,
         |    ROW_NUMBER() OVER (PARTITION BY e.event_id
         |      ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST) AS rn
         |  FROM (SELECT event_id, user_id, ts FROM events WHERE event_id < 1000) e
         |  LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
         |SELECT event_id, o_orderkey FROM m WHERE rn = 1 ORDER BY event_id""".stripMargin,

    // the naive range join replayed directly: the engine's binned
    // equi join + residual filter must equal containment exactly
    "ig_interval_join" ->
      s"""WITH iv AS (
         |  SELECT event_id AS interval_id, epoch_us(ts) AS start_us,
         |    epoch_us(ts) + (10 + event_id % 4 * 5) * 60 * 1000000 AS end_us
         |  FROM events WHERE event_type = 'error' AND event_id % 5 = 0)
         |SELECT e.event_id, iv.interval_id,
         |  epoch_us(e.ts) - iv.start_us AS lag_us
         |FROM events e JOIN iv
         |  ON epoch_us(e.ts) >= iv.start_us AND epoch_us(e.ts) < iv.end_us
         |ORDER BY event_id, interval_id""".stripMargin,

    "ig_profile_valid" ->
      s"""WITH $profileVerdictCte
         |SELECT line, verdict FROM v ORDER BY line""".stripMargin,

    "ig_profile_union" ->
      s"""WITH $profileVerdictCte
         |SELECT line, verdict FROM (
         |  SELECT line, verdict FROM v WHERE verdict = 'good'
         |  UNION ALL SELECT line, verdict FROM v WHERE verdict <> 'good'
         |  UNION SELECT line, verdict FROM v)
         |ORDER BY line""".stripMargin,

    // The three synth-roundtrip DAG gates: their outputs derive
    // arithmetically from the same event columns the synthesizers use,
    // so the oracle recomputes them directly — the engine's whole
    // encode→decode chain (TLV framing, XOR/crc recovery, dim joins)
    // must round-trip exactly for the hashes to match.
    "ig_tlv_roundtrip" -> {
      val h = "lpad(to_hex(user_id * 131071 % 281474976710656), 12, '0')"
      s"""SELECT event_id,
         |  lower(concat_ws('-', substr($h,1,2), substr($h,3,2), substr($h,5,2),
         |    substr($h,7,2), substr($h,9,2), substr($h,11,2))) AS mac,
         |  user_id AS uptime,
         |  event_id % 86400 AS next_beacon
         |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin
    },

    // env expansion: the oracle recomputes raw AND expanded forms
    // directly per path shape, so the native expression's semantics —
    // longest-identifier match ($USERNAME before $USER), unknown vars
    // expanding to empty, and the $$ literal escape — must match
    // string-for-string
    "ig_envvar_expand" ->
      s"""WITH p AS (
         |  SELECT event_id,
         |    CASE CAST(event_id % 4 AS INT)
         |      WHEN 0 THEN '$${HOME}/cmds/' || event_type || '.bin'
         |      WHEN 1 THEN '$$TMPDIR/run-' || (event_id % 100)
         |      WHEN 2 THEN '$$USERNAME/$$USER/' || event_id
         |      ELSE '/opt/$$UNSET/x costs $$$$5' END AS raw_path,
         |    CASE CAST(event_id % 4 AS INT)
         |      WHEN 0 THEN '/root/cmds/' || event_type || '.bin'
         |      WHEN 1 THEN '/tmp/run-' || (event_id % 100)
         |      WHEN 2 THEN 'adm/svc/' || event_id
         |      ELSE '/opt//x costs $$5' END AS expanded
         |  FROM events WHERE event_id < 300)
         |SELECT event_id, raw_path, expanded FROM p ORDER BY event_id""".stripMargin,

    "ig_xtea_roundtrip" -> xteaOracleSql,

    // chunk+reassembly: recovered text and chunk arithmetic recomputed
    // directly — the dedup/order/concat fold must reproduce the
    // payload byte-for-byte through duplicated out-of-key retransmits
    "ig_chunk_reassembly" ->
      s"""WITH p AS (
         |  SELECT event_id,
         |    'rs' || event_id || '|' || repeat('ab', CAST(event_id % 13 AS INT))
         |      || event_type AS pay
         |  FROM events WHERE event_id < 300)
         |SELECT event_id, pay AS recovered,
         |  CAST((octet_length(encode(pay)) + 6) // 7 AS BIGINT) AS n_chunks,
         |  CAST(octet_length(encode(pay)) AS BIGINT) AS total_bytes,
         |  TRUE AS contiguous, TRUE AS rt_ok
         |FROM p ORDER BY event_id""".stripMargin,

    // XOR codec family: every output byte recomputed over hex pairs —
    // the seed constant is 'p' (0x70) by construction, the 0x00 twin
    // pins the 0→0xFF promotion, the sliding key indexes cyclically
    // from the per-record offset
    "ig_xor_codecs" -> {
      val bv = "((strpos('0123456789ABCDEF', substr(hx, CAST(2*j+1 AS INT), 1)) - 1) * 16 " +
        "+ (strpos('0123456789ABCDEF', substr(hx, CAST(2*j+2 AS INT), 1)) - 1))"
      def fold(body: String, from: String, until: String) =
        s"list_reduce(list_prepend('', list_transform(range($from, $until), j -> $body)), (a, b) -> a || b)"
      s"""WITH b AS (
         |  SELECT event_id, 'px' || event_id || '/' || event_type AS msg
         |  FROM events WHERE event_id < 300),
         |m AS (SELECT event_id, hex(encode(msg)) AS hx, octet_length(encode(msg)) AS n FROM b),
         |kk AS (SELECT [11, 173, 192, 222, 66] AS sk)
         |SELECT event_id,
         |  lower('70' || ${fold(s"printf('%02x', xor($bv, 112))", "1", "n")}) AS seed_hex,
         |  lower('ff' || ${fold(s"printf('%02x', xor($bv, 255))", "0", "n")}) AS seed0_hex,
         |  lower(${fold(s"printf('%02x', xor($bv, sk[CAST((event_id % 5 + j) % 5 AS INT) + 1]))", "0", "n")}) AS slide_hex,
         |  lower(${fold(s"printf('%02x', xor($bv, 255))", "0", "n")}) AS not_hex
         |FROM m, kk ORDER BY event_id""".stripMargin
    },

    // DNS codec: the byte list is REBUILT in SQL (length-prefixed
    // labels + terminator + a trailing label + 0xC0 pointer) and the
    // decode walk is replayed with a 6-step unrolled state chain —
    // each step consumes one label, follows one pointer, or idles on
    // the terminator — so the engine's pointer-following semantics are
    // value-checked, not just round-tripped
    "ig_dns_decode" -> dnsDecodeOracleSql,
    "ig_dns_encode" -> dnsEncodeOracleSql,
    "ig_ip_cksum" -> ipCksumOracleSql,
    "ig_argv_tokens" -> argvOracleSql,

    // the engine side runs Structured Streaming micro-batches; the
    // oracle is the BATCH gap-sessionization — stream == batch is the
    // claim under check. session_window's boundary is exclusive (a gap
    // of exactly 30 min starts a new session) → >=; s_end is the
    // window end = last event + gap
    "ig_stream_sessions" ->
      s"""WITH g AS (
         |  SELECT user_id, ts, event_id,
         |    CASE WHEN LAG(ts) OVER w IS NULL
         |      OR ts - LAG(ts) OVER w >= INTERVAL '30' MINUTE THEN 1 ELSE 0 END AS new_s
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (
         |  SELECT user_id, ts,
         |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS UNBOUNDED PRECEDING) AS session_no
         |  FROM g)
         |SELECT user_id,
         |  epoch_us(MIN(ts)) AS s_start,
         |  epoch_us(MAX(ts)) + 1800000000 AS s_end,
         |  COUNT(*) AS n_events
         |FROM s GROUP BY user_id, session_no
         |ORDER BY user_id, s_start""".stripMargin,

    // the engine executes the checkpointed ingest TWICE; counts must
    // equal the raw table's and the replay delta must be zero
    "ig_stream_ingest" ->
      s"""SELECT user_id, COUNT(*) AS n_events,
         |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total,
         |  CAST(0 AS BIGINT) AS second_run_added
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Spark's window() aligns tumbling windows to the epoch, so the
    // oracle floors epoch micros to the 6 h stride directly
    "ig_stream_windows" ->
      s"""SELECT
         |  epoch_us(ts) // 21600000000 * 21600000000 AS w_start,
         |  event_type,
         |  COUNT(*) AS n,
         |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
         |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    // mixed-version wire decode: both versions' fields derive from the
    // same event columns, so the oracle recomputes them per version —
    // the engine's v1 binary slicing (MAC text at [1,17], ntohl uptime
    // at [21,24]) and the v2 TLV walk must both round-trip exactly
    "ig_ver1_decode" -> {
      val h = "lpad(to_hex(user_id * 131071 % 281474976710656), 12, '0')"
      s"""SELECT event_id AS rec_id,
         |  CASE WHEN event_id % 4 = 1 THEN 1 ELSE 2 END AS ver,
         |  lower(concat_ws('-', substr($h,1,2), substr($h,3,2), substr($h,5,2),
         |    substr($h,7,2), substr($h,9,2), substr($h,11,2))) AS mac,
         |  user_id * 37 % 864000 AS uptime_s
         |FROM events WHERE event_id < 300 ORDER BY rec_id""".stripMargin
    },

    // bz2 itself is not SQL-replayable; the oracle recomputes the
    // fields the engine must recover THROUGH the real decompression
    // (exact round-trip) and pins the wire receipts at TRUE
    "ig_bz2_wire" -> {
      val h = "lpad(to_hex(user_id * 131071 % 281474976710656), 12, '0')"
      s"""SELECT event_id AS rec_id,
         |  CASE WHEN event_id % 3 = 0 THEN 22 ELSE 29 END AS version,
         |  lower(concat_ws('-', substr($h,1,2), substr($h,3,2), substr($h,5,2),
         |    substr($h,7,2), substr($h,9,2), substr($h,11,2))) AS mac,
         |  user_id * 37 % 864000 AS uptime_s,
         |  CAST(16 * length('pid=' || CAST(event_id % 32768 AS VARCHAR)
         |    || ' state=S name=beacond' || chr(10)) AS INT) AS blob_len,
         |  TRUE AS magic_ok, TRUE AS shrunk
         |FROM events WHERE event_id < 300 ORDER BY rec_id""".stripMargin
    },

    // AES framing: the ciphertext itself has no DuckDB analog, so the
    // oracle checks what it CAN recompute — the payload-length and
    // frame-size arithmetic — and pins the three engine-side
    // validation verdicts at literal TRUE (same trick as dq17's
    // engine-asserted roundtrip). A wrong frame size, a failed
    // roundtrip, or a miss on either reject path breaks the hash.
    "ig_aes_frame" ->
      s"""WITH p AS (
         |  SELECT doc_id,
         |    'frame ' || CAST(doc_id AS VARCHAR) || ':' ||
         |      repeat('ab', CAST(doc_id % 40 AS INT)) AS pay
         |  FROM documents WHERE doc_id < 300)
         |SELECT doc_id,
         |  CAST(octet_length(encode(pay)) AS BIGINT) AS n,
         |  CAST(((octet_length(encode(pay)) + 17) // 16) * 16 AS BIGINT) AS frame_len,
         |  TRUE AS rt_ok, TRUE AS reject_cap, TRUE AS reject_align
         |FROM p ORDER BY doc_id""".stripMargin,

    "ig_beacon_dag" ->
      s"""WITH b AS (
         |  SELECT CASE WHEN event_id % 10 = 3 THEN 'bad' ELSE 'good' END AS route,
         |    CAST(user_id % 70 AS INT) AS os_code
         |  FROM events),
         |j AS (
         |  SELECT route, CASE WHEN route = 'bad' THEN '(any)'
         |    ELSE COALESCE(os_name, 'Unknown') END AS os_name
         |  FROM b LEFT JOIN ${valuesSql(Dims.osCodes, "code", "os_name")}
         |    ON b.os_code = t.code)
         |SELECT os_name, COUNT(*) AS n, route FROM j
         |GROUP BY route, os_name ORDER BY route, os_name""".stripMargin,

    // the full trigger pipeline — synth AND decode — replayed in SQL
    // over byte-value lists: a tampered crc changes the recovery
    // offset, the deobfuscated garbage is re-CRC'd, and ~1/65536 of
    // tampered packets crc-collide into bad_validator instead of
    // bad_crc (exactly one at sf0.1) — all deterministic arithmetic
    // once crc16 exists as a nibble-LUT list_reduce, so the collision
    // channel itself is hash-checked
    "ig_trigger_gates" -> triggerGatesOracleSql,

    "ig_trigger_delay" ->
      s"""WITH t AS (
         |  SELECT event_id, user_id, ts, user_id % 120 AS delay_s,
         |    (event_id % 61) - 30 AS variance
         |  FROM events WHERE event_id < 2000),
         |c AS (
         |  SELECT event_id, user_id, delay_s, variance,
         |    greatest(1, delay_s + variance) AS calc_delay,
         |    epoch_us(ts) + greatest(1, delay_s + variance) * 1000000 AS action_us
         |  FROM t)
         |SELECT event_id, delay_s, variance, calc_delay, action_us,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id
         |    ORDER BY action_us, event_id) AS INT) AS fire_order
         |FROM c ORDER BY event_id""".stripMargin,

    "ig_fork_callbacks" ->
      s"""SELECT event_id AS trigger_id,
         |  CASE WHEN event_id % 13 = 0 THEN 'fork_failed' ELSE 'ok' END AS status,
         |  CAST(CASE WHEN event_id % 13 = 0 THEN 0
         |       ELSE (event_id % 7 + 1) * 512 END AS BIGINT) AS bytes_sent
         |FROM events WHERE event_id < 300 ORDER BY trigger_id""".stripMargin,

    "ig_bthp_strip" -> {
      val dst = "((user_id * 2654435761) % 4294967296)"
      s"""SELECT event_id,
         |  user_id % 4294967296 AS proxy_id,
         |  ${dottedSql(ip)} AS beacon_ip,
         |  ${dottedSql(dst)} AS dst_ip,
         |  CAST(octet_length(encode(event_type)) AS BIGINT) AS data_len,
         |  event_type AS payload_text
         |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin
    },

    "ig_header_once" -> {
      val body = "printf('%-5d %-5s %-5d %-5d %-7d %s', CAST(event_id AS INT), 'S', " +
        "CAST(user_id % 32768 AS INT), CAST(user_id % 100 AS INT), " +
        "CAST(event_id % 100 AS INT), event_type)"
      s"""WITH l AS (
         |  SELECT user_id % 20 AS block, event_id, $body AS body
         |  FROM events WHERE event_id < 300),
         |r AS (
         |  SELECT block, event_id, body,
         |    ROW_NUMBER() OVER (PARTITION BY block ORDER BY event_id) AS rn
         |  FROM l)
         |SELECT block, event_id,
         |  CASE WHEN rn = 1
         |    THEN 'pid   state ppid  pgrp  session command' || chr(10) || body
         |    ELSE body END AS line
         |FROM r ORDER BY block, event_id""".stripMargin
    },

    "ig_key_gate" ->
      s"""SELECT event_id FROM events e
         |WHERE event_id < 2000 AND EXISTS (
         |  SELECT 1 FROM events k WHERE k.user_id % 7 = 0
         |  AND sha256(sha256('key-' || k.user_id)) = sha256(sha256('key-' || e.user_id)))
         |ORDER BY event_id""".stripMargin,

    "ig_rsi_roundtrip" ->
      s"""WITH x AS (
         |  SELECT event_id,
         |    concat('<ToolHandlerFile><header><ID>', event_id,
         |      '</ID><byteCount>', user_id,
         |      '</byteCount></header><beacon><deviceStats>', event_type,
         |      '</deviceStats></beacon></ToolHandlerFile>') AS doc
         |  FROM events WHERE event_id < 300)
         |SELECT event_id,
         |  CAST(regexp_extract(doc, '<ID>(\\d+)</ID>', 1) AS BIGINT) AS rid,
         |  CAST(regexp_extract(doc, '<byteCount>(\\d+)</byteCount>', 1) AS BIGINT) AS bytes,
         |  regexp_extract(doc, '<deviceStats>([^<]*)</deviceStats>', 1) AS stats
         |FROM x ORDER BY event_id""".stripMargin,

    "ig_session_stats" -> sessionStatsSql,

    // the day-sharded sessionizer replays to the SAME oracle: the
    // shard split + boundary merge is a pure execution-shape change
    "ig_sharded_sessions" -> sessionStatsSql,

    // the streaming TTL-tombstone semantics replayed in batch: a key
    // expires when the corpus watermark (max ts - 1h delay) passes its
    // last activity + the 4h TTL
    "ig_ttl_tombstones" ->
      s"""WITH wm AS (SELECT MAX(epoch_us(ts)) - 3600000000 AS wm_us FROM events),
         |a AS (SELECT user_id, MAX(epoch_us(ts)) AS last_seen_us
         |      FROM events GROUP BY user_id)
         |SELECT user_id, last_seen_us, 'ttl_expired' AS reason
         |FROM a, wm WHERE last_seen_us + 14400000000 < wm_us
         |ORDER BY user_id""".stripMargin,

    // the retention sweep replayed as a filter: the gate physically
    // deleted every partition below the last-7-days cutoff, so the
    // survivors' per-day aggregate must equal a plain age predicate
    "ig_retention_sweep" ->
      s"""WITH cut AS (SELECT CAST(MAX(ts) AS DATE) - 6 AS cd FROM events)
         |SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
         |  COUNT(DISTINCT user_id) AS n_users,
         |  MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us
         |FROM events, cut WHERE CAST(ts AS DATE) >= cd
         |GROUP BY 1 ORDER BY day""".stripMargin,

    // recomputes the landed-tables join/agg directly from the beacon
    // corpus' arithmetic derivation (good = no unknown-TLV slice)
    "ig_bucketed_sessions" ->
      s"""WITH good AS (
         |  SELECT 'imp-' || user_id AS implant_id, epoch_us(ts) AS beacon_us,
         |    CASE WHEN event_id % 10 = 0 THEN 22 ELSE 29 END AS version
         |  FROM events WHERE event_id % 10 <> 3),
         |g AS (
         |  SELECT implant_id, beacon_us, version,
         |    CASE WHEN LAG(beacon_us) OVER w IS NULL
         |      OR beacon_us - LAG(beacon_us) OVER w > 3600000000 THEN 1 ELSE 0 END AS new_s
         |  FROM good WINDOW w AS (PARTITION BY implant_id ORDER BY beacon_us)),
         |s AS (
         |  SELECT implant_id, beacon_us, version,
         |    CAST(SUM(new_s) OVER (PARTITION BY implant_id ORDER BY beacon_us
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
         |  FROM g)
         |SELECT implant_id, session_no, COUNT(*) AS n_beacons,
         |  CAST(SUM(CASE WHEN version = 22 THEN 1 ELSE 0 END) AS BIGINT) AS n_v22,
         |  MIN(beacon_us) AS started_us, MAX(beacon_us) AS ended_us
         |FROM s GROUP BY implant_id, session_no
         |ORDER BY implant_id, session_no""".stripMargin,

    "ig_ipv4_format" ->
      s"""SELECT event_id, $ip AS ip, ${dottedSql(ip)} AS dotted
         |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin,

    "ig_hex_format" ->
      s"""SELECT event_id, user_id % 65536 AS port,
         |lpad(upper(to_hex(user_id % 65536)), 4, '0') AS hexport
         |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin,

    "ig_mac_format" -> {
      val h = "lpad(to_hex(user_id * 131071 % 281474976710656), 12, '0')"
      s"""SELECT event_id, lower(concat_ws('-', substr($h,1,2), substr($h,3,2),
         |substr($h,5,2), substr($h,7,2), substr($h,9,2), substr($h,11,2))) AS mac
         |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin
    },

    "ig_flags_decode" ->
      s"""SELECT event_id, concat(
         |  CASE WHEN (user_id % 32) & 1 <> 0 THEN 'U' ELSE '' END,
         |  CASE WHEN (user_id % 32) & 2 <> 0 THEN 'G' ELSE '' END,
         |  CASE WHEN (user_id % 32) & 4 <> 0 THEN 'H' ELSE '' END,
         |  CASE WHEN (user_id % 32) & 8 <> 0 THEN 'D' ELSE '' END,
         |  CASE WHEN (user_id % 32) & 16 <> 0 THEN 'M' ELSE '' END) AS flags
         |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin,

    "ig_os_decode" ->
      s"""SELECT COALESCE(os_name, 'Unknown') AS os_name, COUNT(*) AS n
         |FROM (SELECT CAST(user_id % 70 AS INT) AS os_code FROM events) e
         |LEFT JOIN ${valuesSql(Dims.osCodes, "code", "os_name")} ON e.os_code = t.code
         |GROUP BY 1 ORDER BY os_name""".stripMargin,

    "ig_tcp_state" ->
      s"""SELECT event_id, CAST(event_id % 13 AS INT) AS state_code,
         |COALESCE(state_name, 'UNKNOWN') AS state_name
         |FROM events LEFT JOIN ${valuesSql(Dims.tcpStates, "code", "state_name")}
         |  ON CAST(event_id % 13 AS INT) = t.code
         |WHERE event_id < 300 ORDER BY event_id""".stripMargin,

    "ig_ip_remap" ->
      s"""SELECT event_id, COALESCE(public_ip, internal_ip) AS resolved_ip
         |FROM (SELECT event_id, concat('10.1.1.', event_id % 15 + 1) AS internal_ip
         |      FROM events WHERE event_id < 300) e
         |LEFT JOIN ${valuesSql(Dims.ipRemap, "internal_ip2", "public_ip")}
         |  ON e.internal_ip = t.internal_ip2
         |ORDER BY event_id""".stripMargin,

    "ig_prefix_match" -> {
      val gip = IpOfSql.format("(gid * 7)")
      s"""WITH e AS (SELECT * FROM events WHERE event_id < 2000),
         |iface AS (SELECT user_id, event_id, ${dottedSql(ip)} AS dotted FROM e),
         |gw AS (
         |  SELECT user_id, ${dottedSql(gip)} AS gdotted
         |  FROM (SELECT user_id, min(event_id) AS gid FROM e GROUP BY user_id)),
         |j AS (
         |  SELECT i.user_id, i.event_id,
         |    CASE WHEN i.dotted = g.gdotted THEN 1
         |         WHEN array_to_string((string_split(i.dotted,'.'))[1:3],'.') = array_to_string((string_split(g.gdotted,'.'))[1:3],'.') THEN 2
         |         WHEN array_to_string((string_split(i.dotted,'.'))[1:2],'.') = array_to_string((string_split(g.gdotted,'.'))[1:2],'.') THEN 3
         |         WHEN string_split(i.dotted,'.')[1] = string_split(g.gdotted,'.')[1] THEN 4
         |    END AS rank
         |  FROM iface i JOIN gw g ON i.user_id = g.user_id),
         |r AS (
         |  SELECT user_id, event_id, rank,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rank, event_id) AS rn
         |  FROM j WHERE rank IS NOT NULL)
         |SELECT user_id, event_id, rank FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin
    },

    "ig_validation" ->
      s"""SELECT CASE WHEN user_id % 70000 < 1 OR user_id % 70000 > 65535 THEN 'bad_port'
         |            WHEN event_id % 24 < 8 THEN 'bad_key'
         |            WHEN value % 40 < 0 OR value % 40 > 30 THEN 'bad_jitter'
         |            ELSE 'good' END AS route, COUNT(*) AS n
         |FROM events GROUP BY 1 ORDER BY route""".stripMargin,

    "ig_proc_parse" -> {
      val line = "printf('%d (%s) %s %d %d %d', CAST(event_id AS INT), event_type, 'S', " +
        "CAST(user_id % 32768 AS INT), CAST(user_id % 100 AS INT), CAST(event_id % 100 AS INT))"
      val re = "^(\\d+) \\((.*)\\) (\\S+) (\\d+) (\\d+) (\\d+)$"
      s"""WITH l AS (SELECT event_id, $line AS line FROM events WHERE event_id < 300)
         |SELECT event_id,
         |  CAST(regexp_extract(line, '$re', 1) AS BIGINT) AS pid,
         |  regexp_extract(line, '$re', 2) AS command,
         |  regexp_extract(line, '$re', 3) AS state,
         |  CAST(regexp_extract(line, '$re', 4) AS BIGINT) AS ppid,
         |  CAST(regexp_extract(line, '$re', 5) AS BIGINT) AS pgrp,
         |  CAST(regexp_extract(line, '$re', 6) AS BIGINT) AS sess
         |FROM l ORDER BY event_id""".stripMargin
    },

    // the three uptime-source dialects replayed: /proc/uptime first-
    // field integer part (linux), utmpx dump with LAST system-boot
    // record winning (solaris, incl. the boottime-stays-0 quirk when
    // no boot record survives), no source -> 0 (mikrotik)
    "ig_uptime_dialects" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id,
         |    CASE WHEN user_id % 3 = 0 THEN 'linux'
         |         WHEN user_id % 3 = 1 THEN 'solaris'
         |         ELSE 'mikrotik' END AS dialect,
         |    1700000000 + event_id % 86400 AS now,
         |    user_id * 37 % 864000 + event_id % 1000 AS up,
         |    1700000000 - (user_id % 97) * 1000 AS boot1,
         |    1700000000 - (user_id * 37 % 864000 + event_id % 1000) AS boot2
         |  FROM events WHERE event_id < 2000),
         |b AS (
         |  SELECT event_id, dialect, now,
         |    CASE WHEN dialect = 'linux' THEN
         |      CASE WHEN event_id % 17 = 9 THEN ''
         |           ELSE printf('%d.%02d %d.%02d', CAST(up AS INT),
         |                  CAST(event_id % 100 AS INT), CAST(up * 3 AS INT),
         |                  CAST(user_id % 100 AS INT)) END
         |    WHEN dialect = 'solaris' THEN
         |      'run-level 3|' || boot1 || chr(10) || 'LOGIN|' || (boot1 + 2)
         |      || CASE WHEN event_id % 17 = 9 THEN ''
         |              ELSE chr(10) || 'system boot|' || boot1 END
         |      || CASE WHEN event_id % 13 = 4 THEN ''
         |              ELSE chr(10) || 'system boot|' || boot2 END
         |    ELSE NULL END AS blob
         |  FROM e),
         |p AS (
         |  SELECT event_id, dialect, now, blob,
         |    string_split(string_split(trim(blob), ' ')[1], '.')[1] AS ff,
         |    list_filter(string_split(blob, chr(10)),
         |      l -> l LIKE 'system boot|%') AS boots
         |  FROM b),
         |q AS (
         |  SELECT event_id, dialect, now, ff, boots,
         |    now - COALESCE(TRY_CAST(string_split(boots[-1], '|')[-1] AS BIGINT), 0) AS sup,
         |    regexp_matches(ff, '^[0-9]+$$') AS lin_ok
         |  FROM p)
         |SELECT event_id, dialect,
         |  CASE WHEN dialect = 'linux' THEN
         |         COALESCE(CASE WHEN lin_ok THEN CAST(ff AS BIGINT) END, 0)
         |       WHEN dialect = 'solaris' THEN sup
         |       ELSE 0 END AS uptime_s,
         |  CASE WHEN dialect = 'linux' THEN COALESCE(lin_ok, FALSE)
         |       WHEN dialect = 'solaris' THEN sup != 0
         |       ELSE FALSE END AS src_ok,
         |  CASE WHEN dialect = 'solaris' THEN len(boots) > 0 END AS boot_found
         |FROM q ORDER BY event_id""".stripMargin,

    // the append-only key log replayed: short keys rejected before
    // the append, sha256 double-hash chain, per-key append sequence
    // (ts then run_id), chain head = is_current
    "ig_key_ledger" ->
      s"""WITH r AS (
         |  SELECT event_id AS run_id, ts,
         |    CASE WHEN event_id % 19 = 6 THEN 'k' || (user_id % 10)
         |         ELSE printf('phrase-%02d-%d', CAST(user_id % 40 AS INT),
         |                CAST(event_id % 3 AS INT)) END AS key_text
         |  FROM events WHERE event_id < 2000),
         |v AS (SELECT * FROM r WHERE length(key_text) >= 8),
         |h AS (
         |  SELECT run_id, key_text,
         |    strftime(ts, '%Y/%m/%d %H:%M:%S') AS ts_fmt,
         |    sha256(key_text) AS trigger_key, ts
         |  FROM v),
         |l AS (
         |  SELECT run_id, key_text, ts_fmt, trigger_key,
         |    sha256(trigger_key) AS implant_key,
         |    ROW_NUMBER() OVER (PARTITION BY key_text ORDER BY ts, run_id) AS seq,
         |    COUNT(*) OVER (PARTITION BY key_text) AS n
         |  FROM h)
         |SELECT run_id, key_text, ts_fmt, trigger_key, implant_key, seq,
         |  seq = n AS is_current
         |FROM l ORDER BY run_id""".stripMargin,
  )
}
