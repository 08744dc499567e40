package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-22 optimization guard: the scene-cut and video-fingerprint
  * payload synthesis moved from Column formula trees into native
  * expressions (the Column trees generated projection methods past
  * the JIT's huge-method limit — measured ~3.6 ms/doc interpreted).
  * The optimization claim is BYTE IDENTITY, so this spec compares the
  * native expression against the original Column formulation (kept in
  * PayloadReferences as *Columns) over a dense id range that covers every
  * planted slice: exact twins (vfp: ≡3 mod 7, ≥8), retouched twins
  * (≡7 mod 11, ≥16), short clips (≡2 mod 13), truncation slices
  * (scene: ≡6 mod 11; vfp: ≡4 mod 9), single-shot docs (scene: ≡0
  * mod 4), and all width/height/frame-count residues (mod 2/3/5/8).
  * `beacon_raw_tlv` is checked on residue grids, past the Long
  * wraparound, on negative ids, and on random pairs over the whole
  * Long domain.
  */
class PayloadParitySpec extends AnyFunSuite {

  lazy val spark: org.apache.spark.sql.SparkSession =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** ANSI arithmetic raises where the beacon reference's Long products
    * overflow, while the native expression wraps; grids past the
    * wraparound run on a session with the wrapping semantics the
    * native code mirrors. */
  lazy val legacy: org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "false")
    s
  }

  test("scene_y4m_payload == the Column formulation, byte for byte") {
    val diff = spark.range(0, 2000)
      .select(col("id").as("doc_id"),
        graft.operators.Multimodal.scenePayload(col("doc_id")).as("nat"),
        PayloadReferences.scenePayloadColumns(col("doc_id")).as("ref"))
      .filter(not(col("nat") === col("ref")))
      .count()
    assert(diff === 0, "native scene payload diverges from the Column formula")
  }

  test("vfp_y4m_payload == the Column formulation, byte for byte") {
    val diff = spark.range(0, 2000)
      .select(col("id").as("doc_id"),
        graft.operators.Multimodal.vfpPayload(col("doc_id")).as("nat"),
        PayloadReferences.vfpPayloadColumns(col("doc_id")).as("ref"))
      .filter(not(col("nat") === col("ref")))
      .count()
    assert(diff === 0, "native vfp payload diverges from the Column formula")
  }

  test("beacon_raw_tlv == the Column formulation, byte for byte") {
    import graft.functions.{CodecExpressions => CE}
    def diff(pairs: org.apache.spark.sql.DataFrame): Long = pairs
      .select(
        CE.beacon_raw_tlv(col("uid"), col("eid")).as("nat"),
        PayloadReferences.beaconRawTlvColumns(col("uid"), col("eid")).as("ref"))
      .filter(not(col("nat") === col("ref")))
      .count()
    // two (uid, eid) mappings: a dense small grid hitting every
    // branch residue (dialect uid%3, unknown-TLV eid%10==3, version
    // eid%10, state byte eid%11, pid eid%32768, port uid%65536, hex
    // width edges) and a large-value mapping exercising multi-digit
    // hex/decimal paths and the mod-2^32 ip wraparound
    val small = spark.range(0, 3000)
      .select((col("id") % 101).as("uid"), col("id").as("eid"))
    val large = spark.range(0, 2000)
      .select((col("id") * 7919 + 3).as("uid"), (col("id") * 104729 + 11).as("eid"))
    assert(diff(small.union(large)) === 0,
      "native beacon TLV diverges from the Column formula")
    // a third mapping past the corpus domain: uids from 2^31 to 2^62,
    // so uid*131071 crosses 2^48 (the mac's mod-2^48 step) and, from
    // 2^46 on, wraps Long negative (16-digit hex, lpad left-truncation,
    // negative modulus); eids up to ~2^53 wrap eid*2654435761 the same
    // way; it runs on the wrapping session.
    val huge = legacy.range(0, 2000)
      .select((pow(lit(2.0), lit(31) + col("id") % 32).cast("long") +
          col("id") * 7919).as("uid"),
        (col("id") * 4611686018427L + 11).as("eid"))
    assert(huge.filter(col("uid") * 131071 < 0).count() > 0,
      "the grid must reach the Long wraparound")
    assert(diff(huge) === 0,
      "native beacon TLV diverges from the Column formula past 2^48")
    // a fourth mapping with both ids negative: a dense grid of small
    // negatives (every residue, negative Java remainders, the dialect's
    // fall-through on uid % 3 < 0) crossed with edge values up to
    // Long.MinValue, where decimal fields carry a sign and every hex
    // field takes the 16-digit two's-complement form
    val edges = Seq(Long.MinValue, Long.MinValue + 1, -1L, -2L, -3L, -10L,
      -255L, -256L, -65536L, Int.MinValue.toLong, -(1L << 46), -(1L << 48),
      -4294967296L)
    val edgeIds = legacy.createDataFrame(edges.map(Tuple1(_))).toDF("v")
    val negative = legacy.range(0, 3000)
      .select((-(col("id") % 101) - 1).as("uid"), (-col("id") - 1).as("eid"))
      .union(edgeIds.select(col("v").as("uid"))
        .crossJoin(edgeIds.select(col("v").as("eid"))))
    assert(negative.filter(col("uid") >= 0 || col("eid") >= 0).count() === 0)
    assert(diff(negative) === 0,
      "native beacon TLV diverges from the Column formula on negative ids")
  }

  test("beacon_raw_tlv == the Column formulation on arbitrary (Long, Long)") {
    import org.scalacheck.{Arbitrary, Gen, Prop, Test}
    import org.scalacheck.util.Pretty
    import graft.functions.{CodecExpressions => CE}
    // every bit length and both signs, plus the extremes
    val id: Gen[Long] = Gen.frequency(
      9 -> (for { v <- Arbitrary.arbitrary[Long]; s <- Gen.choose(0, 63) } yield v >> s),
      1 -> Gen.oneOf(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L, Long.MaxValue))
    // one batch of pairs, compared in one Spark job that returns the
    // first diverging pair
    val prop = Prop.forAllNoShrink(Gen.listOfN(20000, Gen.zip(id, id))) { pairs =>
      val bad = legacy.createDataFrame(pairs).toDF("uid", "eid")
        .filter(not(CE.beacon_raw_tlv(col("uid"), col("eid")) ===
          PayloadReferences.beaconRawTlvColumns(col("uid"), col("eid"))))
        .limit(1).collect()
      Prop(bad.isEmpty) :| s"first diverging (uid, eid): ${bad.mkString}"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(1), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("native payloads decode through the same Y4M walk (spot lengths)") {
    // a doc of every interesting residue: frame counts, truncation,
    // twins — the decoded n_frames must match the planted geometry
    val ids = Seq(0L, 4L, 6L, 10L, 15L, 17L, 28L, 40L, 94L, 105L)
    ids.foreach { id =>
      val b = graft.functions.CodecImpl.sceneY4mPayload(id)
      assert(b.length > 30, s"scene payload for $id implausibly short")
      val v = graft.functions.CodecImpl.vfpY4mPayload(id)
      assert(v.length > 30, s"vfp payload for $id implausibly short")
    }
  }
}
