package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.CodecImpl

/** Multimodal-column plumbing: media treated as opaque `BINARY`
  * payloads with typed metadata, decoded by a batched per-partition
  * stage — the Scala analog of a `mapInPandas` decode pipeline.
  *
  * The actual media decode is a STUB (no image/audio libs in this
  * environment): [[decodeFrames]] derives deterministic fake
  * width/height/frame data from the payload bytes. Everything around
  * it is real and load-bearing — the binary schema, the typed
  * Dataset boundary, the batched iterator shape a native decoder
  * would plug into, and the downstream relational surface.
  */
object Multimodal {

  /** One media record: id + opaque payload. In the synthetic corpus the
    * payload is the document text's bytes standing in for media bytes.
    */
  case class MediaRow(doc_id: Long, payload: Array[Byte])

  /** Typed metadata as a real decoder would emit it. */
  case class MediaMeta(
      doc_id: Long,
      nbytes: Long,
      crc: Int,
      width: Int,     // STUB: derived, stands in for decoded width
      height: Int,    // STUB
      n_frames: Int,  // STUB: frame count for video-like payloads
      frame_crcs: Seq[Int]) // STUB: per-sampled-frame checksum

  /** Row shape at the decode seam: payload plus the byte-level facts
    * (nbytes, crc) already computed by codegen'd expressions — the
    * opaque stage only ever computes what genuinely needs a codec.
    */
  case class MediaPre(doc_id: Long, payload: Array[Byte], nbytes: Long, crc: Int)

  /** STUB decode of the payload proper: deterministic pseudo
    * width/height/frame data from the bytes. A real build replaces
    * ONLY this function with a codec call (e.g. libjpeg/ffmpeg) —
    * signature and surroundings stay. Byte-level facts arrive
    * precomputed; nothing here recomputes what an expression can.
    */
  def decodeFrames(doc_id: Long, b: Array[Byte], nbytes: Long, crc: Int): MediaMeta = {
    val n = b.length
    val width = 16 + (if (n > 0) (b(0) & 0xFF) % 240 else 0)
    val height = 16 + (if (n > 1) (b(1) & 0xFF) % 240 else 0)
    val nFrames = 1 + n % 16
    // "frame sampling": every ceil(n/4) bytes window gets a checksum
    val step = math.max(1, n / 4)
    val frameCrcs = (0 until n by step).take(4)
      .map(off => CodecImpl.crc16(java.util.Arrays.copyOfRange(b, off, math.min(n, off + step))))
    MediaMeta(doc_id, nbytes, crc, width, height, nFrames, frameCrcs)
  }

  /** Batched decode over partitions: payloads are processed in
    * fixed-size batches (the `mapInPandas` batch shape) so a native
    * decoder could amortize per-batch setup. Narrow operation — no
    * shuffle; partitioning carries over from the scan. nbytes and crc
    * are vectorized codegen'd expressions in the projection FEEDING
    * the seam (`octet_length`, `crc16_ccitt`); only the true decode
    * crosses the object boundary.
    */
  def extractFeatures(spark: SparkSession, dir: String, batchSize: Int = 64): Dataset[MediaMeta] = {
    import spark.implicits._
    val payload = col("text").cast("binary")
    Tables.documents(spark, dir)
      .select(col("doc_id"), payload.as("payload"),
        octet_length(payload).cast("bigint").as("nbytes"),
        graft.functions.CodecExpressions.crc16_ccitt(payload).as("crc"))
      .as[MediaPre]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // per-batch setup for a real codec would go here
          batch.iterator.map(r => decodeFrames(r.doc_id, r.payload, r.nbytes, r.crc))
        }
      }
  }

  /** Relational surface: oracle-checkable projection (byte lengths are
    * engine-independent facts about the payload). Pure vectorized
    * scan+project — metadata that is a property of the raw bytes never
    * pays for the decode stage; only `features` runs the decoder.
    */
  def meta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        octet_length(col("text").cast("binary")).cast("bigint").as("nbytes"))
      .orderBy("doc_id")

  /** Full stub-decoded feature table (engine-only; golden-checked in
    * the spec, rows-only in the driver gate).
    */
  def features(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(spark, dir)
      .select(col("doc_id"), col("nbytes"), col("crc"), col("width"),
        col("height"), col("n_frames"), array_max(col("frame_crcs")).as("max_frame_crc"))
      .orderBy("doc_id")

  /** REAL public-format decode path (round 13): a P6 PPM payload per
    * document — a genuine Netpbm header (`P6\n<w> <h>\n255\n`) plus a
    * w·h·3-byte RGB raster whose bytes come from a deterministic md5
    * chain — decoded by the native `ppm_decode` expression (header
    * grammar incl. comments, channel byte sums). Unlike the stub
    * seam above, nothing here is synthetic-in-name-only: the payload
    * IS a valid PPM file any Netpbm tool would open, and the decode
    * is a single codegen-resident expression, so the whole path stays
    * inside WholeStageCodegen with no object boundary. Payloads of
    * the `doc_id % 11 == 5` slice are truncated by one raster byte →
    * decode yields SQL null → the malformed routing channel.
    */
  /** The synthetic P6 payload column shared by the PPM gates: a
    * genuine Netpbm header over a deterministic md5-chain raster
    * (w = 4+id%5, h = 3+id%4), with the `doc_id % 11 == 5` slice
    * truncated by one raster byte → decode null (reject channel).
    */
  private def ppmPayload(did: Column): Column = {
    val w = (lit(4) + did % 5).cast("int")
    val h = (lit(3) + did % 4).cast("int")
    // 9 md5 blocks = 288 hex chars ≥ the largest raster (8·6·3 bytes)
    val chain = concat((0 until 9).map(i =>
      md5(concat(lit(s"px$i|"), did.cast("string")).cast("binary"))): _*)
    val pix = unhex(substr(chain, lit(1), w * h * lit(6)))
    val full = concat(
      concat(lit("P6\n"), w.cast("string"), lit(" "), h.cast("string"),
        lit("\n255\n")).cast("binary"),
      pix)
    when(did % 11 === 5,
      substr(full, lit(1), octet_length(full) - 1)).otherwise(full)
  }

  def ppmDecoded(spark: SparkSession, dir: String): DataFrame = {
    val did = col("doc_id")
    val dec = graft.functions.CodecExpressions.ppm_decode(ppmPayload(did))
    Tables.documents(spark, dir)
      .select(did, dec.as("d"))
      .select(did.as("doc_id"),
        col("d").isNotNull.as("valid"),
        col("d.width").as("width"), col("d.height").as("height"),
        col("d.maxval").as("maxval"), col("d.n_px").as("n_px"),
        col("d.sum_r").as("sum_r"), col("d.sum_g").as("sum_g"),
        col("d.sum_b").as("sum_b"))
      .orderBy("doc_id")
  }

  /** REAL resize over the real-format path (round 17): the same P6
    * payloads as [[ppmDecoded]], decoded and bilinear-resampled by
    * the native `ppm_resize` expression — integer 8.8 fixed-point
    * interpolation over actually-decoded planes (the stride-sample
    * seam above keeps its own gate as the pluggable-codec contract).
    * Targets vary per document and include a both-axis UPSCALE slice
    * (`doc_id % 6 == 1` → 10×7, larger than any source raster), so
    * the replicate-border clamp is exercised on both ends; the
    * `doc_id % 11 == 5` truncation slice flows through as decode
    * null. One codegen-resident expression per row — no object seam,
    * no shuffle; the whole stage is scan → project.
    */
  def ppmResized(spark: SparkSession, dir: String): DataFrame = {
    val did = col("doc_id")
    val tw = when(did % 6 === 1, 10).otherwise(lit(2) + did % 3).cast("int")
    val th = when(did % 6 === 1, 7).otherwise(lit(2) + did % 2).cast("int")
    val dec = graft.functions.CodecExpressions.ppm_resize(ppmPayload(did), tw, th)
    Tables.documents(spark, dir)
      .select(did, dec.as("d"))
      .select(did.as("doc_id"),
        col("d").isNotNull.as("valid"),
        col("d.out_w").as("out_w"), col("d.out_h").as("out_h"),
        col("d.sum_r").as("sum_r"), col("d.sum_g").as("sum_g"),
        col("d.sum_b").as("sum_b"), col("d.ord_fold").as("ord_fold"))
      .orderBy("doc_id")
  }

  /** Payload column for the perceptual-hash gates: the same P6
    * grammar and md5-chain raster as [[ppmPayload]], with planted
    * perceptual twins so the near-dup gate is non-vacuous on a
    * random-noise corpus (the dd_embedding_neardup lesson):
    *
    *  - docs ≡ 3 (mod 7), id ≥ 20 reuse the raster chain of
    *    doc_id − 20 — (w, h) has period lcm(5,4) = 20, so the mate's
    *    geometry is identical and the doc is an exact pixel twin
    *    (Hamming 0, guaranteed pair);
    *  - docs ≡ 7 (mod 11), id ≥ 40 (and not in the first slice) take
    *    doc_id − 40's chain with the first raster byte forced to
    *    0xFF — a one-pixel retouch the hash should mostly absorb
    *    (small, sometimes nonzero distance; a retouched pair near
    *    the d ≤ 3 cut can fall either side, and the oracle replays
    *    whichever side it falls);
    *  - the `doc_id % 11 == 5` truncation slice stays → decode null,
    *    so malformed payloads can never pair.
    */
  private def phashPayload(did: Column): Column = {
    val exact = did % 7 === 3 && did >= 20
    val pert = did % 11 === 7 && did >= 40 && !exact
    val base = when(exact, did - 20).when(pert, did - 40).otherwise(did)
    val w = (lit(4) + did % 5).cast("int")
    val h = (lit(3) + did % 4).cast("int")
    val chain = concat((0 until 9).map(i =>
      md5(concat(lit(s"px$i|"), base.cast("string")).cast("binary"))): _*)
    val hexLen = w * h * lit(6)
    val pixHex = when(pert,
      concat(lit("ff"), substr(chain, lit(3), hexLen - 2)))
      .otherwise(substr(chain, lit(1), hexLen))
    val full = concat(
      concat(lit("P6\n"), w.cast("string"), lit(" "), h.cast("string"),
        lit("\n255\n")).cast("binary"),
      unhex(pixHex))
    when(did % 11 === 5,
      substr(full, lit(1), octet_length(full) - 1)).otherwise(full)
  }

  /** Per-document perceptual fingerprints over the twin-planted P6
    * corpus: aHash (8×8 mean-threshold) and dHash (9×8 gradient-sign)
    * as native codegen expressions — decode, integer bilinear to the
    * hash grid, luma, bits, all inside one projection on the scan.
    * The oracle replays the resample per output byte, the BT.601
    * integer luma, and the exact 64-bit packing (sign bit via the
    * min-long xor), so both fingerprints are hash-checked, not just
    * shape-checked.
    */
  def phashes(spark: SparkSession, dir: String): DataFrame = {
    val did = col("doc_id")
    val p = phashPayload(did)
    Tables.documents(spark, dir)
      .select(did.as("doc_id"),
        graft.functions.CodecExpressions.ppm_ahash(p).as("ahash"),
        graft.functions.CodecExpressions.ppm_dhash(p).as("dhash"))
      .withColumn("valid", col("dhash").isNotNull)
      .orderBy("doc_id")
  }

  /** Perceptual near-dup PAIRS: dHash signatures fed to the banded-
    * Hamming pair join ([[Dedup.simhashPairsFrom]] — 4 disjoint
    * 16-bit bands, pigeonhole-complete for d ≤ 3, shuffle key =
    * (band, value), never the pair). The signature stage is a
    * codegen projection on the scan; pair work is proportional to
    * band-bucket collisions, not n² — the same scale shape as the
    * text SimHash gate, now over decoded image rasters. The oracle
    * recomputes every signature from the raster replay and verifies
    * all pairs exhaustively (xor + bit_count).
    */
  def phashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    val did = col("doc_id")
    val sig = Tables.documents(spark, dir)
      .select(did.as("doc_id"),
        graft.functions.CodecExpressions.ppm_dhash(phashPayload(did)).as("sh"))
      .filter(col("sh").isNotNull)
    Dedup.simhashPairsFrom(sig, maxHamming)
  }

  /** Little-endian u32/u16 as binary columns (BMP header fields). */
  private def le32(v: Column): Column = {
    val hx = lpad(hex(v.cast("bigint")), 8, "0")
    unhex(concat(substring(hx, 7, 2), substring(hx, 5, 2),
      substring(hx, 3, 2), substring(hx, 1, 2)))
  }
  private def le16(v: Column): Column = {
    val hx = lpad(hex(v.cast("bigint")), 4, "0")
    unhex(concat(substring(hx, 3, 2), substring(hx, 1, 2)))
  }

  /** Second real-format decode path: an uncompressed 24-bpp BMP per
    * document — BITMAPFILEHEADER + BITMAPINFOHEADER with genuine
    * little-endian fields, BGR pixel triplets from the md5 chain,
    * rows padded to the 4-byte stride, a `doc_id % 5 == 2` slice
    * stored TOP-DOWN (negative height field) — decoded by the native
    * `bmp_decode` expression. Exercises everything PPM cannot: LE
    * marshalling, stride padding that must be skipped (w ∈ 4..8 gives
    * pad 0–3 bytes per row), BGR order, and the height-sign row
    * orientation. `doc_id % 13 == 7` payloads lose their last byte →
    * the declared file size disagrees → decode null (reject channel).
    */
  def bmpDecoded(spark: SparkSession, dir: String): DataFrame = {
    val did = col("doc_id")
    val w = (lit(4) + did % 5).cast("int")
    val h = (lit(3) + did % 4).cast("int")
    val topDown = did % 5 === 2
    val rowSize = (w * 3 + 3) - pmod(w * 3 + 3, lit(4))
    val fileSize = lit(54) + rowSize * h
    val hField = when(topDown, lit(4294967296L) - h).otherwise(h.cast("bigint"))
    val chain = concat((0 until 9).map(i =>
      md5(concat(lit(s"bx$i|"), did.cast("string")).cast("binary"))): _*)
    val header = concat(
      lit("BM").cast("binary"),
      le32(fileSize),
      unhex(lit("00000000")),   // reserved
      le32(lit(54)),            // pixel-data offset
      le32(lit(40)),            // BITMAPINFOHEADER size
      le32(w), le32(hField),
      le16(lit(1)), le16(lit(24)),
      le32(lit(0)),             // BI_RGB
      le32(lit(0)),             // image size (0 valid for BI_RGB)
      le32(lit(0)), le32(lit(0)), le32(lit(0)), le32(lit(0)))
    // rows laid down consecutively from the chain, so the pixel stream
    // equals the chain prefix (the oracle sums over that prefix); each
    // row gets its 0-3 stride pad bytes
    val rowSegs = (0 until 6).map { r =>
      when(lit(r) < h,
        concat(unhex(substr(chain, w * lit(6) * r + 1, w * lit(6))),
          unhex(substr(lit("000000"), lit(1), (rowSize - w * 3) * 2))))
        .otherwise(lit(Array.emptyByteArray))
    }
    val full = concat(header +: rowSegs: _*)
    val payload = when(did % 13 === 7,
      substr(full, lit(1), octet_length(full) - 1)).otherwise(full)
    val dec = graft.functions.CodecExpressions.bmp_decode(payload)
    Tables.documents(spark, dir)
      .select(did, dec.as("d"))
      .select(did.as("doc_id"),
        col("d").isNotNull.as("valid"),
        col("d.width").as("width"), col("d.height").as("height"),
        col("d.top_down").as("top_down"), col("d.n_px").as("n_px"),
        col("d.sum_r").as("sum_r"), col("d.sum_g").as("sum_g"),
        col("d.sum_b").as("sum_b"))
      .orderBy("doc_id")
  }

  /** The audio modality's real-format path: a RIFF/WAVE PCM payload
    * per document — genuine 44-byte canonical header (RIFF size, fmt
    * chunk, byte-rate/block-align arithmetic the decoder validates),
    * interleaved signed 16-bit LE samples from the md5 chain, mono
    * and stereo slices, three sample rates — decoded by the native
    * `wav_decode` expression into per-channel signed sample sums.
    * `doc_id % 9 == 4` payloads lose their last byte → the data chunk
    * overruns → decode null (reject channel).
    */
  /** The synthetic RIFF/WAVE payload column shared by the audio
    * gates: canonical 44-byte header, interleaved signed 16-bit LE
    * samples from the md5 chain, mono/stereo + three-rate slices,
    * `doc_id % 9 == 4` truncated by one byte → decode null.
    */
  private def wavPayload(did: Column): Column = {
    val nch = (lit(1) + did % 2).cast("int")
    val rate = when(did % 3 === 0, 8000).when(did % 3 === 1, 16000)
      .otherwise(44100)
    val frames = (lit(5) + did % 6).cast("int")
    val dataLen = frames * nch * 2
    val chain = concat((0 until 3).map(i =>
      md5(concat(lit(s"wx$i|"), did.cast("string")).cast("binary"))): _*)
    val full = concat(
      lit("RIFF").cast("binary"), le32(lit(36) + dataLen),
      lit("WAVE").cast("binary"),
      lit("fmt ").cast("binary"), le32(lit(16)),
      le16(lit(1)), le16(nch), le32(rate), le32(rate * nch * 2),
      le16(nch * 2), le16(lit(16)),
      lit("data").cast("binary"), le32(dataLen),
      unhex(substr(chain, lit(1), dataLen * 2)))
    when(did % 9 === 4,
      substr(full, lit(1), octet_length(full) - 1)).otherwise(full)
  }

  def wavDecoded(spark: SparkSession, dir: String): DataFrame = {
    val did = col("doc_id")
    val dec = graft.functions.CodecExpressions.wav_decode(wavPayload(did))
    Tables.documents(spark, dir)
      .select(did, dec.as("d"))
      .select(did.as("doc_id"),
        col("d").isNotNull.as("valid"),
        col("d.channels").as("channels"), col("d.sample_rate").as("sample_rate"),
        col("d.bits").as("bits"), col("d.n_frames").as("n_frames"),
        col("d.sum_ch0").as("sum_ch0"), col("d.sum_ch1").as("sum_ch1"))
      .orderBy("doc_id")
  }

  /** The video modality's real-format path: a YUV4MPEG2 stream per
    * document — genuine ASCII stream header (`W`/`H`/`F25:1 Ip A0:0
    * C420` tags), 1–3 `FRAME`-marked raw 4:2:0 plane sets whose bytes
    * come from the md5 chain (even dims only, as 4:2:0 requires) —
    * decoded by the native `y4m_decode` expression into the frame
    * count and luma/chroma byte sums. The video-specific decode work
    * is the per-frame marker walk and the plane split; frame
    * SAMPLING over decoded frames stays with the stub seam above.
    * `doc_id % 7 == 3` payloads lose their last byte → the final
    * plane set truncates → decode null (reject channel).
    */
  def y4mDecoded(spark: SparkSession, dir: String): DataFrame = {
    val did = col("doc_id")
    val w = (lit(4) + (did % 3) * 2).cast("int")   // 4, 6, 8 — even
    val h = (lit(2) + (did % 2) * 2).cast("int")   // 2, 4 — even
    val nf = (lit(1) + did % 3).cast("int")        // 1..3 frames
    val frameSz = w * h + (w / 2) * (h / 2) * 2
    val chain = concat((0 until 9).map(i =>
      md5(concat(lit(s"vx$i|"), did.cast("string")).cast("binary"))): _*)
    val header = concat(lit("YUV4MPEG2 W"), w.cast("string"),
      lit(" H"), h.cast("string"), lit(" F25:1 Ip A0:0 C420\n")).cast("binary")
    val frameSegs = (0 until 3).map { f =>
      when(lit(f) < nf,
        concat(lit("FRAME\n").cast("binary"),
          unhex(substr(chain, frameSz * lit(2) * f + 1, frameSz * 2))))
        .otherwise(lit(Array.emptyByteArray))
    }
    val full = concat(header +: frameSegs: _*)
    val payload = when(did % 7 === 3,
      substr(full, lit(1), octet_length(full) - 1)).otherwise(full)
    val dec = graft.functions.CodecExpressions.y4m_decode(payload)
    Tables.documents(spark, dir)
      .select(did, dec.as("d"))
      .select(did.as("doc_id"),
        col("d").isNotNull.as("valid"),
        col("d.width").as("width"), col("d.height").as("height"),
        col("d.fps_num").as("fps_num"), col("d.fps_den").as("fps_den"),
        col("d.n_frames").as("n_frames"),
        col("d.sum_y").as("sum_y"), col("d.sum_c").as("sum_c"))
      .orderBy("doc_id")
  }

  /** Windowed audio features over the decoded PCM stream — the
    * feature-extraction pass a training pipeline runs after decode:
    * the native `wav_windows` expression emits per-window channel-0
    * absolute-amplitude sums and zero-crossing counts (integer-exact,
    * so the oracle replays every sample), posexploded to one row per
    * (doc, window). Decode + windowing is a single codegen projection
    * on the scan; the explode multiplies rows ≤ ceil(frames/win) —
    * no shuffle until the output sort. Truncated payloads decode
    * null and vanish (the reject channel belongs to mm_wav_decode).
    */
  def wavWindowed(spark: SparkSession, dir: String, win: Int = 4): DataFrame = {
    val did = col("doc_id")
    val dec = graft.functions.CodecExpressions.wav_windows(
      wavPayload(did), lit(win))
    // no isNotNull filter — posexplode of a null array emits zero
    // rows, and a pre-filter would run the decode twice per row
    Tables.documents(spark, dir)
      .select(did.as("doc_id"), dec.as("ws"))
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("win_no", "w")))
      .select(col("doc_id"), col("win_no"),
        col("w.n").as("n"), col("w.sum_abs").as("sum_abs"),
        col("w.zc").as("zc"))
      .orderBy("doc_id", "win_no")
  }

  /** Perceptual DEDUP VERDICTS — the drop rule over [[phashPairs]],
    * mirroring the text/embedding dedup surface for the image
    * modality: a document drops when its dHash pairs (d ≤ 3) with
    * any LOWER doc_id; the verdict row carries the minimum such
    * witness (`kept_by`), the closest distance, and the match count.
    * One groupBy on the dropped id after the banded pair join — the
    * same one-extra-shuffle step every dd_* verdict gate pays.
    */
  def phashDedup(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    phashPairs(spark, dir, maxHamming)
      .groupBy(col("j").as("doc_id"))
      .agg(min("i").as("kept_by"), min("dist").as("min_dist"),
        count(lit(1)).as("n_matches"))
      .orderBy("doc_id")

  /** At-ingest perceptual screen — the image modality's incremental
    * dedup contract (the dd_semantic_incr discipline): even doc_ids
    * are the landed HISTORY, odd the arriving batch; a batch doc
    * drops when its dHash sits within d ≤ 3 of ANY history doc
    * (landed copies win regardless of id) or of a LOWER-id batch doc
    * (intra-batch twins leave one survivor). Pairs come from the
    * same banded join over the combined signature set — history is
    * never rescanned pairwise against itself, and at deployment the
    * history side lands band-bucketed so a batch screen touches only
    * its band buckets.
    */
  def phashIncremental(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    Dedup.bandedIncrementalScreen(dhashSignatures(spark, dir), maxHamming)

  /** The image modality's signature table `(doc_id, sh)` — dHash
    * fingerprints over the twin-planted raster corpus, the input
    * every banded operator (pairs, verdicts, at-ingest screen, the
    * landed [[graft.plans.SigCatalog]]) consumes.
    */
  def dhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val did = col("doc_id")
    Tables.documents(spark, dir)
      .select(did.as("doc_id"),
        graft.functions.CodecExpressions.ppm_dhash(phashPayload(did)).as("sh"))
      .filter(col("sh").isNotNull)
  }

  /** Payload column for the audio-fingerprint gates: the same
    * RIFF/WAVE grammar as [[wavPayload]] but with ≥ 65-frame MONO
    * streams (the fingerprint needs 65 envelope samples; mono keeps
    * the sample chain at 9 md5 blocks — the image-payload size that
    * stays inside janino's method limit in the banded-join stage, so
    * the whole pair pipeline remains codegen'd; stereo striding is
    * pinned by the CodecImplSpec golden vectors and the
    * mm_wav_decode/windows gates) and planted perceptual twins,
    * mirroring [[phashPayload]]'s structure for the audio modality:
    *
    *  - docs ≡ 3 (mod 7), id ≥ 8 reuse the sample chain of
    *    doc_id − 8 — the frame count has period 8, so the mate's
    *    layout is identical and the doc is an exact sample twin
    *    (Hamming 0, guaranteed pair); the sample-rate slice may
    *    differ, which the fingerprint must ignore;
    *  - docs ≡ 7 (mod 11), id ≥ 16 (and not in the first slice) take
    *    doc_id − 16's chain with the first data byte forced to 0xFF —
    *    a one-sample retouch that can flip at most envelope bit 0
    *    (Hamming ≤ 1, always within the d ≤ 3 cut);
    *  - docs ≡ 2 (mod 13) are SHORT streams (20 frames): decode-valid
    *    but below the fingerprint's 65-frame floor → fingerprint
    *    null, so brief clips can never pair;
    *  - the `doc_id % 9 == 4` truncation slice stays → decode null.
    */
  private def afpPayload(did: Column): Column = {
    val exact = did % 7 === 3 && did >= 8
    val pert = did % 11 === 7 && did >= 16 && !exact
    val base = when(exact, did - 8).when(pert, did - 16).otherwise(did)
    val rate = when(did % 3 === 0, 8000).when(did % 3 === 1, 16000)
      .otherwise(44100)
    val frames = when(did % 13 === 2, 20)
      .otherwise(lit(65) + did % 8).cast("int")
    val dataLen = frames * 2
    // 9 md5 blocks = 288 hex chars — exactly the mono 72-frame max
    val chain = concat((0 until 9).map(i =>
      md5(concat(lit(s"ax$i|"), base.cast("string")).cast("binary"))): _*)
    val pixHex = when(pert,
      concat(lit("ff"), substr(chain, lit(3), dataLen * 2 - 2)))
      .otherwise(substr(chain, lit(1), dataLen * 2))
    val full = concat(
      lit("RIFF").cast("binary"), le32(lit(36) + dataLen),
      lit("WAVE").cast("binary"),
      lit("fmt ").cast("binary"), le32(lit(16)),
      le16(lit(1)), le16(lit(1)), le32(rate), le32(rate * 2),
      le16(lit(2)), le16(lit(16)),
      lit("data").cast("binary"), le32(dataLen),
      unhex(pixHex))
    when(did % 9 === 4,
      substr(full, lit(1), octet_length(full) - 1)).otherwise(full)
  }

  /** Per-document audio fingerprints over the twin-planted WAV
    * corpus: the 64-bit delta-sign envelope fingerprint as a native
    * codegen expression — decode, channel-0 amplitude walk, bit
    * packing, all inside one projection on the scan. Integer-exact,
    * so the oracle replays every bit from the sample chain.
    */
  def audioFingerprints(spark: SparkSession, dir: String): DataFrame = {
    val did = col("doc_id")
    Tables.documents(spark, dir)
      .select(did.as("doc_id"),
        graft.functions.CodecExpressions.wav_fingerprint(afpPayload(did)).as("afp"))
      .withColumn("valid", col("afp").isNotNull)
      .orderBy("doc_id")
  }

  /** Audio near-dup PAIRS: envelope fingerprints fed to the same
    * banded-Hamming pair join as the image dHash and text SimHash
    * gates ([[Dedup.simhashPairsFrom]] — 4 disjoint 16-bit bands,
    * pigeonhole-complete for d ≤ 3, shuffle key = (band, value)).
    * Pair work is proportional to band-bucket collisions, not n² —
    * one signature machinery now serving three modalities. The
    * oracle recomputes every fingerprint from the sample replay and
    * verifies all pairs exhaustively (xor + bit_count).
    */
  def audioFpPairs(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    val did = col("doc_id")
    val sig = Tables.documents(spark, dir)
      .select(did.as("doc_id"),
        graft.functions.CodecExpressions.wav_fingerprint(afpPayload(did)).as("sh"))
      .filter(col("sh").isNotNull)
    Dedup.simhashPairsFrom(sig, maxHamming)
  }

  /** At-ingest audio screen — [[Dedup.bandedIncrementalScreen]] over
    * the envelope fingerprints: even doc_ids are landed history, odd
    * the arriving batch; a batch clip drops on a history twin (ANY
    * id) or a lower-id batch twin. The same incremental contract as
    * [[phashIncremental]], same one machinery.
    */
  def audioFpIncremental(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    val did = col("doc_id")
    val sig = Tables.documents(spark, dir)
      .select(did.as("doc_id"),
        graft.functions.CodecExpressions.wav_fingerprint(afpPayload(did)).as("sh"))
      .filter(col("sh").isNotNull)
    Dedup.bandedIncrementalScreen(sig, maxHamming)
  }

  /** Audio DEDUP VERDICTS — the drop rule over [[audioFpPairs]]: a
    * clip drops when its fingerprint pairs (d ≤ 3) with any LOWER
    * doc_id; min witness, closest distance, match count — the same
    * verdict shape as [[phashDedup]] and every dd_* gate.
    */
  def audioFpDedup(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    audioFpPairs(spark, dir, maxHamming)
      .groupBy(col("j").as("doc_id"))
      .agg(min("i").as("kept_by"), min("dist").as("min_dist"),
        count(lit(1)).as("n_matches"))
      .orderBy("doc_id")

  /** Payload column for the video-fingerprint gates: a YUV4MPEG2
    * stream per document with CONSTANT-luma frames — frame f's luma
    * byte is md5-chain byte f of the BASE doc (5 blocks = 160 hex
    * chars cover the 72-frame max; well inside the 9-block janino
    * ceiling pinned in DESIGN §2), chroma planes a constant 0x80 the
    * walk must stride over — and planted perceptual twins mirroring
    * [[afpPayload]]'s structure for the video modality:
    *
    *  - docs ≡ 3 (mod 7), id ≥ 8 reuse the luma chain of doc_id − 8:
    *    the frame-mean series is identical, so the doc is an exact
    *    temporal twin (Hamming 0, guaranteed pair) — its DIMENSIONS
    *    still come from its own id, which the fingerprint must
    *    ignore (constant frames: sum order ≡ byte order at any n_px);
    *  - docs ≡ 7 (mod 11), id ≥ 16 (and not in the exact slice) take
    *    doc_id − 16's chain with frame 0's luma forced to 0xFF — a
    *    one-frame retouch that can flip at most envelope bit 0
    *    (Hamming ≤ 1, always within the d ≤ 3 cut);
    *  - docs ≡ 2 (mod 13) are SHORT clips (20 frames): decode-valid
    *    but below the fingerprint's 65-frame floor → fingerprint
    *    null, so brief clips can never pair;
    *  - docs ≡ 4 (mod 9) lose their last byte → decode null.
    */
  private[graft] def vfpPayload(did: Column): Column =
    graft.functions.CodecExpressions.vfp_y4m_payload(did)

  /** Per-document video fingerprints over the twin-planted Y4M
    * corpus: the 64-bit delta-sign of the per-frame mean-luma series
    * as a native codegen expression — header grammar, frame walk,
    * chroma stride and bit packing all inside one projection on the
    * scan. Integer-exact, so the oracle replays every bit from the
    * luma chain.
    */
  def videoFingerprints(spark: SparkSession, dir: String): DataFrame = {
    val did = col("doc_id")
    Tables.documents(spark, dir)
      .select(did.as("doc_id"),
        graft.functions.CodecExpressions.y4m_fingerprint(vfpPayload(did)).as("vfp"))
      .withColumn("valid", col("vfp").isNotNull)
      .orderBy("doc_id")
  }

  /** Video near-dup PAIRS: temporal fingerprints fed to the same
    * banded-Hamming pair join as text SimHash, image dHash and the
    * audio envelope ([[Dedup.simhashPairsFrom]] — 4 disjoint 16-bit
    * bands, pigeonhole-complete for d ≤ 3). One signature machinery,
    * FOUR modalities. The oracle recomputes every fingerprint from
    * the chain replay and verifies all pairs exhaustively.
    */
  def videoFpPairs(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    val did = col("doc_id")
    val sig = Tables.documents(spark, dir)
      .select(did.as("doc_id"),
        graft.functions.CodecExpressions.y4m_fingerprint(vfpPayload(did)).as("sh"))
      .filter(col("sh").isNotNull)
    Dedup.simhashPairsFrom(sig, maxHamming)
  }

  /** Video DEDUP VERDICTS — the drop rule over [[videoFpPairs]]: a
    * clip drops when its fingerprint pairs (d ≤ 3) with any LOWER
    * doc_id; min witness, closest distance, match count — the same
    * verdict shape as every dd_* gate.
    */
  def videoFpDedup(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    videoFpPairs(spark, dir, maxHamming)
      .groupBy(col("j").as("doc_id"))
      .agg(min("i").as("kept_by"), min("dist").as("min_dist"),
        count(lit(1)).as("n_matches"))
      .orderBy("doc_id")

  /** At-ingest video screen — [[Dedup.bandedIncrementalScreen]] over
    * the temporal fingerprints: even doc_ids are landed history, odd
    * the arriving batch; a batch clip drops on a history twin (ANY
    * id) or a lower-id batch twin. The same incremental contract —
    * and literally the same operator — as the image and audio
    * screens.
    */
  def videoFpIncremental(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    val did = col("doc_id")
    val sig = Tables.documents(spark, dir)
      .select(did.as("doc_id"),
        graft.functions.CodecExpressions.y4m_fingerprint(vfpPayload(did)).as("sh"))
      .filter(col("sh").isNotNull)
    Dedup.bandedIncrementalScreen(sig, maxHamming)
  }

  /** Payload for the scene-cut gate: a Y4M stream whose luma planes
    * are CONSTANT per frame — byte value = shot base + a small
    * deterministic per-frame jitter — so shot structure is planted
    * exactly: frames before `cutAt` sit near base₁ (40 + id%30),
    * frames after near base₂ (180 + id%40), jitter ±4. Within-shot
    * mean-luma deltas are ≤ 8; the cut jumps ≥ 100 — the 32/255
    * threshold is exercised from both sides with margin. Docs ≡ 0
    * (mod 4) are single-shot (no cut); docs ≡ 6 (mod 11) lose their
    * last byte → decode null. Chroma planes come from the md5 chain
    * (decoded but not summed — the luma walk must still skip them
    * correctly to land on the next FRAME marker).
    */
  private[graft] def scenePayload(did: Column): Column =
    graft.functions.CodecExpressions.scene_y4m_payload(did)

  /** Scene-cut detection over the video modality — the temporal
    * analysis pass of a frame-sampling pipeline: per-frame luma sums
    * from the native `y4m_frame_lumas` expression (one codegen
    * projection), posexploded to a per-frame series, then one
    * doc-partitioned lag window marks a cut wherever the mean-luma
    * jump |Δ| ≥ `thresholdMean`/255 (compared in sums: |Δsum| ≥
    * threshold·n_px, integer-exact). The window state per doc is its
    * frame count only; nothing is corpus-keyed, so the shape is
    * scan → project → explode → per-doc window at any corpus size.
    */
  def sceneCuts(spark: SparkSession, dir: String,
      thresholdMean: Int = 32): DataFrame = {
    val did = col("doc_id")
    val dec = graft.functions.CodecExpressions.y4m_frame_lumas(scenePayload(did))
    // no isNotNull filter: posexplode of a null struct's array emits
    // zero rows, and a pre-filter would evaluate the whole decode a
    // SECOND time per row (Filter + Project each inline it)
    val base = Tables.documents(spark, dir)
      .select(did.as("doc_id"), dec.as("d"))
      .select(col("doc_id"), col("d.n_px").as("n_px"),
        posexplode(col("d.y_sums")).as(Seq("frame_no", "y_sum")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_no")
    base
      .withColumn("d_prev", col("y_sum") - lag("y_sum", 1).over(w))
      .withColumn("is_cut", coalesce(
        abs(col("d_prev")) >= lit(thresholdMean) * col("n_px"), lit(false)))
      .orderBy("doc_id", "frame_no")
  }

  /** Row shape after the resize seam: the resized payload plus its
    * declared target geometry.
    */
  case class MediaResized(doc_id: Long, resized: Array[Byte], out_w: Int, out_h: Int)

  /** STUB resize: deterministic stride-sample of the payload down to
    * at most `tw*th` bytes — byte i of the output is source byte
    * `i * max(1, n / outLen)`. A real build replaces ONLY this
    * function with a codec-backed scaler (the batch seam, signature
    * and downstream expressions stay); the stub keeps the byte-level
    * contract deterministic so the driver oracle can replay it.
    */
  def resizeStub(b: Array[Byte], tw: Int, th: Int): Array[Byte] = {
    val n = b.length
    val outLen = math.min(n, tw * th)
    if (outLen <= 0) Array.emptyByteArray
    else {
      val k = math.max(1, n / outLen)
      Array.tabulate(outLen)(i => b(i * k))
    }
  }

  /** Batched resize over partitions — same seam discipline as
    * [[extractFeatures]]: a narrow mapPartitions in fixed-size
    * batches (a native scaler amortizes per-batch setup), fed by a
    * vectorized projection, with everything derivable from the OUTPUT
    * bytes (length, checksum) computed by codegen'd expressions after
    * the seam, not inside it.
    */
  def resized(spark: SparkSession, dir: String, tw: Int = 8, th: Int = 8,
      batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    val payload = col("text").cast("binary")
    val out = Tables.documents(spark, dir)
      .select(col("doc_id"), payload.as("payload"))
      .as[MediaRow]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // per-batch scaler setup would go here
          batch.iterator.map(r =>
            MediaResized(r.doc_id, resizeStub(r.payload, tw, th), tw, th))
        }
      }
    out.select(col("doc_id"),
        octet_length(col("resized")).cast("bigint").as("out_nbytes"),
        col("out_w"), col("out_h"),
        graft.functions.CodecExpressions.crc16_ccitt(col("resized")).as("out_crc"))
      .orderBy("doc_id")
  }
}
