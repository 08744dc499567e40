package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression, TernaryExpression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expressions over [[CodecImpl]] — the engine's non-SQL
  * scalar surface (SURVEY §4.2). All are deterministic, null-safe
  * (null in → null out) and foldable under constant inputs, so
  * Catalyst can constant-fold them; all generate code via static
  * calls into top-level objects ([[CodecImpl]]/[[CodecCodegen]]),
  * keeping whole-stage codegen intact.
  */
object CodecExpressions {

  private val Impl = "graft.functions.CodecImpl"
  private val Bridge = "graft.functions.CodecCodegen"

  case class Crc16(child: Expression) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def nullSafeEval(v: Any): Any = CodecImpl.crc16(v.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, b => s"$Impl.crc16($b)")
    override protected def withNewChildInternal(c: Expression): Crc16 = copy(c)
    override def prettyName: String = "crc16_ccitt"
  }

  case class IpCksum(child: Expression) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def nullSafeEval(v: Any): Any = CodecImpl.ipCksum(v.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, b => s"$Impl.ipCksum($b)")
    override protected def withNewChildInternal(c: Expression): IpCksum = copy(c)
    override def prettyName: String = "ip_cksum"
  }

  /** `xtea_encrypt(BINARY, BINARY) → BINARY`; a key that is not 16
    * bytes gives null.
    */
  case class XteaEncrypt(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def nullSafeEval(d: Any, k: Any): Any =
      CodecCodegen.xteaEncrypt(d.asInstanceOf[Array[Byte]], k.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (d, k) => s"""
        ${ev.value} = $Bridge.xteaEncrypt($d, $k);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): XteaEncrypt = copy(l, r)
    override def prettyName: String = "xtea_encrypt"
  }

  /** `xtea_decrypt(BINARY, BINARY) → BINARY`; a key that is not 16
    * bytes gives null.
    */
  case class XteaDecrypt(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def nullSafeEval(d: Any, k: Any): Any =
      CodecCodegen.xteaDecrypt(d.asInstanceOf[Array[Byte]], k.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (d, k) => s"""
        ${ev.value} = $Bridge.xteaDecrypt($d, $k);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): XteaDecrypt = copy(l, r)
    override def prettyName: String = "xtea_decrypt"
  }

  case class SizeDecode(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any = CodecImpl.sizeDecode(v.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, b => s"$Impl.sizeDecode($b)")
    override protected def withNewChildInternal(c: Expression): SizeDecode = copy(c)
    override def prettyName: String = "size_decode"
  }

  /** `size_encode(BIGINT) → BINARY`; a negative size gives null. */
  case class SizeEncode(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(LongType)
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = CodecCodegen.sizeEncode(v.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, n => s"""
        ${ev.value} = $Bridge.sizeEncode($n);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)
    override protected def withNewChildInternal(c: Expression): SizeEncode = copy(c)
    override def prettyName: String = "size_encode"
  }

  /** `key_extract(BINARY) → BINARY`; a buffer too short for the key
    * gives null.
    */
  case class KeyExtract(child: Expression) extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = CodecCodegen.keyExtract(v.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, b => s"""
        ${ev.value} = $Bridge.keyExtract($b);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)
    override protected def withNewChildInternal(c: Expression): KeyExtract = copy(c)
    override def prettyName: String = "key_extract"
  }

  case class SeedXor(child: Expression) extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def nullSafeEval(v: Any): Any = CodecImpl.seedXor(v.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, b => s"$Impl.seedXor($b)")
    override protected def withNewChildInternal(c: Expression): SeedXor = copy(c)
    override def prettyName: String = "seed_xor"
  }

  /** `sliding_xor(BINARY, BINARY, INT) → BINARY`; an empty key or a
    * negative offset gives null.
    */
  case class SlidingXor(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def nullSafeEval(d: Any, k: Any, o: Any): Any =
      CodecCodegen.slidingXor(d.asInstanceOf[Array[Byte]], k.asInstanceOf[Array[Byte]],
        o.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (d, k, o) => s"""
        ${ev.value} = $Bridge.slidingXor($d, $k, $o);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)
    override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): SlidingXor =
      copy(a, b, c)
    override def prettyName: String = "sliding_xor"
  }

  /** `dns_name_decode(BINARY, INT) → STRING`; a malformed name decodes
    * to null.
    */
  case class DnsNameDecode(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(d: Any, o: Any): Any =
      CodecCodegen.dnsNameDecode(d.asInstanceOf[Array[Byte]], o.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (d, o) => s"""
        ${ev.value} = $Bridge.dnsNameDecode($d, $o);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): DnsNameDecode = copy(l, r)
    override def prettyName: String = "dns_name_decode"
  }

  /** `dns_name_encode(STRING) → BINARY`; a label over 63 bytes gives
    * null.
    */
  case class DnsNameEncode(child: Expression) extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any =
      CodecCodegen.dnsNameEncode(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, n => s"""
        ${ev.value} = $Bridge.dnsNameEncode($n);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)
    override protected def withNewChildInternal(c: Expression): DnsNameEncode = copy(c)
    override def prettyName: String = "dns_name_encode"
  }

  case class MacFormat(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any =
      UTF8String.fromString(CodecImpl.macFormat(v.asInstanceOf[Array[Byte]]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, b => s"$Bridge.macFormat($b)")
    override protected def withNewChildInternal(c: Expression): MacFormat = copy(c)
    override def prettyName: String = "mac_format"
  }

  val tlvEntryType: StructType =
    StructType(Seq(StructField("type", IntegerType, nullable = false),
      StructField("value", BinaryType, nullable = false)))

  /** `tlv_decode(BINARY) → ARRAY<STRUCT<type INT, value BINARY>>`
    * (SURVEY §4.2); explode downstream for per-field rows. A truncated
    * frame decodes to null.
    */
  case class TlvDecode(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(tlvEntryType, containsNull = false)
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any =
      CodecCodegen.tlvDecode(v.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, b => s"""
        ${ev.value} = $Bridge.tlvDecode($b);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)
    override protected def withNewChildInternal(c: Expression): TlvDecode = copy(c)
    override def prettyName: String = "tlv_decode"
  }

  /** `tlv_encode(ARRAY<STRUCT<type INT, value BINARY>>) → BINARY`. */
  case class TlvEncode(child: Expression) extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def nullSafeEval(v: Any): Any =
      CodecCodegen.tlvEncode(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"$Bridge.tlvEncode($a)")
    override protected def withNewChildInternal(c: Expression): TlvEncode = copy(c)
    override def prettyName: String = "tlv_encode"
  }

  val bthpType: StructType = StructType(Seq(
    StructField("ver", IntegerType, nullable = false),
    StructField("type", IntegerType, nullable = false),
    StructField("hdr_len", IntegerType, nullable = false),
    StructField("data_len", LongType, nullable = false),
    StructField("proxy_id", LongType, nullable = false),
    StructField("beacon_ip", StringType),
    StructField("dst_ip", StringType),
    StructField("proxy_ip", StringType),
    StructField("payload", BinaryType, nullable = false)))

  /** `bthp_strip(BINARY) → STRUCT<...>`: proxy-envelope removal
    * (`honeycomb.py:138-183`), the framing stage in front of the
    * beacon listener (SURVEY §3.3). A truncated envelope decodes to
    * null.
    */
  case class BthpStrip(child: Expression) extends UnaryExpression {
    override def dataType: DataType = bthpType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any =
      CodecCodegen.bthpStrip(v.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, b => s"""
        ${ev.value} = $Bridge.bthpStrip($b);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)
    override protected def withNewChildInternal(c: Expression): BthpStrip = copy(c)
    override def prettyName: String = "bthp_strip"
  }

  /** `bthp_frame(payload BINARY, proxy_id BIGINT, beacon_ip STRING,
    * dst_ip STRING) → BINARY`: the envelope writer
    * (`honeycomb.py:120-135`), here mainly the round-trip twin of
    * `bthp_strip`. Null payload → null; null IPs are simply omitted
    * from the additional headers (reference behavior for absent data).
    */
  case class BthpFrame(children: Seq[Expression]) extends Expression
      with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes
      with CodegenFallback {
    require(children.length == 4, "bthp_frame(payload, proxy_id, beacon_ip, dst_ip)")
    // declared input types buy implicit casts (INT literal proxy ids
    // coerce to BIGINT) and analysis-time errors instead of a runtime
    // ClassCastException in eval
    override def inputTypes: Seq[DataType] =
      Seq(BinaryType, LongType, StringType, StringType)
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val payload = children(0).eval(input)
      val proxyId = children(1).eval(input)
      if (payload == null || proxyId == null) null
      else {
        def ip(i: Int): String = children(i).eval(input) match {
          case null => null
          case s: UTF8String => s.toString
        }
        CodecImpl.bthpFrame(payload.asInstanceOf[Array[Byte]],
          proxyId.asInstanceOf[Long], ip(2), ip(3))
      }
    }
    override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): BthpFrame =
      copy(cs)
    override def prettyName: String = "bthp_frame"
  }

  val ppmStatsType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("maxval", IntegerType, nullable = false),
    StructField("n_px", IntegerType, nullable = false),
    StructField("sum_r", LongType, nullable = false),
    StructField("sum_g", LongType, nullable = false),
    StructField("sum_b", LongType, nullable = false)))

  /** `ppm_decode(BINARY) → STRUCT<width,height,maxval,n_px,sum_r,g,b>`:
    * real P6 Netpbm decode (header grammar incl. comments + RGB
    * raster channel sums); malformed input → null (error routing).
    * See [[CodecImpl.ppmDecode]].
    */
  case class PpmDecode(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def dataType: DataType = ppmStatsType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any =
      CodecCodegen.ppmDecode(v.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, b => s"""
        ${ev.value} = $Bridge.ppmDecode($b);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)
    override protected def withNewChildInternal(c: Expression): PpmDecode = copy(c)
    override def prettyName: String = "ppm_decode"
  }

  val ppmResizeType: StructType = StructType(Seq(
    StructField("out_w", IntegerType, nullable = false),
    StructField("out_h", IntegerType, nullable = false),
    StructField("sum_r", LongType, nullable = false),
    StructField("sum_g", LongType, nullable = false),
    StructField("sum_b", LongType, nullable = false),
    StructField("ord_fold", LongType, nullable = false)))

  /** `ppm_resize(BINARY, INT, INT) → STRUCT<out_w,out_h,sum_r,g,b,ord_fold>`:
    * P6 decode + integer bilinear resample to the target geometry
    * (8.8 fixed point, replicate-border — [[CodecImpl.bilinear3]]),
    * emitting channel sums plus the position-weighted byte fold that
    * pins the exact resampled stream. Malformed payload or
    * nonpositive target → null (error routing).
    */
  case class PpmResize(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType, IntegerType, IntegerType)
    override def dataType: DataType = ppmResizeType
    override def nullable: Boolean = true
    override def nullSafeEval(b: Any, tw: Any, th: Any): Any =
      CodecCodegen.ppmResize(b.asInstanceOf[Array[Byte]],
        tw.asInstanceOf[Int], th.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (b, tw, th) => s"""
        ${ev.value} = $Bridge.ppmResize($b, $tw, $th);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)
    override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): PpmResize =
      copy(a, b, c)
    override def prettyName: String = "ppm_resize"
  }

  /** `ppm_dhash(BINARY) → BIGINT`: perceptual difference hash — P6
    * decode + integer bilinear to a 9×8 luma grid + horizontal
    * gradient signs ([[CodecImpl.ppmDhash]]). Null on malformed
    * payload. A single codegen-resident expression, so the signature
    * stage of the perceptual near-dup pipeline is scan → project.
    */
  case class PpmDhash(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val r = CodecCodegen.ppmDhash(v.asInstanceOf[Array[Byte]])
      if (r == null) null else r.longValue()
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, b => {
        val r = ctx.freshName("dh")
        s"""
        java.lang.Long $r = $Bridge.ppmDhash($b);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
        """
      })
    override protected def withNewChildInternal(c: Expression): PpmDhash = copy(c)
    override def prettyName: String = "ppm_dhash"
  }

  /** `ppm_ahash(BINARY) → BIGINT`: perceptual average hash — 8×8 luma
    * grid, mean-threshold bits ([[CodecImpl.ppmAhash]]).
    */
  case class PpmAhash(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val r = CodecCodegen.ppmAhash(v.asInstanceOf[Array[Byte]])
      if (r == null) null else r.longValue()
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, b => {
        val r = ctx.freshName("ah")
        s"""
        java.lang.Long $r = $Bridge.ppmAhash($b);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
        """
      })
    override protected def withNewChildInternal(c: Expression): PpmAhash = copy(c)
    override def prettyName: String = "ppm_ahash"
  }

  val bmpStatsType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("top_down", BooleanType, nullable = false),
    StructField("n_px", IntegerType, nullable = false),
    StructField("sum_r", LongType, nullable = false),
    StructField("sum_g", LongType, nullable = false),
    StructField("sum_b", LongType, nullable = false)))

  /** `bmp_decode(BINARY) → STRUCT<width,height,top_down,n_px,sum_r,g,b>`:
    * real uncompressed 24-bpp BMP decode (LE headers, BGR order,
    * 4-byte row stride, bottom-up/top-down); malformed → null.
    * See [[CodecImpl.bmpDecode]].
    */
  case class BmpDecode(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def dataType: DataType = bmpStatsType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any =
      CodecCodegen.bmpDecode(v.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, b => s"""
        ${ev.value} = $Bridge.bmpDecode($b);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)
    override protected def withNewChildInternal(c: Expression): BmpDecode = copy(c)
    override def prettyName: String = "bmp_decode"
  }

  val wavStatsType: StructType = StructType(Seq(
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("sum_ch0", LongType, nullable = false),
    StructField("sum_ch1", LongType, nullable = false)))

  /** `wav_decode(BINARY) → STRUCT<channels,sample_rate,bits,n_frames,
    * sum_ch0,sum_ch1>`: real RIFF/WAVE PCM decode (16-bit LE signed
    * samples, per-channel sums); malformed → null.
    * See [[CodecImpl.wavDecode]].
    */
  case class WavDecode(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def dataType: DataType = wavStatsType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any =
      CodecCodegen.wavDecode(v.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, b => s"""
        ${ev.value} = $Bridge.wavDecode($b);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)
    override protected def withNewChildInternal(c: Expression): WavDecode = copy(c)
    override def prettyName: String = "wav_decode"
  }

  val y4mStatsType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("fps_num", IntegerType, nullable = false),
    StructField("fps_den", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("sum_y", LongType, nullable = false),
    StructField("sum_c", LongType, nullable = false)))

  /** `y4m_decode(BINARY) → STRUCT<width,height,fps_num,fps_den,
    * n_frames,sum_y,sum_c>`: real YUV4MPEG2 decode (header tags,
    * FRAME-marker walk, 4:2:0 plane split); malformed → null.
    * See [[CodecImpl.y4mDecode]].
    */
  case class Y4mDecode(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def dataType: DataType = y4mStatsType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any =
      CodecCodegen.y4mDecode(v.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, b => s"""
        ${ev.value} = $Bridge.y4mDecode($b);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)
    override protected def withNewChildInternal(c: Expression): Y4mDecode = copy(c)
    override def prettyName: String = "y4m_decode"
  }

  val y4mFrameLumasType: StructType = StructType(Seq(
    StructField("n_px", IntegerType, nullable = false),
    StructField("y_sums", ArrayType(LongType, containsNull = false),
      nullable = false)))

  /** `y4m_frame_lumas(BINARY) → STRUCT<n_px INT, y_sums ARRAY<BIGINT>>`:
    * the TEMPORAL decode path — one luma-plane byte sum per frame
    * (posexplode downstream for a per-frame series), with `n_px` so
    * mean-luma thresholds scale without re-parsing the header. Same
    * accept/reject language as `y4m_decode` (shared header parser).
    */
  /** `scene_y4m_payload(BIGINT) → BINARY` — native synthesis of the
    * scene-cut gate's planted Y4M payload (byte-identical to the
    * Column formula it replaced; see [[CodecImpl.sceneY4mPayload]]).
    */
  case class SceneY4mPayload(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(LongType)
    override def dataType: DataType = BinaryType
    override def nullSafeEval(v: Any): Any =
      CodecImpl.sceneY4mPayload(v.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, d => s"$Impl.sceneY4mPayload($d)")
    override protected def withNewChildInternal(c: Expression): SceneY4mPayload = copy(c)
    override def prettyName: String = "scene_y4m_payload"
  }

  /** `vfp_y4m_payload(BIGINT) → BINARY` — native synthesis of the
    * video-fingerprint gates' twin-planted Y4M payload
    * (byte-identical to the Column formula it replaced; see
    * [[CodecImpl.vfpY4mPayload]]).
    */
  case class VfpY4mPayload(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(LongType)
    override def dataType: DataType = BinaryType
    override def nullSafeEval(v: Any): Any =
      CodecImpl.vfpY4mPayload(v.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, d => s"$Impl.vfpY4mPayload($d)")
    override protected def withNewChildInternal(c: Expression): VfpY4mPayload = copy(c)
    override def prettyName: String = "vfp_y4m_payload"
  }

  /** `beacon_raw_tlv(BIGINT, BIGINT) → BINARY` — the beacon DAG's
    * planted TLV wire payload for (user_id, event_id), written by one
    * byte-level writer per row (byte-identical to the reference Column
    * formula on the whole Long domain; see [[CodecImpl.beaconRawTlv]]).
    */
  case class BeaconRawTlv(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
    override def dataType: DataType = BinaryType
    override def nullSafeEval(u: Any, e: Any): Any =
      CodecImpl.beaconRawTlv(u.asInstanceOf[Long], e.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (u, e) => s"$Impl.beaconRawTlv($u, $e)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): BeaconRawTlv = copy(l, r)
    override def prettyName: String = "beacon_raw_tlv"
  }

  case class Y4mFrameLumas(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def dataType: DataType = y4mFrameLumasType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any =
      CodecCodegen.y4mFrameLumas(v.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, b => s"""
        ${ev.value} = $Bridge.y4mFrameLumas($b);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)
    override protected def withNewChildInternal(c: Expression): Y4mFrameLumas = copy(c)
    override def prettyName: String = "y4m_frame_lumas"
  }

  /** `wav_fingerprint(BINARY) → BIGINT`: 64-bit audio fingerprint —
    * delta-sign pattern of the ch0 amplitude envelope over the first
    * 65 frames ([[CodecImpl.wavFingerprint]]); null on malformed
    * payload or a too-short stream.
    */
  case class WavFingerprint(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val r = CodecCodegen.wavFingerprint(v.asInstanceOf[Array[Byte]])
      if (r == null) null else r.longValue()
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, b => {
        val r = ctx.freshName("fp")
        s"""
        java.lang.Long $r = $Bridge.wavFingerprint($b);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
        """
      })
    override protected def withNewChildInternal(c: Expression): WavFingerprint = copy(c)
    override def prettyName: String = "wav_fingerprint"
  }

  /** `y4m_fingerprint(BINARY) → BIGINT`: 64-bit video fingerprint —
    * delta-sign pattern of the per-frame mean-luma series over the
    * first 65 frames ([[CodecImpl.y4mFingerprint]]); null on a
    * malformed stream or a too-short one.
    */
  case class Y4mFingerprint(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val r = CodecCodegen.y4mFingerprint(v.asInstanceOf[Array[Byte]])
      if (r == null) null else r.longValue()
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, b => {
        val r = ctx.freshName("fp")
        s"""
        java.lang.Long $r = $Bridge.y4mFingerprint($b);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
        """
      })
    override protected def withNewChildInternal(c: Expression): Y4mFingerprint = copy(c)
    override def prettyName: String = "y4m_fingerprint"
  }

  val wavWindowType: StructType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("sum_abs", LongType, nullable = false),
    StructField("zc", IntegerType, nullable = false)))

  /** `wav_windows(BINARY, INT) → ARRAY<STRUCT<n, sum_abs, zc>>`:
    * windowed channel-0 audio features (absolute-amplitude sum +
    * zero-crossing count per `win`-frame window, last window
    * partial) — [[CodecImpl.wavWindows]]. Null on malformed payload
    * or nonpositive window.
    */
  case class WavWindows(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType, IntegerType)
    override def dataType: DataType =
      ArrayType(wavWindowType, containsNull = false)
    override def nullable: Boolean = true
    override def nullSafeEval(b: Any, w: Any): Any =
      CodecCodegen.wavWindows(b.asInstanceOf[Array[Byte]], w.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (b, w) => s"""
        ${ev.value} = $Bridge.wavWindows($b, $w);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): WavWindows =
      copy(l, r)
    override def prettyName: String = "wav_windows"
  }

  /** `bz2_compress(BINARY) → BINARY`: bzip2 wire compression
    * (`server/compression.c:13-31`, block size 9). Static call into
    * [[CodecImpl]] keeps whole-stage codegen intact.
    */
  case class Bz2Compress(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def dataType: DataType = BinaryType
    override def nullSafeEval(v: Any): Any =
      CodecImpl.bz2Compress(v.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, b => s"$Impl.bz2Compress($b)")
    override protected def withNewChildInternal(c: Expression): Bz2Compress = copy(c)
    override def prettyName: String = "bz2_compress"
  }

  /** `bz2_decompress(BINARY, max_len INT) → BINARY`: version ≥ 23
    * payload decompression (`honeycomb.py:209-213`); malformed stream
    * or output past max_len → null (error routing + bomb cap).
    */
  case class Bz2Decompress(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType, IntegerType)
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any, m: Any): Any =
      CodecImpl.bz2Decompress(v.asInstanceOf[Array[Byte]], m.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (b, m) => s"""
        ${ev.value} = $Impl.bz2Decompress($b, $m);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Bz2Decompress =
      copy(l, r)
    override def prettyName: String = "bz2_decompress"
  }

  /** Session-frame encrypt (`crypto.c:205-273`): payload + 256-bit
    * key → length-prefixed, zero-padded, AES-CBC-encrypted frame; the
    * IV is derived as md5(key) per `crypto.c:146`. CodegenFallback:
    * the JCE cipher call dominates, codegen would buy nothing.
    *
    * NOT a general-purpose encryption utility: the key-derived IV is
    * fixed per key (the reference's FIRST-frame semantics — CBC state
    * chains across a connection there), so equal payloads under one
    * key produce equal ciphertexts. Deterministic by design for the
    * oracle; do not repurpose for production encryption.
    */
  case class AesFrameEncode(left: Expression, right: Expression) extends BinaryExpression
      with ImplicitCastInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
    override def dataType: DataType = BinaryType
    override def nullSafeEval(p: Any, k: Any): Any = {
      val key = k.asInstanceOf[Array[Byte]]
      CodecImpl.aesFrameEncode(p.asInstanceOf[Array[Byte]], key, CodecImpl.sessionIv(key))
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): AesFrameEncode = copy(l, r)
    override def prettyName: String = "aes_frame_encode"
  }

  /** Session-frame decrypt (`crypto.c:286-384`): frame + key +
    * max-length → payload, or NULL when the key is not 32 bytes, the
    * frame is not a 16-byte multiple or its embedded length fails the
    * `len <= bufsize` validation — the reference's -1 error paths
    * surfaced as SQL null for error routing.
    */
  case class AesFrameDecode(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with ImplicitCastInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType, IntegerType)
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def nullSafeEval(f: Any, k: Any, m: Any): Any =
      CodecCodegen.aesFrameDecode(f.asInstanceOf[Array[Byte]], k.asInstanceOf[Array[Byte]],
        m.asInstanceOf[Int])
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): AesFrameDecode =
      copy(f, s, t)
    override def prettyName: String = "aes_frame_decode"
  }

  // ------------------------------------------------------- Column API

  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def e(col: Column): Expression = ColumnBridge.expression(col)

  def crc16_ccitt(col: Column): Column = c(Crc16(e(col)))
  def ip_cksum(col: Column): Column = c(IpCksum(e(col)))
  def xtea_encrypt(data: Column, key: Column): Column = c(XteaEncrypt(e(data), e(key)))
  def xtea_decrypt(data: Column, key: Column): Column = c(XteaDecrypt(e(data), e(key)))
  def size_decode(col: Column): Column = c(SizeDecode(e(col)))
  def size_encode(col: Column): Column = c(SizeEncode(e(col)))
  def key_extract(col: Column): Column = c(KeyExtract(e(col)))
  def seed_xor(col: Column): Column = c(SeedXor(e(col)))
  def sliding_xor(data: Column, key: Column, offset: Column): Column =
    c(SlidingXor(e(data), e(key), e(offset)))
  def dns_name_decode(dns: Column, offset: Column): Column = c(DnsNameDecode(e(dns), e(offset)))
  def dns_name_encode(name: Column): Column = c(DnsNameEncode(e(name)))
  def mac_format(col: Column): Column = c(MacFormat(e(col)))
  def tlv_decode(col: Column): Column = c(TlvDecode(e(col)))
  def tlv_encode(col: Column): Column = c(TlvEncode(e(col)))
  def bthp_strip(col: Column): Column = c(BthpStrip(e(col)))
  def bthp_frame(payload: Column, proxyId: Column, beaconIp: Column, dstIp: Column): Column =
    c(BthpFrame(Seq(e(payload), e(proxyId), e(beaconIp), e(dstIp))))
  def aes_frame_encode(payload: Column, key: Column): Column =
    c(AesFrameEncode(e(payload), e(key)))
  def aes_frame_decode(frame: Column, key: Column, maxLen: Column): Column =
    c(AesFrameDecode(e(frame), e(key), e(maxLen)))
  def bz2_compress(col: Column): Column = c(Bz2Compress(e(col)))
  def bz2_decompress(col: Column, maxLen: Column): Column =
    c(Bz2Decompress(e(col), e(maxLen)))
  def ppm_decode(col: Column): Column = c(PpmDecode(e(col)))
  def ppm_resize(col: Column, tw: Column, th: Column): Column =
    c(PpmResize(e(col), e(tw), e(th)))
  def ppm_dhash(col: Column): Column = c(PpmDhash(e(col)))
  def ppm_ahash(col: Column): Column = c(PpmAhash(e(col)))
  def y4m_frame_lumas(col: Column): Column = c(Y4mFrameLumas(e(col)))
  def scene_y4m_payload(col: Column): Column = c(SceneY4mPayload(e(col)))
  def vfp_y4m_payload(col: Column): Column = c(VfpY4mPayload(e(col)))
  def beacon_raw_tlv(uid: Column, eid: Column): Column =
    c(BeaconRawTlv(e(uid), e(eid)))
  def wav_windows(col: Column, win: Column): Column =
    c(WavWindows(e(col), e(win)))
  def wav_fingerprint(col: Column): Column = c(WavFingerprint(e(col)))
  def y4m_fingerprint(col: Column): Column = c(Y4mFingerprint(e(col)))
  def bmp_decode(col: Column): Column = c(BmpDecode(e(col)))
  def wav_decode(col: Column): Column = c(WavDecode(e(col)))
  def y4m_decode(col: Column): Column = c(Y4mDecode(e(col)))

  /** SQL name -> builder of every function this pack registers; both
    * [[register]] and `graft.GraftExtensions` read it.
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("crc16_ccitt", es => Crc16(es.head)),
    ("ip_cksum", es => IpCksum(es.head)),
    ("xtea_encrypt", es => XteaEncrypt(es(0), es(1))),
    ("xtea_decrypt", es => XteaDecrypt(es(0), es(1))),
    ("size_decode", es => SizeDecode(es.head)),
    ("size_encode", es => SizeEncode(es.head)),
    ("key_extract", es => KeyExtract(es.head)),
    ("seed_xor", es => SeedXor(es.head)),
    ("sliding_xor", es => SlidingXor(es(0), es(1), es(2))),
    ("dns_name_decode", es => DnsNameDecode(es(0), es(1))),
    ("dns_name_encode", es => DnsNameEncode(es.head)),
    ("mac_format", es => MacFormat(es.head)),
    ("tlv_decode", es => TlvDecode(es.head)),
    ("tlv_encode", es => TlvEncode(es.head)),
    ("bthp_strip", es => BthpStrip(es.head)),
    ("bthp_frame", es => BthpFrame(es)),
    ("aes_frame_encode", es => AesFrameEncode(es(0), es(1))),
    ("aes_frame_decode", es => AesFrameDecode(es(0), es(1), es(2))),
    ("bz2_compress", es => Bz2Compress(es.head)),
    ("bz2_decompress", es => Bz2Decompress(es(0), es(1))),
    ("ppm_decode", es => PpmDecode(es.head)),
    ("ppm_resize", es => PpmResize(es(0), es(1), es(2))),
    ("ppm_dhash", es => PpmDhash(es.head)),
    ("ppm_ahash", es => PpmAhash(es.head)),
    ("y4m_frame_lumas", es => Y4mFrameLumas(es.head)),
    ("scene_y4m_payload", es => SceneY4mPayload(es.head)),
    ("vfp_y4m_payload", es => VfpY4mPayload(es.head)),
    ("beacon_raw_tlv", es => BeaconRawTlv(es(0), es(1))),
    ("wav_windows", es => WavWindows(es(0), es(1))),
    ("bmp_decode", es => BmpDecode(es.head)),
    ("wav_decode", es => WavDecode(es.head)),
    ("wav_fingerprint", es => WavFingerprint(es.head)),
    ("y4m_fingerprint", es => Y4mFingerprint(es.head)),
    ("y4m_decode", es => Y4mDecode(es.head)))

  /** SQL registration so the functions are usable from `spark.sql`. */
  def register(spark: SparkSession): Unit = builders.foreach { case (name, b) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "scala_udf")
  }
}
