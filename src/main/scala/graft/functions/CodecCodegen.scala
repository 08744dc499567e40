package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Top-level codegen targets for the codec expressions (generated Java
  * cannot address Scala nested objects — only top-level objects get
  * static forwarders; a nested path fails janino compilation and the
  * stage silently drops to interpreted mode).
  */
object CodecCodegen {

  def macFormat(b: Array[Byte]): UTF8String =
    UTF8String.fromString(CodecImpl.macFormat(b))

  /** Null on a key that is not 16 bytes ([[CodecImpl.xteaEncrypt]] throws). */
  def xteaEncrypt(data: Array[Byte], key: Array[Byte]): Array[Byte] =
    try CodecImpl.xteaEncrypt(data, key)
    catch { case _: IllegalArgumentException => null }

  /** Null on a key that is not 16 bytes ([[CodecImpl.xteaDecrypt]] throws). */
  def xteaDecrypt(data: Array[Byte], key: Array[Byte]): Array[Byte] =
    try CodecImpl.xteaDecrypt(data, key)
    catch { case _: IllegalArgumentException => null }

  /** Null on a key that is not 32 bytes ([[CodecImpl.aesFrameDecode]]
    * throws), besides the frames it rejects itself.
    */
  def aesFrameDecode(frame: Array[Byte], key: Array[Byte], maxLen: Int): Array[Byte] =
    try CodecImpl.aesFrameDecode(frame, key, CodecImpl.sessionIv(key), maxLen)
    catch { case _: IllegalArgumentException => null }

  /** Null on a truncated label or pointer, a pointer loop or an
    * offset outside the message ([[CodecImpl.dnsNameDecode]] throws).
    */
  def dnsNameDecode(dns: Array[Byte], offset: Int): UTF8String =
    try UTF8String.fromString(CodecImpl.dnsNameDecode(dns, offset))
    catch { case _: IllegalArgumentException | _: IndexOutOfBoundsException => null }

  /** Null on a buffer too short for the key at its offset
    * ([[CodecImpl.keyExtract]] throws).
    */
  def keyExtract(buf: Array[Byte]): Array[Byte] =
    try CodecImpl.keyExtract(buf)
    catch { case _: IllegalArgumentException => null }

  /** Null on an empty key or a negative offset
    * ([[CodecImpl.slidingXor]] throws).
    */
  def slidingXor(data: Array[Byte], key: Array[Byte], offset: Int): Array[Byte] =
    try CodecImpl.slidingXor(data, key, offset)
    catch { case _: IllegalArgumentException | _: IndexOutOfBoundsException => null }

  /** Null on a label over 63 bytes ([[CodecImpl.dnsNameEncode]] throws). */
  def dnsNameEncode(name: UTF8String): Array[Byte] =
    try CodecImpl.dnsNameEncode(name.toString)
    catch { case _: IllegalArgumentException => null }

  /** Null on a negative size ([[CodecImpl.sizeEncode]] throws). */
  def sizeEncode(size: Long): Array[Byte] =
    try CodecImpl.sizeEncode(size)
    catch { case _: IllegalArgumentException => null }

  /** Null on a truncated envelope ([[CodecImpl.bthpStrip]] throws). */
  def bthpStrip(buf: Array[Byte]): InternalRow =
    try {
      val h = CodecImpl.bthpStrip(buf)
      def s(v: String): UTF8String = if (v == null) null else UTF8String.fromString(v)
      InternalRow(h.ver, h.typ, h.hdrLen, h.dataLen, h.proxyId,
        s(h.beaconIp), s(h.dstIp), s(h.proxyIp), h.payload)
    } catch { case _: IllegalArgumentException => null }

  def ppmDecode(buf: Array[Byte]): InternalRow = {
    val s = CodecImpl.ppmDecode(buf)
    if (s == null) null
    else InternalRow(s.width, s.height, s.maxval, s.nPx, s.sumR, s.sumG, s.sumB)
  }

  def ppmResize(buf: Array[Byte], tw: Int, th: Int): InternalRow = {
    val s = CodecImpl.ppmResizeStats(buf, tw, th)
    if (s == null) null
    else InternalRow(s.outW, s.outH, s.sumR, s.sumG, s.sumB, s.ordFold)
  }

  def ppmDhash(buf: Array[Byte]): java.lang.Long = CodecImpl.ppmDhash(buf)
  def ppmAhash(buf: Array[Byte]): java.lang.Long = CodecImpl.ppmAhash(buf)
  def wavFingerprint(buf: Array[Byte]): java.lang.Long = CodecImpl.wavFingerprint(buf)
  def y4mFingerprint(buf: Array[Byte]): java.lang.Long = CodecImpl.y4mFingerprint(buf)

  def bmpDecode(buf: Array[Byte]): InternalRow = {
    val s = CodecImpl.bmpDecode(buf)
    if (s == null) null
    else InternalRow(s.width, s.height, s.topDown, s.nPx, s.sumR, s.sumG, s.sumB)
  }

  def wavDecode(buf: Array[Byte]): InternalRow = {
    val s = CodecImpl.wavDecode(buf)
    if (s == null) null
    else InternalRow(s.channels, s.sampleRate, s.bits, s.nFrames, s.sumCh0, s.sumCh1)
  }

  def y4mDecode(buf: Array[Byte]): InternalRow = {
    val s = CodecImpl.y4mDecode(buf)
    if (s == null) null
    else InternalRow(s.width, s.height, s.fpsNum, s.fpsDen, s.nFrames, s.sumY, s.sumC)
  }

  def y4mFrameLumas(buf: Array[Byte]): InternalRow = {
    val s = CodecImpl.y4mFrameLumas(buf)
    if (s == null) null
    else InternalRow(s.nPx, new GenericArrayData(s.sums.map(Long.box).toArray[Any]))
  }

  def wavWindows(buf: Array[Byte], win: Int): ArrayData = {
    val ws = CodecImpl.wavWindows(buf, win)
    if (ws == null) null
    else new GenericArrayData(ws.map(w =>
      InternalRow(w.n, w.sumAbs, w.zc)).toArray[Any])
  }

  /** Null on a truncated frame: one malformed beacon must route to
    * null, never fail the task ([[CodecImpl.tlvDecode]] throws).
    */
  def tlvDecode(buf: Array[Byte]): ArrayData =
    try new GenericArrayData(CodecImpl.tlvDecode(buf).map { case (t, bytes) =>
      InternalRow(t, bytes)
    }.toArray[Any])
    catch { case _: IllegalArgumentException => null }

  def tlvEncode(arr: ArrayData): Array[Byte] = {
    val fields = (0 until arr.numElements()).map { i =>
      val row = arr.getStruct(i, 2)
      (row.getInt(0), row.getBinary(1))
    }
    CodecImpl.tlvEncode(fields)
  }
}
