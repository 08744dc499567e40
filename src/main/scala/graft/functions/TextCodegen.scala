package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.unsafe.types.UTF8String

/** Top-level codegen targets for the text expressions (same rationale
  * as [[CodecCodegen]]: generated Java can only address top-level
  * objects' static forwarders).
  */
object TextCodegen {

  def simhash64(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val it = (0 until n).iterator.map(i => tokens.getUTF8String(i).toString)
    TextImpl.simhash64(it.toSeq)
  }

  def fnv1a64(s: UTF8String): Long = TextImpl.fnv1a64(s.getBytes)

  def rollingFingerprint(s: UTF8String): Long =
    TextImpl.rollingFingerprint(s.toString)

  def langId(s: UTF8String): UTF8String =
    UTF8String.fromString(TextImpl.langId(s.toString))

  def argvTokenize(s: UTF8String): ArrayData =
    new GenericArrayData(TextImpl.argvTokenize(s.toString)
      .map(UTF8String.fromString).toArray[Any])

  def expandEnv(p: UTF8String, m: MapData): UTF8String = {
    val env = (0 until m.numElements()).map { i =>
      m.keyArray().getUTF8String(i).toString -> m.valueArray().getUTF8String(i).toString
    }.toMap
    UTF8String.fromString(TextImpl.expandEnv(p.toString, env))
  }

  def bpeEncode(s: UTF8String): ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(TextImpl.bpeEncode(s.toString))
}
