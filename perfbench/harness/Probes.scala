package perfbench

import scala.io.Source

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

import graft.Shared
import graft.functions.{CodecImpl, VectorKernels}
import graft.operators.Dedup

/** Direct calls into graft's layer objects for the traced run: the
  * dedup operators on the workload's documents, and single-thread codec
  * and vector kernels on the workload's own events and embeddings.
  */
object Probes {

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `body` over and over until `minS` seconds have passed and
    * returns the number of runs and the seconds they took.
    */
  private def repeat(minS: Double)(body: => Unit): (Int, Double) = {
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || secs(t0) < minS) { body; n += 1 }
    (n, secs(t0))
  }

  def operators(spark: SparkSession, sf: String, t: Harness.Json,
      jobs: () => Long, reset: () => Unit): Unit = {
    var t0 = System.nanoTime()
    val lsh = Dedup.minhashLsh(spark, sf)
    val pairs = lsh.collect()
    t.num("operators.lsh_s", secs(t0))
    t.num("operators.lsh_pairs", pairs.length.toDouble)
    val pairDf = spark.createDataFrame(java.util.Arrays.asList(pairs: _*), lsh.schema)
      .select(lsh.columns.take(2).map(col): _*)
    Shared.releaseAll(spark)
    spark.catalog.clearCache()
    reset()
    val j0 = jobs()
    t0 = System.nanoTime()
    Dedup.connectedComponents(pairDf).collect()
    t.num("operators.cc_s", secs(t0))
    t.num("operators.cc_jobs", (jobs() - j0).toDouble)
    Shared.releaseAll(spark)
    spark.catalog.clearCache()
  }

  def functions(spark: SparkSession, sf: String, t: Harness.Json): Unit = {
    val mb = 1024.0 * 1024.0
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id", "event_id").limit(20000).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var tlvs: Array[Array[Byte]] = null
    val (n1, s1) = repeat(0.5) { tlvs = ev.map { case (u, e) => CodecImpl.beaconRawTlv(u, e) } }
    val tlvBytes = tlvs.map(_.length.toLong).sum
    t.num("functions.beacon_raw_tlv_mb_s", n1 * tlvBytes / mb / s1)
    var fields = 0L
    val (n2, s2) = repeat(0.5) { fields = tlvs.map(b => CodecImpl.tlvDecode(b).length.toLong).sum }
    require(fields > 0, "no TLV fields decoded")
    t.num("functions.tlv_decode_mb_s", n2 * tlvBytes / mb / s2)
    val packed = tlvs.take(4000).map(CodecImpl.bz2Compress)
    var outBytes = 0L
    val (n3, s3) = repeat(0.5) {
      outBytes = packed.map(p => CodecImpl.bz2Decompress(p, 1 << 20).length.toLong).sum
    }
    t.num("functions.bz2_decompress_mb_s", n3 * outBytes / mb / s3)

    val vecs: Array[ArrayData] = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("embedding").limit(256).collect()
      .map(r => UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](0).toArray))
    val dim = vecs.map(_.numElements()).min
    var acc = 0.0
    val (n4, s4) = repeat(0.5) {
      var i = 0
      while (i < vecs.length) {
        var j = 0
        while (j < vecs.length) { acc += VectorKernels.dot(vecs(i), vecs(j)); j += 1 }
        i += 1
      }
    }
    require(!acc.isNaN, "dot product is NaN")
    t.num("functions.dot_f32_mflop_s",
      n4 * 2.0 * dim * vecs.length * vecs.length / 1e6 / s4)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}
