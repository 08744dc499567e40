package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.functions.{BpeVocab, CodecImpl}
import graft.operators.Multimodal.{MediaMeta, MediaRow}
import graft.operators.{Multimodal, Similarity}

/** Reference formulations the specs compare the engine against. No
  * gate runs them: each is the direct, unoptimized twin of a path the
  * engine serves another way, or the tool that produced a committed
  * artifact.
  */
object References {

  /** Drain a streaming DataFrame into the in-memory table `name` and
    * block until every available file is processed.
    */
  def runToMemory(df: DataFrame, name: String): Unit =
    df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Incremental embedding near-dup with the history side bucketed
    * in-plan: [[Similarity.embeddingScreen]] against `histEmb`
    * without a landed catalog, re-bucketing the whole history.
    */
  def embeddingNearDupIncremental(batchEmb: DataFrame, histEmb: DataFrame,
      threshold: Double = 0.95, nPlanes: Int = 8, nTables: Int = 4): DataFrame =
    Similarity.embeddingScreen(batchEmb,
      Similarity.bucketKeys(histEmb, "vec_id", nPlanes, nTables),
      histEmb.select("vec_id", "embedding"), threshold, nPlanes, nTables)

  /** Media table over the synthetic corpus: text bytes as payload. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaRow]
  }

  /** Whole-record decode: the result the split pipeline
    * ([[Multimodal.extractFeatures]]) produces, computed directly.
    */
  def decodeStub(r: MediaRow): MediaMeta =
    Multimodal.decodeFrames(r.doc_id, r.payload, r.payload.length.toLong,
      CodecImpl.crc16(r.payload))

  /** Committed training seed: the synthetic corpus' vocabulary in
    * running English prose (plus digit/punct/whitespace material so
    * those pretoken classes get merges too). Fixed text — the merge
    * table derives from it deterministically and is frozen in
    * [[BpeVocab.merges]].
    */
  val seedCorpus: String =
    ("the query engine reads the table and the part table with a hash join " +
      "the scan is fast and the filter is cheap a slow scan reads all the data " +
      "the window sort orders the batch by key and value the stream writes a row " +
      "group by key with the agg over the window the customer line item table " +
      "joins the order table on the key the spark plan merges small batches " +
      "a big sort spills the small sort stays in memory the column store scans " +
      "fast the row store scans slow the vector value is dense the merge is " +
      "stable and the data is clean the line count and the part count agree " +
      "the batch window and the sort window agree the fast path and the slow " +
      "path agree the query group and the value group agree " +
      "in 1995 and 2020 the count was 1000 and 100 and 19 and 20 " +
      "a == b and a != b and http://example -- yes... no... maybe...\n\n" +
      "the table scan\n\nthe hash join\n\nthe merge sort\n\n") * 2

  /** Number of merges the frozen table carries. */
  val nMerges: Int = 160

  /** Byte-level BPE trainer (Sennrich et al. 2016 alg. 1 over the
    * Radford et al. 2019 byte alphabet): pretokenize with
    * [[BpeVocab.pretokenPattern]], count pretoken frequencies, then
    * repeatedly merge the most frequent adjacent token pair — all
    * occurrences, left-to-right non-overlapping — creating token id
    * 256+rank. Tie-break: (count desc, left id asc, right id asc),
    * fully deterministic. Returns the (left, right) merge list in
    * rank order. It produced the frozen committed table in
    * [[BpeVocab.merges]] (spec-pinned equal).
    */
  def bpeTrain(corpus: String, nMerges: Int): Vector[(Int, Int)] = {
    val m = java.util.regex.Pattern.compile(BpeVocab.pretokenPattern).matcher(corpus)
    val freq = scala.collection.mutable.Map[Vector[Int], Long]()
    while (m.find()) {
      val w = m.group().getBytes("UTF-8").map(_ & 0xFF).toVector
      freq(w) = freq.getOrElse(w, 0L) + 1L
    }
    var words = freq.toVector.sortBy(_._1.mkString(","))
    val out = Vector.newBuilder[(Int, Int)]
    var next = 256
    var k = 0
    var exhausted = false
    while (k < nMerges && !exhausted) {
      val pc = scala.collection.mutable.Map[(Int, Int), Long]()
      words.foreach { case (w, f) =>
        var i = 0
        while (i < w.length - 1) {
          val p = (w(i), w(i + 1)); pc(p) = pc.getOrElse(p, 0L) + f; i += 1
        }
      }
      if (pc.isEmpty) exhausted = true
      else {
        val best = pc.toVector.minBy { case ((a, b), c) => (-c, a, b) }._1
        out += best
        words = words.map { case (w, f) => (mergeAll(w, best, next), f) }
        next += 1
        k += 1
      }
    }
    out.result()
  }

  private def mergeAll(w: Vector[Int], p: (Int, Int), nid: Int): Vector[Int] = {
    val b = Vector.newBuilder[Int]
    var i = 0
    while (i < w.length) {
      if (i < w.length - 1 && w(i) == p._1 && w(i + 1) == p._2) { b += nid; i += 2 }
      else { b += w(i); i += 1 }
    }
    b.result()
  }

  /** Inverse of [[graft.functions.TextImpl.bpeEncode]] (lossless by
    * construction: spellings concatenate back to the original pretoken
    * bytes).
    */
  def bpeDecode(ids: Seq[Int]): String = {
    val bytes = ids.iterator.flatMap(spelling(_)).toArray
    new String(bytes, "UTF-8")
  }

  /** Token id -> its byte spelling (base bytes + merged spellings). */
  lazy val spelling: Map[Int, Array[Byte]] = {
    val m = scala.collection.mutable.Map[Int, Array[Byte]]()
    (0 until 256).foreach(b => m(b) = Array(b.toByte))
    BpeVocab.merges.zipWithIndex.foreach { case ((a, b), i) =>
      m(256 + i) = m(a) ++ m(b)
    }
    m.toMap
  }
}
