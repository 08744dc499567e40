package graft.examples

import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}
import graft.functions.{CodecExpressions => CE}
import graft.operators.{Dedup, LangModel, Mixer, Similarity}
import graft.plans.BeaconPipeline

/** Runnable tour of the engine surface:
  * `sbt "runMain graft.examples.Quickstart [dataDir] [outDir]"`.
  * Exercises the SQL registry, the Column API, dedup/similarity
  * operators and the end-to-end ingest DAG against the test tables.
  */
object Quickstart {
  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_out").toString)

    val spark = GraftSession.getOrCreate("graft-quickstart")
    spark.sparkContext.setLogLevel("WARN")
    Tables.registerAll(spark, dataDir)

    // 1. SQL surface: engine functions are ordinary SQL functions
    println("== codec functions from SQL ==")
    spark.sql(
      """SELECT doc_id,
        |       crc16_ccitt(CAST(text AS BINARY)) AS crc,
        |       lang_id(text) AS lang_guess,
        |       rolling_fingerprint(text) AS fp
        |FROM documents ORDER BY doc_id LIMIT 5""".stripMargin).show()

    // 2. Column API: TLV beacon decode
    println("== TLV round trip (Column API) ==")
    Tables.documents(spark, dataDir).limit(3)
      .select(col("doc_id"),
        CE.tlv_decode(CE.tlv_encode(array(
          struct(lit(1).as("type"), col("lang").cast("binary").as("value")),
          struct(lit(2).as("type"), col("source").cast("binary").as("value"))))).as("fields"))
      .select(col("doc_id"), expr("transform(fields, f -> f.type)").as("types"))
      .show()

    // 3. Near-duplicate detection (MinHash + LSH, verified), then the
    // pairs closed into transitive clusters with one canonical
    // survivor per component (alternating-star connected components)
    println("== near-dup pairs (minhash LSH) ==")
    val pairs = Dedup.minhashLsh(spark, dataDir)
    pairs.show(5)
    println("== near-dup clusters (keep = component min) ==")
    Dedup.connectedComponents(pairs.select("i", "j")).orderBy("doc_id").show(5)

    // substring-level dedup: verbatim cross-document passages as
    // token spans (cut/redact input), plus the boilerplate survey
    println("== cross-doc duplicate 5-gram spans ==")
    Dedup.dupSpans(spark, dataDir).orderBy("doc_id", "span_start").show(5)
    println("== top boilerplate 3-grams ==")
    Dedup.topNgrams(spark, dataDir).show(5)
    println("== span-cut: dup passages removed outside the earliest doc ==")
    Dedup.cutDupSpans(spark, dataDir).orderBy("doc_id").show(3)
    println("== within-doc repetition spans (3-grams) ==")
    Dedup.intraDupSpans(spark, dataDir, k = 3).orderBy("doc_id", "span_start").show(3)

    // 4. Similarity search: exact baseline, then the scale paths
    // (IVF cells, trained quantizer, 8-byte PQ codes)
    println("== cosine top-3 for the first 2 vectors (exact) ==")
    Similarity.bruteForceTopK(spark, dataDir, nQueries = 2, k = 3).show()
    println("== same queries via IVF-PQ (approximate, 8-byte codes) ==")
    Similarity.ivfPqTopK(spark, dataDir, nQueries = 2, k = 3).show()
    println("== filtered search: top-3 among label % 3 == 0 only ==")
    Similarity.ivfTopKFiltered(spark, dataDir, col("label") % 3 === 0,
      nQueries = 2, k = 3).show()
    println("== semantic dedup (SemDeDup): within-cluster cosine drops ==")
    Similarity.semanticDedupFrom(
      Tables.embeddings(spark, dataDir).select("vec_id", "embedding"),
      nCentroids = Similarity.centroidsFor(500, targetCell = 128)).show(3)

    // 4a. Quantized serving paths: int8 codes (4x) and sign-bit
    // words (32x — one long per 64-dim vector, Hamming candidates,
    // exact rerank of the short list only)
    println("== sq8 top-3 (int8 ranking) ==")
    Similarity.sq8TopK(spark, dataDir, nQueries = 2, k = 3).show()
    println("== binary-quantized top-3 (Hamming cut + exact rerank) ==")
    Similarity.bqTopK(spark, dataDir, nQueries = 2, k = 3).show()

    // 4b. Corpus curation: LM quality, temperature mixing
    println("== char-trigram LM score (CCNet-style; higher = more reference-like) ==")
    LangModel.lmScore(spark, dataDir).orderBy(col("avg_p_e9").desc).show(3)
    println("== temperature mix (alpha = 0.5): per-lang keep cuts ==")
    Mixer.temperatureMix(spark, dataDir)
      .groupBy("lang", "n_dom", "hcut6").count().orderBy("lang").show()

    // 5. SimHash fingerprints + Hamming distance from SQL
    println("== simhash neighbors of doc 0 ==")
    spark.sql(
      """WITH h AS (SELECT doc_id,
        |  simhash64(split(trim(regexp_replace(lower(text), '\\s+', ' ')), ' ')) AS sh
        |  FROM documents)
        |SELECT a.doc_id, b.doc_id AS other, hamming64(a.sh, b.sh) AS dist
        |FROM h a JOIN h b ON a.doc_id = 0 AND b.doc_id <> 0
        |ORDER BY dist, other LIMIT 5""".stripMargin).show()

    // 6. BTHP proxy-envelope strip from SQL
    println("== bthp strip ==")
    spark.sql(
      """SELECT h.proxy_id, h.beacon_ip, CAST(h.payload AS STRING) AS payload
        |FROM (SELECT bthp_strip(bthp_frame(CAST(source AS BINARY), doc_id,
        |        '10.0.0.1', NULL)) AS h
        |      FROM documents ORDER BY doc_id LIMIT 3)""".stripMargin).show()

    // 7. Real-format media decode from SQL: the multimodal columns
    // story with genuine public formats (PPM here; bmp_decode,
    // wav_decode, y4m_decode are registered the same way)
    println("== decode a real P6 PPM payload in SQL ==")
    spark.sql(
      """SELECT d.width, d.height, d.n_px, d.sum_r, d.sum_g, d.sum_b,
        |  ppm_decode(CAST('garbage' AS BINARY)) IS NULL AS rejects_malformed
        |FROM (SELECT ppm_decode(
        |    CAST('P6' || chr(10) || '2 1' || chr(10) || '255' || chr(10) AS BINARY)
        |      || unhex('0102030405ff')) AS d)""".stripMargin).show()

    // 7b. Perceptual near-dup across modalities: image dHash, audio
    // envelope and video frame-mean fingerprints all ride ONE
    // banded-Hamming machinery (pairs -> lower-id drop verdicts ->
    // at-ingest screen); the signature catalog lands the history side
    // bucketed so a batch screen reads it co-partitioned
    println("== image near-dup verdicts (dHash, d <= 3) ==")
    graft.operators.Multimodal.phashDedup(spark, dataDir).show(3)
    println("== audio near-dup verdicts (envelope fingerprint) ==")
    graft.operators.Multimodal.audioFpDedup(spark, dataDir).show(3)
    println("== video near-dup verdicts (frame-mean fingerprint) ==")
    graft.operators.Multimodal.videoFpDedup(spark, dataDir).show(3)
    println("== at-ingest screen against the LANDED signature catalog ==")
    val sigsQ = graft.operators.Multimodal.dhashSignatures(spark, dataDir)
    val sigCat = graft.plans.SigCatalog.land(spark,
      sigsQ.filter(col("doc_id") % 2 === 0), "quickstart")
    graft.plans.SigCatalog.screen(spark,
      sigsQ.filter(col("doc_id") % 2 === 1), sigCat).show(3)
    graft.plans.LandedCatalog.drop(spark, sigCat)

    // 8. Incremental dedup against a catalog, Bloom-prefiltered: the
    // sharded screen is the 1e8+-catalog shape (per-shard filters
    // probed as join columns), and its answer is exactly the exact
    // screen's
    println("== sharded-Bloom incremental screen (new docs vs catalog) ==")
    val allDocs = Tables.documents(spark, dataDir)
    val catalogFp = allDocs.filter(col("doc_id") < 50)
      .select(md5(graft.operators.TextOps.norm(col("text"))).as("fp")).distinct()
    Dedup.bloomScreenSharded(allDocs.filter(col("doc_id") >= 50), catalogFp)
      .orderBy("doc_id").show(3)

    // 9. Wire codecs from SQL: real bzip2 round-trip with the
    // version-gated decode's bomb cap, quote-aware argv tokenization,
    // and the RFC 1071 checksum
    println("== bz2 wire codec + argv + cksum from SQL ==")
    spark.sql(
      """SELECT CAST(bz2_decompress(bz2_compress(CAST(text AS BINARY)), 1048576)
        |         AS STRING) = text AS bz2_rt,
        |  argv_tokenize('cp "a b" /tmp/x') AS argv,
        |  ip_cksum(CAST(text AS BINARY)) AS cksum
        |FROM documents ORDER BY doc_id LIMIT 3""".stripMargin).show(truncate = false)

    // 10. Version-gated wire decode over a mixed v22/v29 corpus —
    // v29 payloads genuinely bzip2-compressed, decompressed in-plan
    println("== mixed-version compressed wire decode ==")
    BeaconPipeline.decodeWirePayloads(
      BeaconPipeline.compressedWireCorpus(
        Tables.events(spark, dataDir).filter(col("event_id") < 6))).show()

    // 11. End-to-end ingest DAG with partitioned landing
    println(s"== beacon ingest DAG -> $outDir ==")
    val r = BeaconPipeline.run(spark, dataDir, outDir)
    println(s"good=${r.good.count()} bad=${r.bad.count()} " +
      s"processes=${r.processes.count()} sockets=${r.sockets.count()}")

    spark.stop()
  }
}
