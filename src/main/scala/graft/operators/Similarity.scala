package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Shared, Tables}
import graft.functions.TextImpl

/** Similarity search over the `embeddings` table (`ARRAY<FLOAT>`,
  * L2-normalized, so dot product == cosine similarity).
  *
  * Numeric discipline: the ranking/threshold score is a DECIMAL(38,12)
  * sum of per-component products rounded to 12 dp — exact and
  * order-independent, so Spark's partial aggregation and DuckDB's
  * single-threaded sum produce identical values (hash-safe). A plain
  * double dot is used only as a wide prefilter with a margin far above
  * ulp noise.
  *
  * Scale path: brute force is the per-query baseline (fine for a
  * bounded query set); the LSH variants bucket by L independent k-bit
  * hyperplane signatures (bands-then-verify, like the MinHash
  * pipeline) so the candidate join shuffles on the (table, bucket)
  * key, not the cross product.
  */
object Similarity {

  /** Shard fan-out for the two-level PQ codebook top-K: the first
    * window stage runs over nSub x CwShards balanced partitions so
    * the corpus-sized exchange never collapses to nSub tasks.
    */
  val CwShards = 64

  /** Exact decimal dot product of two float-array columns (native
    * kernel; value-identical to
    * `SUM(CAST(x*y AS DECIMAL(28,12)))` in both engines).
    */
  def dotDecimal(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_f32_dec(a, b)

  /** Fast double dot product — native expression with a primitive
    * loop (graft.functions.VectorExpressions.DotF32); same IEEE fold
    * order as the oracle's list_sum.
    */
  def dotDouble(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_f32(a, b)

  /** Brute-force top-k cosine neighbors for a bounded query set
    * (query_id < nQueries), ranked by the exact decimal score with
    * vec_id tie-break.
    */
  def bruteForceTopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val corpus = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("v"))
    val scored = queries.join(corpus, col("query_id") =!= col("vec_id"))
      .withColumn("dot", dotDecimal(col("q"), col("v")))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("dot"), 6).cast("double").as("score"))
      .orderBy("query_id", "rank")
  }

  /** Int8 scalar-quantized top-k — the memory-compression leg of the
    * ANN surface (IVF prunes candidates, PQ compresses to sub-space
    * codes; SQ8 is the simplest production quantization: 4× smaller
    * vectors, ranking by integer dot): each vector becomes
    * (scale = max|x|/127, codes = round(x·127/max|x|)) via the native
    * `sq8_quantize` expression, and candidates rank by
    * dot_i8(q_codes, c_codes)·c_scale — the query's own scale is a
    * positive per-query constant, so it cannot change the order and
    * is dropped from the sort key. Every quantization step is a
    * fixed-order IEEE double op and the ranking product is a single
    * double multiply of exact inputs, so the oracle replays codes,
    * dots AND the order bit-for-bit (ties break on vec_id).
    *
    * Scale shape: quantization is a projection on the scan (at 100 TB
    * the codes table is what you'd persist — 68 bytes/vector vs 256);
    * the bounded query set broadcasts exactly like
    * [[bruteForceTopK]]; ranking state is one top-k heap per query.
    */
  def sq8TopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10): DataFrame = {
    val z = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        graft.functions.VectorExpressions.sq8_quantize(col("embedding")).as("z"))
      .select(col("vec_id"), col("z.scale").as("s"), col("z.q").as("q"))
    val queries = z.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    val scored = queries.join(z, col("query_id") =!= col("vec_id"))
      .withColumn("dot_q",
        graft.functions.VectorExpressions.dot_i8(col("qq"), col("q")))
    val w = Window.partitionBy("query_id")
      .orderBy((col("dot_q").cast("double") * col("s")).desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("dot_q"))
      .orderBy("query_id", "rank")
  }

  /** The BQ candidate cut over a `(query_id, vec_id, hdist)` frame:
    * the `rerank` smallest by `(hdist, vec_id)` per query, written as
    * the rank-filtered window because Spark 4's InsertWindowGroupLimit
    * rewrites exactly this pattern into a map-side PARTIAL group
    * limit before the exchange — ≤ rerank rows per (partition, query)
    * ever shuffle. Measured at 16M candidate rows: 0.3 MiB shuffle,
    * BELOW a hand-built bounded-top-k typed aggregate (0.8 MiB — the
    * object buffers serialize; PLANS.md). The
    * spec pins the WindowGroupLimit(Partial) node: rewriting the
    * rank filter in any form the rule misses silently reverts to
    * shuffling every candidate row.
    */
  private def hammingCut(ham: DataFrame, rerank: Int): DataFrame = {
    val wc = Window.partitionBy("query_id").orderBy(col("hdist"), col("vec_id"))
    ham.withColumn("rr", row_number().over(wc))
      .filter(col("rr") <= rerank)
      .select("query_id", "vec_id", "hdist")
  }

  /** Binary-quantized top-k — the 1-bit leg of the quantization
    * surface (SQ8 is 4× smaller than float, PQ trades accuracy for
    * sub-space codes; BQ is the extreme: ONE long per 64-dim vector,
    * 32× below SQ8): each vector's sign word comes from the native
    * `bq_pack` expression, candidates are the `rerank` nearest by
    * Hamming distance over the sign words (bit_count(xor) — the
    * cheapest possible ranking kernel, deterministic with vec_id
    * tie-break), and the final order is the exact decimal dot over
    * the float vectors of those candidates only — the standard
    * candidate-then-rerank serving shape, with both stages replayed
    * bit-for-bit by the oracle (sign-vs-zero comparisons have no
    * rounding seam).
    *
    * Scale shape: the packed index is 8 bytes/vector — a 100 TB float
    * corpus packs to ~0.4 % of its size, small enough to stay
    * memory-resident per executor; the Hamming pass scans it with a
    * broadcast query set, and only `rerank` float rows per query are
    * fetched for the rerank join (broadcast of the candidate list,
    * corpus-side semi-probe — never a second full scan shuffle).
    */
  def bqTopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10, rerank: Int = 192): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val codes = emb.select(col("vec_id"),
      graft.functions.VectorExpressions.bq_pack(col("embedding")).as("code"))
    val queries = codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("code").as("qc"))
    val ham = broadcast(queries).join(codes, col("query_id") =!= col("vec_id"))
      .withColumn("hdist", bit_count(col("qc").bitwiseXOR(col("code"))))
    // map-side bounded cut — see [[hammingCut]]'s WindowGroupLimit note
    val cand = hammingCut(ham, rerank)
    val qv = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val candq = cand.join(broadcast(qv), "query_id")
    val scored = emb.select(col("vec_id"), col("embedding").as("ce"))
      .join(broadcast(candq), "vec_id")
      .withColumn("dot", dotDecimal(col("qe"), col("ce")))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("hdist"),
        round(col("dot"), 6).cast("double").as("score"))
      .orderBy("query_id", "rank")
  }

  /** Broadcast-side budget for the exact all-pairs path: half Spark's
    * 8 GB broadcast hard cap, so the check fires before the engine's
    * opaque failure would.
    */
  val MaxExactBroadcastBytes: Long = 4L << 30

  /** Build-time guardrail for [[embeddingNearDupFrom]]: past the
    * broadcast cap the n² pair count is infeasible regardless, so the
    * misuse error names the fix instead of surfacing Spark's 8 GB
    * broadcast message. Estimate is rows × (8 B × dim + array/row
    * overhead) — deliberately rough; it only needs the right order of
    * magnitude.
    */
  private[graft] def requireExactSized(rows: Long, dim: Int,
      cap: Long = MaxExactBroadcastBytes): Unit = {
    val est = rows * (8L * dim + 64L)
    require(est <= cap,
      s"embeddingNearDupFrom's exact all-pairs path broadcasts the full vector table " +
        s"(~$est bytes for $rows rows x $dim dims, cap $cap): " +
        s"use embeddingNearDupLshFrom, the bucketed scale path, for inputs this size")
  }

  /** All-pairs near-duplicate detection by cosine ≥ threshold over a
    * (vec_id, embedding) table: double-dot prefilter (margin 0.01 ≫
    * float noise) then exact decimal threshold.
    */
  def embeddingNearDupFrom(embeddings: DataFrame,
      threshold: Double = 0.95): DataFrame = {
    // oversize-misuse guard, kept LAZY for the common case: first ask
    // Catalyst's plan statistics (free — no job); run the precise
    // count+dim pre-pass whenever that estimate lands above OR within
    // 4x under the cap — compressed parquet scans can understate
    // in-memory float-array size by a small factor, so the uncertainty
    // band around the cap gets the exact measurement (and the curated
    // error) rather than falling through to Spark's opaque broadcast
    // failure at action time. A derived plan with INFLATED stats
    // (join-multiplied estimates) is still judged on its real size,
    // and plainly-small inputs (est < cap/4) pay zero extra scans.
    val statsBytes = embeddings.queryExecution.optimizedPlan.stats.sizeInBytes
    if (statsBytes > BigInt(MaxExactBroadcastBytes / 4)) {
      val sized = embeddings.agg(
        count(lit(1)), coalesce(max(size(col("embedding"))), lit(0))).head()
      requireExactSized(sized.getLong(0), sized.getInt(1))
    }
    val a = embeddings
      .select(col("vec_id").as("i"), col("embedding").as("va"))
    val b = embeddings
      .select(col("vec_id").as("j"), col("embedding").as("vb"))
    // the exact operator is bounded-input by contract (the gate slices
    // to vec_id < 2000; the LSH twin is the scale path), so pin the
    // pair join to broadcast-BNLJ: derived inputs (e.g. the planted
    // twin's left join) otherwise inflate size estimates past the
    // broadcast threshold and the planner degrades to a shuffled
    // CartesianProduct. Consequence at misuse-scale: an input past the
    // 8 GB broadcast cap fails FAST with a clear error — at any such
    // size the n² pair count is infeasible regardless, so an explicit
    // failure beats an accidental never-finishing cartesian
    a.join(broadcast(b), col("i") < col("j"))
      .filter(dotDouble(col("va"), col("vb")) >= threshold - 0.01)
      .withColumn("dot", dotDecimal(col("va"), col("vb")))
      .filter(col("dot") >= threshold)
      .select(col("i"), col("j"), round(col("dot"), 6).cast("double").as("cos"))
      .orderBy("i", "j")
  }

  /** Scale path for all-pairs near-dup: candidates restricted to
    * hyperplane-bucket collisions in any of `nTables` independent
    * 8-bit tables (for cos ≥ 0.95 pairs a table co-buckets with
    * p ≈ 0.9^8 ≈ 0.43, so 4 tables reach ≈ 0.89 recall; planted
    * near-identical pairs ≈ 1.0), then the same exact decimal verify.
    * Shuffles on the (table, bucket) key, never the cross product;
    * recall vs the exact operator is measured on planted pairs in
    * TrainingSpec (the corpus has no natural ≥ 0.95 pairs at any
    * scale, so recall is only measurable on plants), precision is
    * exact by construction.
    */
  def embeddingNearDupLshFrom(embeddings: DataFrame,
      threshold: Double = 0.95, nPlanes: Int = 8, nTables: Int = 4): DataFrame = {
    val signs = hyperplaneSigns(nPlanes * nTables, 64)
    val tb = embeddings
      .withColumn("tb", explode(tableBuckets(col("embedding"), signs, nPlanes, nTables)))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
    val cand = tb.as("a").join(tb.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"))
      .distinct()
    val va = embeddings.select(col("vec_id").as("i"), col("embedding").as("va"))
    val vb = embeddings.select(col("vec_id").as("j"), col("embedding").as("vb"))
    cand.join(va, "i").join(vb, "j")
      .filter(dotDouble(col("va"), col("vb")) >= threshold - 0.01)
      .withColumn("dot", dotDecimal(col("va"), col("vb")))
      .filter(col("dot") >= threshold)
      .select(col("i"), col("j"), round(col("dot"), 6).cast("double").as("cos"))
      .orderBy("i", "j")
  }

  /** (vec_id, tk) hyperplane bucket keys of an embedding table — the
    * candidate-join key as ONE column (`table|bucket`), which is what
    * the landed vector catalog buckets on so the per-batch candidate
    * join needs no shuffle of the history side. Equality on the
    * composite equals equality on the (tbl, bkt) pair: both are
    * non-negative integers and the separator is unambiguous.
    */
  def bucketKeys(emb: DataFrame, idName: String,
      nPlanes: Int = 8, nTables: Int = 4): DataFrame = {
    val signs = hyperplaneSigns(nPlanes * nTables, 64)
    emb.withColumn("tb", explode(tableBuckets(col("embedding"), signs, nPlanes, nTables)))
      .select(col(idName), concat_ws("|", col("tb.tbl"), col("tb.bkt")).as("tk"))
  }

  /** Batch-side MULTI-PROBE keys for the incremental screen: each
    * vector's exact bucket key plus every key one sign-flip away
    * within its table — (nPlanes+1)·nTables rows per vector. The
    * landed catalog stays single-keyed; probe expansion is purely
    * batch-side (exactly [[lshTopKFrom]]'s multi-probe trade): recall
    * of near-boundary catalog dups without growing history state.
    */
  def probeKeys(emb: DataFrame, idName: String,
      nPlanes: Int = 8, nTables: Int = 4): DataFrame = {
    val signs = hyperplaneSigns(nPlanes * nTables, 64)
    emb.withColumn("tb", explode(tableBuckets(col("embedding"), signs, nPlanes, nTables)))
      .withColumn("pbkt", explode(concat(array(col("tb.bkt")),
        array((0 until nPlanes).map(p =>
          col("tb.bkt").bitwiseXOR(lit(1 << p))): _*))))
      .select(col(idName), concat_ws("|", col("tb.tbl"), col("pbkt")).as("tk"))
  }

  /** The incremental embedding screen CORE — the vector twin of
    * [[Dedup.minhashLshScreen]]: a batch of vectors screened against
    * history-side frames in catalog shape — bucket keys `(vec_id,
    * tk)` and vectors `(vec_id, embedding)`. In production those two
    * are LANDED bucketed tables ([[graft.plans.VecCatalog]]), appended
    * per accepted batch, so one run's cost scales with the batch:
    * batch bucketing is batch-sized, the candidate join is an
    * equi-join on `tk` (history side bucketed on it — no catalog
    * shuffle), and only candidates are decimal-verified against
    * history vectors.
    *
    * @param multiProbe expand the batch side to 1-bit-flip probe keys
    *   ([[probeKeys]]): near-boundary catalog dups that share no exact
    *   bucket are still screened. (nPlanes+1)× more batch-side rows
    *   into the candidate join; the catalog side is untouched.
    * @return one row per batch vector with ≥1 catalog match at
    *   `threshold`: (vec_id, n_matches, matched_id = min matching
    *   history id, cos = best match score).
    */
  def embeddingScreen(batchEmb: DataFrame, histBuckets: DataFrame,
      histVecs: DataFrame, threshold: Double = 0.95,
      nPlanes: Int = 8, nTables: Int = 4,
      multiProbe: Boolean = false): DataFrame = {
    val bk = if (multiProbe) probeKeys(batchEmb, "vec_id", nPlanes, nTables)
             else bucketKeys(batchEmb, "vec_id", nPlanes, nTables)
    val cand = bk.toDF("bv", "tk")
      .join(histBuckets.toDF("hv", "tk"), "tk")
      .select("bv", "hv").distinct()
    val vb = batchEmb.select(col("vec_id").as("bv"), col("embedding").as("veb"))
    val vh = histVecs.toDF("hv", "veh")
    cand.join(vb, "bv").join(vh, "hv")
      .filter(dotDouble(col("veb"), col("veh")) >= threshold - 0.01)
      .withColumn("dot", dotDecimal(col("veb"), col("veh")))
      .filter(col("dot") >= threshold)
      .groupBy(col("bv").as("vec_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("hv")).as("matched_id"),
        round(max(col("dot")), 6).cast("double").as("cos"))
      .orderBy("vec_id")
  }

  /** ANN via IVF (inverted-file) coarse quantization — the second
    * scale path beside the LSH operator, with a different trade-off:
    * `nCentroids` deterministic centroids (the corpus vectors with
    * the smallest md5("ivf|vec_id") — an engine-portable sample),
    * every vector assigned to its max-decimal-dot centroid, each
    * query probing its `nProbe` nearest cells. Assignment is one
    * broadcast pass (the centroid table is tiny), the candidate join
    * shuffles on the cell id, and recall trades against the
    * nProbe/nCentroids candidate budget (measured ≈ 0.74 recall at a
    * 38 % budget on this weakly-clustered corpus; clustered
    * real-world data does far better at the same budget).
    */
  def ivfTopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10, nCentroids: Int = 16, nProbe: Int = 6,
      trainIters: Int = 0): DataFrame =
    ivfTopKFrom(Tables.embeddings(spark, dir), nQueries, k, nCentroids, nProbe,
      trainIters)

  /** The IVF candidate stage shared by [[ivfTopKFrom]] (exact decimal
    * ranking) and [[ivfPqTopKFrom]] (product-quantized ranking):
    * deterministic centroid sample, partial-agg argmax assignment,
    * per-query probe ranking → (query_id, vec_id) candidates.
    */
  /** Fail fast on a dimension mismatch: the per-component operators
    * (Lloyd means, PQ subvector slicing) would otherwise read past
    * the array and silently propagate nulls into centroids/codes.
    */
  /** Returns the validated row count — the trainers reuse it as the
    * input-size signal for the single-stage small-corpus round shape
    * ([[smallCorpus]]), so the validation aggregate doubles as the
    * sizing probe and no extra job runs.
    */
  private def requireDim(embeddings: DataFrame, dim: Int): Long = {
    // one aggregate checks EVERY row (a first-row-only probe lets
    // ragged dimensions elsewhere reach the slicing code and
    // propagate nulls silently), distinguishes the empty frame, and
    // counts NULL embeddings separately — min/max skip nulls, so
    // without the null count a NULL row would pass and poison the
    // centroid means downstream. One validation scan per training/
    // query call; a 100 TB deployment validates once at landing time
    // and feeds these operators pre-checked frames.
    val r = embeddings
      .agg(min(size(col("embedding"))), max(size(col("embedding"))),
        count(lit(1)), count(col("embedding")))
      .head()
    require(r.getLong(2) > 0, "embeddings frame is empty")
    require(r.getLong(3) == r.getLong(2),
      s"${r.getLong(2) - r.getLong(3)} NULL embeddings")
    require(r.getInt(0) == dim && r.getInt(1) == dim,
      s"embedding dimensions [${r.getInt(0)}, ${r.getInt(1)}] != expected $dim")
    r.getLong(2)
  }

  /** Input-derived single-stage round shape for the Lloyd trainers
    * (guide §2.2 partition sizing, the EventStream discipline): below
    * this row count a round's k-group mean aggregate runs over a
    * coalesce(1) input — partial and final aggregate share ONE task
    * in ONE stage, so a round is one job with no exchange and no AQE
    * stage boundary. The round's decimal sums are order- and
    * grouping-independent (exact BigDecimal adds of identical
    * addends), so the result is bit-identical either way; only the
    * task layout changes. Threshold: ~1M 64-dim rows ≈ 300 MB and
    // ~1 G multiply-adds of single-task argmax work — the top of the
    * guide's per-task band. Above it the fan-out stays the session's
    * configured setting. (Measured at bench scale: a 2000-row corpus
    * paid ~0.55 s per round, almost all in the 2-stage AQE job pair
    * around a 16-row exchange; the converged+replay gate runs up to
    * 16 such rounds.)
    */
  private val SmallCorpusRows = 1000000L

  private def roundInput(df: DataFrame, n: Long): DataFrame =
    if (n <= SmallCorpusRows) df.coalesce(1) else df

  private[graft] def ivfCentroids(embeddings: DataFrame, nCentroids: Int): DataFrame =
    embeddings
      .withColumn("_h", md5(concat(lit("ivf|"), col("vec_id"))))
      .orderBy("_h", "vec_id").limit(nCentroids)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))

  /** The k-row centroid/codeword frame pulled to the driver for the
    * LITERAL-argmax projection — (cid, ce) pairs. Driver-bounded by
    * design (k rows, the same bound the movement probe always
    * collected); the corpus-sized work stays distributed.
    */
  private def collectedCents(cents: DataFrame): Seq[(Long, Seq[Float])] =
    cents.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toIndexedSeq).toSeq

  /** Collected centroids back as a k-row LocalRelation (cid, ce) —
    * plan-free (no lineage, no cache entry), so every downstream
    * broadcast/join of the centroid set reads driver-local rows
    * instead of re-running the corpus sample subtree.
    */
  private def centsDF(spark: SparkSession, cents: Seq[(Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    cents.toDF("cid", "ce")
  }

  /** Nearest-candidate argmax as a LITERAL projection: one
    * struct(score, -cid, cid) per candidate, folded with `greatest`.
    * Bit-identical to the broadcast-crossJoin + max(struct) aggregate
    * it replaces — same dot kernel over the same floats, and
    * `greatest` uses the same struct ordering as `max` (score desc,
    * then the smaller cid via -cid) — but it is a zero-shuffle
    * codegen'd scan projection: the n×k candidate explosion, its
    * SortAggregate (max over a struct is not hash-aggregatable) and
    * the assignment exchange all disappear from the plan. The 100 TB
    * shape improves too: assignment becomes embarrassingly parallel
    * map work with k bounded (16–128 here; FAISS-style coarse
    * quantizers stay small), where the aggregate formulation shuffled
    * one pre-combined row per vector.
    */
  private def nearestStruct(cands: Seq[(Long, Seq[Float])], v: Column,
      score: (Column, Seq[Float]) => Column): Column = {
    // codegen-size bound (round-21 advice): one struct+dot per
    // candidate is O(k) greatest branches — fine through the
    // documented k ≤ 128 coarse-quantizer range (PlanQualitySpec pins
    // whole-stage codegen at that bound), but an API caller's larger
    // set would overrun janino's 64 KB method limit and silently fall
    // back to interpreted execution (the measured PQ pathology:
    // 1.8 s → 3.2 s). Fail fast instead; such a caller should use the
    // broadcast-join formulation.
    require(cands.size <= 256,
      s"literal-argmax supports <= 256 candidates (got ${cands.size}); " +
        "use a broadcast-join assignment for larger centroid sets")
    val ss = cands.map { case (cid, ce) =>
      struct(score(v, ce).as("cdot"),
        lit(-cid).as("ncid"), lit(cid).as("cid"))
    }
    // empty candidate set (empty corpus/history geometry): a typed
    // null struct — the null cid never equi-joins and never groups
    // with a real cell, which is exactly the former empty-broadcast
    // crossJoin semantics (no cells -> empty downstream results)
    if (ss.isEmpty)
      lit(null).cast("struct<cdot:double,ncid:bigint,cid:bigint>")
    else if (ss.size == 1) ss.head
    else greatest(ss: _*)
  }

  /** IVF assignment score: plain double dot against a literal
    * centroid (same kernel and floats as the broadcast formulation).
    */
  private def ivfScore(v: Column, ce: Seq[Float]): Column =
    dotDouble(v, typedLit(ce))

  /** Lloyd-refined IVF centroids: k-means iterations on top of the
    * md5-sampled init, fully deterministic and engine-portable. Each
    * round reassigns (literal argmax — a zero-shuffle projection) and
    * recomputes every centroid component as
    * `CAST(decimal-sum AS DOUBLE) / count` cast to FLOAT: the decimal
    * sum is order-exact (partial-agg and single-threaded folds agree),
    * the double division and the float narrowing are value-based IEEE
    * ops — so Spark and the SQL oracle produce bit-identical trained
    * centroids. An emptied cell keeps its previous centroid. Two
    * rounds is the sweet spot for a sampled init (FAISS-style coarse
    * quantizers train few rounds at this k). Each round is ONE
    * distributed job (assignment projection + k-group decimal-mean
    * aggregate, collected at k rows) merged with the previous
    * centroids on the driver, and the result is a k-row LocalRelation
    * — no per-round broadcast, checkpoint, or lineage growth at all.
    */
  def ivfCentroidsTrained(embeddings: DataFrame, nCentroids: Int = 16,
      iters: Int = 2, dim: Int = 64): DataFrame = {
    val n = requireDim(embeddings, dim)
    val src = roundInput(embeddings, n)
    var cents = collectedCents(ivfCentroids(embeddings, nCentroids))
    for (_ <- 0 until iters) cents = lloydRound(src, cents, dim)
    centsDF(embeddings.sparkSession, cents)
  }

  /** One Lloyd round over collected centroids: literal-argmax
    * reassignment + decimal-sum means (one job, one k-group
    * exchange), merged with the previous centroids on the driver —
    * `getOrElse` is the "emptied cell keeps its previous centroid"
    * left-join. Value-identical to the former broadcast-join round:
    * same multiset of (embedding, cid) rows feeds the same decimal
    * aggregate.
    */
  private def lloydRound(embeddings: DataFrame,
      cents: Seq[(Long, Seq[Float])], dim: Int): Seq[(Long, Seq[Float])] = {
    val cid = nearestStruct(cents, col("embedding"), ivfScore).getField("cid")
    // float -> DOUBLE -> decimal: the double->decimal edge is the
    // validated engine-portable conversion (dotDecimal's path); a
    // direct float->decimal cast rounds differently per engine. The
    // casts stay in the codegen'd projection; the per-component sums
    // fold through ONE imperative aggregate (decimal_vec_sum) instead
    // of dim separate sum() expressions — value-identical exact
    // decimal addition, but the generated aggregate source is tiny,
    // which removes the ~0.4 s/round plan-instantiation cost the dim
    // sums paid (the trainers re-plan every round because the
    // centroid literals move).
    val decVec = array((0 until dim).map(i =>
      col("embedding").getItem(i).cast("double").cast("decimal(28,12)")): _*)
    val means = embeddings
      .select(decVec.as("dv"), cid.as("cid"))
      .groupBy("cid").agg(
        graft.functions.VectorExpressions.decimal_vec_sum(col("dv"), dim).as("s"),
        count(lit(1)).as("n"))
      .select(col("cid"), array((0 until dim).map(i =>
        (col("s").getItem(i).cast("double") / col("n")).cast("float")): _*).as("me"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toIndexedSeq).toMap
    cents.map { case (c, ce) => c -> means.getOrElse(c, ce) }
  }

  /** Convergence-stopped Lloyd: same deterministic round step as
    * [[ivfCentroidsTrained]], but training stops once no centroid
    * component moved more than `tol` (or at `maxIters`, whichever
    * first) — the operational training mode, where iteration count
    * adapts to the corpus instead of being guessed up front. The
    * movement check runs on the k-row centroid sets the rounds
    * already hold driver-side (the corpus-sized work stays
    * distributed), so the probe costs no extra job and the loop is
    * both cheap and plan-safe (no lineage at all — each round is one
    * job whose k-row result merges on the driver).
    *
    * Deterministic for a fixed corpus: the stop round is a pure
    * function of the data, and the result equals
    * `ivfCentroidsTrained(emb, k, roundsRun)` exactly (pinned by
    * spec). Static SQL can't iterate-until-converged, but with a
    * CAPPED maxIters the driver oracle replays every capped round
    * and the movement probe, so the gate's stop round is
    * value-checked (round 13).
    *
    * @return (trained centroids, rounds actually run, the per-round
    *   movement trace — `moves(r-1)` is the max component movement
    *   after round r; exactly `roundsRun` entries). The trace is what
    *   the driver gate surfaces so the convergence PROBE itself is
    *   oracle-checked, not just the stop round it produced.
    */
  def ivfCentroidsConverged(embeddings: DataFrame, nCentroids: Int = 16,
      maxIters: Int = 8, tol: Double = 1e-3, dim: Int = 64): (DataFrame, Int, Seq[Double]) = {
    val n = requireDim(embeddings, dim)
    val src = roundInput(embeddings, n)
    var cents = collectedCents(ivfCentroids(embeddings, nCentroids))
    var rounds = 0
    var moved = Double.MaxValue
    val moves = Seq.newBuilder[Double]
    while (rounds < maxIters && moved > tol) {
      val next = lloydRound(src, cents, dim)
      moved = maxCentroidMove(cents, next)
      moves += moved
      cents = next
      rounds += 1
    }
    (centsDF(embeddings.sparkSession, cents), rounds, moves.result())
  }

  /** Max absolute per-component centroid movement between two k-row
    * centroid sets (already driver-local — the rounds collect their
    * k-row means anyway, so the probe costs no extra job).
    */
  private def maxCentroidMove(prev: Seq[(Long, Seq[Float])],
      next: Seq[(Long, Seq[Float])]): Double = {
    val n = next.toMap
    prev.iterator.flatMap { case (k, v) =>
      v.zip(n(k)).map { case (x, y) => math.abs(x.toDouble - y.toDouble) }
    }.max
  }

  /** IVF cell assignment: (vec_id, cid) — every vector's nearest
    * centroid of `cents`. Cell-size statistics off this frame are how
    * a deployment watches for degenerate quantization (the spec pins
    * a distribution bound on it).
    *
    * Assignment uses the fast DOUBLE dot: it is bit-identical across
    * engines (index-order fold, validated), so argmax + cid tiebreak
    * is just as hash-safe as decimal at half the cost. The argmax is
    * the LITERAL-greatest projection ([[nearestStruct]]): zero
    * shuffle, zero aggregate — assignment is embarrassingly parallel
    * map work at any corpus size (the former max(struct) aggregate
    * shuffled one pre-combined row per vector).
    */
  private[graft] def ivfAssignWith(embeddings: DataFrame, cents: DataFrame): DataFrame =
    withAssignedCid(embeddings, cents).select("vec_id", "cid")

  /** `embeddings` with its nearest-centroid `cid` attached as a
    * literal-argmax PROJECTION (every original column rides along) —
    * the assignment shape every consumer should use: the former
    * `emb.join(ivfAssignWith(emb, cents), "vec_id")` pattern paid a
    * corpus self-join (an n-row exchange at scale) just to re-attach
    * the embedding to its own cid. Collecting the k-row centroid set
    * is one bounded job (free when `cents` is already a
    * LocalRelation); an EMPTY centroid set assigns a null cid, which
    * no equi-join or cell group ever matches — the empty-history
    * contract (no cells → empty results downstream) is unchanged.
    */
  private[graft] def withAssignedCid(embeddings: DataFrame, cents: DataFrame): DataFrame =
    withAssignedCidLit(embeddings, collectedCents(cents))

  /** [[withAssignedCid]] over an already-collected centroid set (so a
    * call site assigning several frames collects the geometry once).
    */
  private def withAssignedCidLit(embeddings: DataFrame,
      cands: Seq[(Long, Seq[Float])]): DataFrame =
    embeddings.withColumn("cid",
      nearestStruct(cands, col("embedding"), ivfScore).getField("cid"))

  /** SemDeDup with the PAPER's keep policy (Abbas et al. 2023 §3):
    * within each cluster, duplicate pairs close transitively into
    * GROUPS (connected components over the ≥-threshold pair set —
    * [[Dedup.connectedComponents]]'s alternating-star rounds), and
    * each group keeps the member with the LOWEST cosine to its
    * centroid — the paper's "keep cluster-atypical examples" rule —
    * with the id as tie-break. [[semanticDedupFrom]] is the cheaper
    * one-pass lower-id analog; this is the faithful variant.
    *
    * Returns every GROUPED vector: (vec_id, gid = component min, cid,
    * centroid_cos, kept). Ungrouped vectors (no ≥-threshold mate)
    * never appear — they are all keepers trivially.
    *
    * Scale shape: pair work is the same Σ n_c² cid-equi join; the
    * closure runs over the PAIR set (dup-group-sized, never
    * corpus-sized — the tx_pipeline asymmetry), and the keeper
    * election windows over grouped vectors partitioned by gid.
    */
  def semanticDedupGroupsFrom(embeddings: DataFrame, nCentroids: Int = 16,
      threshold: Double = 0.95): DataFrame = {
    // one corpus sample job; assignment AND the centroid cosine come
    // out of the same literal argmax struct (cdot IS the dot against
    // the winning centroid), so the former assign self-join and the
    // centroid re-join both vanish from the plan
    val cands = collectedCents(ivfCentroids(embeddings, nCentroids))
    val cdots = embeddings
      .withColumn("_s", nearestStruct(cands, col("embedding"), ivfScore))
      .select(col("vec_id"), col("_s.cid").as("cid"), col("embedding"),
        col("_s.cdot").as("cdot"))
    val a = cdots.select(col("cid"), col("vec_id").as("i"), col("embedding").as("va"))
    val b = cdots.select(col("cid"), col("vec_id").as("j"), col("embedding").as("vb"))
    val pairs = a.join(b, Seq("cid")).filter(col("i") < col("j"))
      .filter(dotDouble(col("va"), col("vb")) >= threshold - 0.01)
      .filter(dotDecimal(col("va"), col("vb")) >= threshold)
      .select("i", "j")
    val w = Window.partitionBy("gid").orderBy(col("cdot").asc, col("vec_id").asc)
    Dedup.connectedComponents(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id").as("gid"))
      .join(cdots.select("vec_id", "cid", "cdot"), "vec_id")
      .withColumn("kept", (row_number().over(w) === 1).cast("int"))
      .select(col("vec_id"), col("gid"), col("cid"),
        round(col("cdot"), 6).cast("double").as("centroid_cos"), col("kept"))
      .orderBy("vec_id")
  }

  /** Incremental SemDeDup — the at-ingest twin of
    * [[semanticDedupFrom]]: a new batch is judged inside the
    * HISTORY's cluster geometry (centroids seeded from the ingested
    * corpus, so verdicts are stable as batches arrive). A batch
    * vector drops iff its cell contains a history vector at cosine ≥
    * threshold (any id) or a LOWER-id batch-mate (the intra-batch
    * rule — two twins arriving together yield one survivor, the
    * VecScreen discipline). Returns the dropped set
    * (vec_id, cid, kept_by = smallest similar mate, max_cos).
    *
    * Scale shape: both assignments are the broadcast-argmax scan; the
    * two candidate joins are equi on cid with history cells bounded
    * by the [[centroidsFor]] knob; batch-side work is batch-sized. In
    * a deployment the history side lands cid-bucketed (the VecCatalog
    * pattern with cid as the bucket key) so the per-batch screen
    * never rescans raw history — here the operator takes the frames
    * directly, the gate proving the verdict algebra.
    *
    * `hist` must be non-empty: the cluster geometry comes from it, so
    * an empty history yields no cells and the screen returns empty
    * (including the intra-batch rule). Bootstrap an empty corpus with
    * [[semanticDedupFrom]] over the first batch instead.
    *
    * `cents` pins an externally-trained/seeded centroid frame
    * ((cid, ce) — e.g. the ORIGINAL landing's geometry for an ingest
    * loop whose history grows with survivors, so verdicts never shift
    * because a later arrival displaced a seed); by default centroids
    * seed from `hist` itself.
    */
  def semanticScreenFrom(batch: DataFrame, hist: DataFrame,
      nCentroids: Int = 16, threshold: Double = 0.95,
      cents0: Option[DataFrame] = None): DataFrame = {
    // geometry collected once (k rows), both sides assigned by the
    // same literal-argmax projection — no assign self-joins
    val cands = collectedCents(cents0.getOrElse(ivfCentroids(hist, nCentroids)))
    val h = withAssignedCidLit(hist, cands)
      .select(col("cid"), col("vec_id").as("h_id"), col("embedding").as("vh"))
    val b = withAssignedCidLit(batch, cands)
      .select(col("cid"), col("vec_id").as("b_id"), col("embedding").as("vb"))
    val b2 = b.select(col("cid"), col("b_id").as("h_id"), col("vb").as("vh"))
    val selfHits = semanticHits(b, b2, threshold, col("h_id") < col("b_id"))
    semanticRollup(semanticHits(b, h, threshold).unionByName(selfHits))
  }

  /** Within-cell candidate hits: batch rows (cid, b_id, vb) against
    * cell-mates (cid, h_id, vh), double prefilter then decimal
    * verify — the shared core of the in-plan screen and the
    * [[graft.plans.SemCatalog]] landed screen. `pairFilter` prunes
    * pairs BEFORE any dot is computed (the intra-batch lower-id
    * rule rides here so self- and mirrored pairs never reach the
    * decimal verify).
    */
  private[graft] def semanticHits(b: DataFrame, h: DataFrame,
      threshold: Double, pairFilter: Column = lit(true)): DataFrame =
    b.join(h, Seq("cid"))
      .filter(pairFilter)
      .filter(dotDouble(col("vb"), col("vh")) >= threshold - 0.01)
      .withColumn("dot", dotDecimal(col("vb"), col("vh")))
      .filter(col("dot") >= threshold)
      .select(col("b_id"), col("cid"), col("h_id").as("mate"), col("dot"))

  /** Hit rollup to the verdict shape (vec_id, cid, kept_by, max_cos). */
  private[graft] def semanticRollup(hits: DataFrame): DataFrame =
    hits.groupBy(col("b_id").as("vec_id"), col("cid"))
      .agg(min("mate").as("kept_by"), max("dot").as("md"))
      .select(col("vec_id"), col("cid"), col("kept_by"),
        round(col("md"), 6).cast("double").as("max_cos"))
      .orderBy("vec_id")

  /** Semantic deduplication (SemDeDup — Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with k-means,
    * then within each cluster drop every vector that has a
    * LOWER-id cluster-mate with cosine ≥ `threshold`. This is the
    * paper's one-pass rule (each item judged against its whole
    * cluster, one representative survives per tight semantic group);
    * the faithful grouped variant is [[semanticDedupGroupsFrom]].
    *
    * Returns the DROPPED set: (vec_id, cid, kept_by, max_cos) —
    * kept_by is the smallest similar lower-id cluster-mate (the
    * witness), max_cos the largest decimal-exact cosine to any such
    * mate, rounded to 6 for the gate. Survivors = embeddings minus
    * these vec_ids.
    *
    * Scale shape — the whole point of SemDeDup over exact all-pairs:
    * assignment is the broadcast-argmax scan ([[ivfAssignWith]]'s
    * map-side-combined shape, no n×C shuffle), and the pair join is
    * EQUI on cid — the shuffle is cluster-keyed and the pair count is
    * Σ n_c² over cells, never corpus n². At 100 TB, nCentroids grows
    * with the corpus (the paper runs 50k clusters for LAION) so cells
    * stay bounded; the double-dot prefilter keeps the exact decimal
    * verify off all but candidate pairs. Assignment ties and the
    * drop rule are id-tiebroken, so the result is deterministic and
    * engine-portable (the driver gate replays clustering + rule in
    * SQL).
    *
    * `maxCell` is the adversarial-cell guardrail (the minhash
    * maxBucket/capStar discipline carried to clusters): a degenerate
    * corpus can collapse into one cell — boilerplate embeddings,
    * near-constant vectors — and the within-cell join goes n_c².
    * Cells over the cap contribute only their LINEAR (cell-min,
    * member) hub pairs: for the degenerate case that caused the
    * over-fill (a cell of near-identical vectors) the hub reaches
    * everything, so all copies still drop and the hub survives;
    * heterogeneous over-full cells under-drop (the documented recall
    * trade — raise nCentroids via [[centroidsFor]] to shrink cells
    * instead when that matters). Small cells keep exact all-pairs
    * semantics.
    */
  def semanticDedupFrom(embeddings: DataFrame, nCentroids: Int = 16,
      threshold: Double = 0.95, trainIters: Int = 0,
      maxCell: Option[Int] = None): DataFrame = {
    val cents =
      if (trainIters > 0) ivfCentroidsTrained(embeddings, nCentroids, trainIters)
      else ivfCentroids(embeddings, nCentroids)
    val withC = withAssignedCid(embeddings, cents)
    val a = withC.select(col("cid"), col("vec_id").as("i"), col("embedding").as("va"))
    val b = withC.select(col("cid"), col("vec_id").as("j"), col("embedding").as("vb"))
    val pairs = maxCell match {
      case None => a.join(b, Seq("cid")).filter(col("i") < col("j"))
      case Some(cap) =>
        val csz = withC.groupBy("cid")
          .agg(count(lit(1)).as("n_c"), min("vec_id").as("cmin"))
        val smallPairs = a
          .join(broadcast(csz.filter(col("n_c") <= cap).select("cid")),
            Seq("cid"), "left_semi")
          .join(b, Seq("cid")).filter(col("i") < col("j"))
        // over-full cells: the hub (= cell min) pairs with every other
        // member — linear, and i < j holds because the hub is the min
        val hubs = a.join(
          broadcast(csz.filter(col("n_c") > cap)
            .select(col("cid"), col("cmin"))),
          Seq("cid"))
          .filter(col("i") === col("cmin")).drop("n_c", "cmin")
        val hubPairs = hubs.join(b, Seq("cid")).filter(col("i") =!= col("j"))
        smallPairs.unionByName(hubPairs)
    }
    pairs
      .filter(dotDouble(col("va"), col("vb")) >= threshold - 0.01)
      .withColumn("dot", dotDecimal(col("va"), col("vb")))
      .filter(col("dot") >= threshold)
      .groupBy(col("j").as("vec_id"), col("cid"))
      .agg(min("i").as("kept_by"), max("dot").as("md"))
      .select(col("vec_id"), col("cid"), col("kept_by"),
        round(col("md"), 6).cast("double").as("max_cos"))
      .orderBy("vec_id")
  }

  private[graft] def ivfCandidates(embeddings: DataFrame,
      nQueries: Int, nCentroids: Int, nProbe: Int,
      trainIters: Int = 0): DataFrame = {
    // geometry collected once (free for the trained path — the
    // trainer already returns a k-row LocalRelation); the corpus
    // assignment is the literal-argmax projection and the probe
    // ranking crosses the bounded query set with the k-row
    // LocalRelation instead of re-running the sample subtree
    val cands = collectedCents(
      if (trainIters > 0) ivfCentroidsTrained(embeddings, nCentroids, trainIters)
      else ivfCentroids(embeddings, nCentroids))
    val cents = centsDF(embeddings.sparkSession, cands)
    val assigned = withAssignedCidLit(embeddings, cands).select("vec_id", "cid")
    val wQ = Window.partitionBy("query_id").orderBy(col("cdot").desc, col("cid"))
    val probes = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
      .crossJoin(broadcast(cents))
      .withColumn("cdot", dotDouble(col("q"), col("ce")))
      .withColumn("_r", row_number().over(wQ)).filter(col("_r") <= nProbe)
      .select(col("query_id"), col("cid"))
    // cells are disjoint (one cid per vector) and probes distinct per
    // query, so (query_id, vec_id) is already unique — no dedup step
    probes.join(assigned, "cid")
      .filter(col("query_id") =!= col("vec_id"))
      .select("query_id", "vec_id")
  }

  /** Same operator over any (vec_id, embedding) table (spec seam). */
  def ivfTopKFrom(embeddings: DataFrame,
      nQueries: Int = 8, k: Int = 10, nCentroids: Int = 16, nProbe: Int = 6,
      trainIters: Int = 0): DataFrame = {
    val cand = ivfCandidates(embeddings, nQueries, nCentroids, nProbe, trainIters)
    val qv = embeddings.select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val cv = embeddings.select(col("vec_id"), col("embedding").as("v"))
    val scored = cand.join(qv, "query_id").join(cv, "vec_id")
      .withColumn("dot", dotDecimal(col("q"), col("v")))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("dot"), 6).cast("double").as("score"))
      .orderBy("query_id", "rank")
  }

  /** IVF + SQ8 composed — the production serving shape: the IVF
    * index prunes candidates (probe the nProbe nearest cells), and
    * the int8 codes rank them ([[sq8TopK]]'s dot·scale key) — at
    * scale the float vectors never leave the index build; queries
    * touch only the 4×-smaller code table. The candidate stage and
    * its broadcast-argmax shape are [[ivfTopKFrom]]'s verbatim; the
    * ranking swaps the decimal dot for `dot_i8`. Output is integer
    * facts (dot_q), so the oracle replays candidates, codes and
    * order exactly.
    */
  def ivfSq8TopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10, nCentroids: Int = 16,
      nProbe: Int = 6): DataFrame = {
    val embeddings = Tables.embeddings(spark, dir)
    val cand = ivfCandidates(embeddings, nQueries, nCentroids, nProbe)
    val z = embeddings
      .select(col("vec_id"),
        graft.functions.VectorExpressions.sq8_quantize(col("embedding")).as("z"))
      .select(col("vec_id"), col("z.scale").as("s"), col("z.q").as("q"))
    val qz = z.select(col("vec_id").as("query_id"), col("q").as("qq"))
    val scored = cand.join(qz, "query_id").join(z, "vec_id")
      .withColumn("dot_q",
        graft.functions.VectorExpressions.dot_i8(col("qq"), col("q")))
    val w = Window.partitionBy("query_id")
      .orderBy((col("dot_q").cast("double") * col("s")).desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("dot_q"))
      .orderBy("query_id", "rank")
  }

  /** IVF-pruned, binary-quantized top-k — cell pruning composed with
    * the 1-bit candidate metric: the IVF index probes the nProbe
    * nearest cells ([[ivfSq8TopK]]'s candidate stage verbatim), the
    * sign words order the cell members by Hamming distance
    * ([[bqTopK]]'s metric — within probed cells the packed index is
    * all a query touches), and only the `rerank` Hamming-nearest
    * fetch their float rows for the exact decimal rerank. At extreme
    * scale this is the composition that serves: cells bound the scan,
    * 8-byte words bound the memory, and the float table is touched
    * `rerank` rows per query via a broadcast equi join.
    */
  def ivfBqTopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10, nCentroids: Int = 16,
      nProbe: Int = 6, rerank: Int = 128): DataFrame =
    ivfBqTopKFrom(Tables.embeddings(spark, dir), nQueries, k,
      nCentroids, nProbe, rerank)

  /** Same operator over any (vec_id, embedding) table (spec/scale
    * seam — PLANS.md records a run at 10⁷ synthesized vectors).
    */
  def ivfBqTopKFrom(embeddings: DataFrame,
      nQueries: Int = 8, k: Int = 10, nCentroids: Int = 16,
      nProbe: Int = 6, rerank: Int = 128): DataFrame = {
    val cand = ivfCandidates(embeddings, nQueries, nCentroids, nProbe)
    val codes = embeddings.select(col("vec_id"),
      graft.functions.VectorExpressions.bq_pack(col("embedding")).as("code"))
    val qc = codes.select(col("vec_id").as("query_id"), col("code").as("qc"))
    val ham = cand.join(qc, "query_id").join(codes, "vec_id")
      .withColumn("hdist", bit_count(col("qc").bitwiseXOR(col("code"))))
    // map-side bounded cut, as in [[bqTopK]]
    val cut = hammingCut(ham, rerank)
    val qv = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val candq = cut.join(broadcast(qv), "query_id")
    val scored = embeddings.select(col("vec_id"), col("embedding").as("ce"))
      .join(broadcast(candq), "vec_id")
      .withColumn("dot", dotDecimal(col("qe"), col("ce")))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("hdist"),
        round(col("dot"), 6).cast("double").as("score"))
      .orderBy("query_id", "rank")
  }

  /** Metadata-FILTERED ANN over the IVF index — the pre- vs
    * post-filtering problem of vector search: "top-k nearest WHERE
    * <predicate>" must apply the predicate BELOW the ranking.
    * Post-filtering (rank the unfiltered candidates, then filter the
    * top-k) silently under-returns whenever the filter excludes any
    * of the unfiltered winners — with a 1/3-selective predicate the
    * expected yield is ~k/3, not k. Here the predicate prunes the
    * candidate join's corpus side before the decimal ranking, so all
    * k survivors come from the filtered set at the same plan shape
    * (Catalyst pushes the predicate into the corpus scan; cell
    * assignment and probing are untouched). IVF caveat shared with
    * every probe-limited index: only members of probed cells are
    * rankable, so a highly selective predicate wants a higher
    * `nProbe` — the knob is exposed, and the under-return vs
    * pre-filter contrast is pinned in TrainingSpec.
    */
  def ivfTopKFiltered(spark: SparkSession, dir: String, pred: Column,
      nQueries: Int = 8, k: Int = 10, nCentroids: Int = 16,
      nProbe: Int = 6): DataFrame =
    ivfTopKFilteredFrom(Tables.embeddings(spark, dir), pred, nQueries, k,
      nCentroids, nProbe)

  /** [[ivfTopKFiltered]] over any (vec_id, embedding, …) table. */
  def ivfTopKFilteredFrom(embeddings: DataFrame, pred: Column,
      nQueries: Int = 8, k: Int = 10, nCentroids: Int = 16,
      nProbe: Int = 6): DataFrame = {
    val cand = ivfCandidates(embeddings, nQueries, nCentroids, nProbe, 0)
    val qv = embeddings.select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val cv = embeddings.filter(pred).select(col("vec_id"), col("embedding").as("v"))
    val scored = cand.join(qv, "query_id").join(cv, "vec_id")
      .withColumn("dot", dotDecimal(col("q"), col("v")))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("dot"), 6).cast("double").as("score"))
      .orderBy("query_id", "rank")
  }

  /** ANN via IVF-PQ — the memory-scale path: IVF cell pruning plus
    * product-quantized ranking. Each vector is stored as `nSub` small
    * codes (8 here — 8 bytes instead of 256 bytes of floats, the
    * representation that lets a 100 TB embedding corpus rank
    * candidates from RAM), where code(v, s) is the L2-nearest of
    * `nCodes` per-subspace codewords (deterministic md5-sampled corpus
    * subvectors — engine-portable, like the IVF centroids). A query
    * ranks candidates by asymmetric distance (ADC): the sum over
    * subspaces of dot(query-sub, codeword[code]) — each per-subspace
    * dot is the bit-stable double kernel, summed as DECIMAL so the
    * 8-way sum is order-exact — then the `refine`·k ADC short list is
    * re-ranked with the exact decimal dot (the standard IVF-PQ
    * refinement step).
    *
    * Plan shape: the codebook (nSub·nCodes = 128 rows) broadcasts;
    * encoding is one broadcast equi-join + partial-agg argmax (same
    * trick as the IVF assignment); ADC ranking shuffles on
    * (query, vec) — candidates only, never the corpus cross product.
    *
    * Recall: bounded above by the IVF candidate ceiling (≈ 0.63 at
    * the 16×6 default on this corpus); measured ≈ 0.49 absolute at
    * sf0.1 = ~0.8 of that ceiling at refine = 15 — the synthetic
    * corpus is near-worst-case for PQ (unclustered random unit
    * vectors, so sampled codebooks quantize poorly); clustered
    * real-world embeddings recover far more of the ceiling at the
    * same code budget. TrainingSpec pins both the absolute floor and
    * the fraction-of-ceiling.
    */
  def ivfPqTopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10, nCentroids: Int = 16, nProbe: Int = 6,
      nSub: Int = 8, nCodes: Int = 16, refine: Int = 15,
      trainIters: Int = 0): DataFrame =
    ivfPqTopKFrom(Tables.embeddings(spark, dir), nQueries, k, nCentroids,
      nProbe, nSub, nCodes, refine, trainIters)

  /** The deterministic md5-sampled per-subspace codebook init:
    * (sub, cw_id, cw) — the `nCodes` corpus subvectors with the
    * smallest md5("pq<sub>|<vec_id>") per subspace.
    *
    * Selected WITHOUT a corpus-sized nSub-way exchange (a bare
    * Window.partitionBy("sub") funnels the n x nSub exploded frame
    * into nSub partitions and fully sorts each): two-level top-K —
    * per-(sub, shard) first (nSub x CwShards balanced partitions,
    * each sorting ~n/CwShards skinny rows), then per sub over the
    * <= CwShards x nCodes survivors, a bounded-cardinality exchange.
    * Exact, because the global top-K by (_h, vec_id) is contained in
    * the union of per-shard top-Ks — so the selected codebook (and
    * the oracle that replays the one-level sort in SQL) is
    * value-identical. Selection runs on the narrow (sub, vec_id, _h)
    * projection; the codeword vectors come from a broadcast join back
    * to the corpus, not from carrying 256-byte embeddings through the
    * shuffles.
    */
  def pqCodebooksSampled(embeddings: DataFrame, nSub: Int = 8,
      nCodes: Int = 16, dim: Int = 64): DataFrame = {
    val subDim = dim / nSub
    val subIdx = explode(array((0 until nSub).map(lit(_)): _*)).as("sub")
    val wS1 = Window.partitionBy("sub", "_shard").orderBy(col("_h"), col("vec_id"))
    val wS2 = Window.partitionBy("sub").orderBy(col("_h"), col("vec_id"))
    val cwKeys = embeddings.select(col("vec_id"), subIdx)
      .withColumn("_h", md5(concat(lit("pq"), col("sub").cast("string"),
        lit("|"), col("vec_id"))))
      .withColumn("_shard", pmod(col("vec_id"), lit(CwShards)))
      .withColumn("_r1", row_number().over(wS1))
      .filter(col("_r1") <= nCodes)
      .withColumn("_r", row_number().over(wS2))
      .filter(col("_r") <= nCodes)
      .select(col("sub"), col("vec_id").as("cw_id"))
    embeddings.join(broadcast(cwKeys), col("vec_id") === col("cw_id"))
      .select(col("sub"), col("cw_id"),
        slice(col("embedding"), col("sub") * subDim + 1, lit(subDim)).as("cw"))
  }

  /** TRAINED per-subspace codebooks: `iters` deterministic Lloyd
    * rounds on the sampled init — per-subspace k-means with the same
    * bit-portable arithmetic as [[ivfCentroidsTrained]] (assignment by
    * the double kernel's argmin-L2-as-argmax-dot trick; means as
    * float → DOUBLE → DECIMAL(28,12) sum → DOUBLE / count → FLOAT,
    * every edge value-based), so Spark and the SQL oracle produce
    * bit-identical codebooks. Codeword ids stay the init's sample ids;
    * an emptied codeword keeps its previous vector. This is the
    * standard PQ training step (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011 §III): sampled codebooks
    * quantize an unclustered corpus poorly — training moves each
    * codeword to its cell's mean, directly cutting quantization error
    * and with it the ADC ranking noise that costs recall.
    *
    * Plan shape per round: one broadcast of the 128-row codebook, one
    * corpus-sized partial-agg argmax, one decimal-sum mean aggregate —
    * shuffles carry (sub, cw_id)-keyed partial sums only; each round
    * ends in a hard lineage cut of the 128-row frame.
    */
  def pqCodebooksTrained(embeddings: DataFrame, nSub: Int = 8,
      nCodes: Int = 16, iters: Int = 2, dim: Int = 64): DataFrame = {
    val n = requireDim(embeddings, dim)
    if (iters <= 0) return pqCodebooksSampled(embeddings, nSub, nCodes, dim)
    var cw = collectedCw(pqCodebooksSampled(embeddings, nSub, nCodes, dim))
    // one corpus explode feeds every round (each round is one eager
    // job — its 128-row means collect — so all reads of the cached
    // frame complete inside the loop and the unpersist on exit can
    // never force a recompute); small corpora cache ONE block so each
    // round is a single-stage single-task job (see roundInput)
    val vs = roundInput(subvectors(embeddings, nSub, dim), n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try for (_ <- 0 until iters) cw = pqLloydRound(vs, cw, dim / nSub)
    finally vs.unpersist(false)
    cwDF(embeddings.sparkSession, cw)
  }

  /** The collected (sub, cw_id, cw) codebook for the literal-argmax
    * encode/round projections — nSub×nCodes rows, driver-bounded by
    * design.
    */
  private def collectedCw(cw: DataFrame): Seq[(Int, Long, Seq[Float])] =
    cw.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toIndexedSeq)).toSeq

  /** Collected codebooks back as a 128-row LocalRelation
    * (sub, cw_id, cw) — same role as [[centsDF]].
    */
  private def cwDF(spark: SparkSession,
      cw: Seq[(Int, Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    cw.toDF("sub", "cw_id", "cw")
  }

  /** Nearest-codeword argmax for a (sub, vs) row as a LITERAL
    * projection. NOT a CASE chain over subspaces — nSub × nCodes
    * `greatest` branches blow janino's 64 KB method limit and knock
    * the whole stage out of codegen (measured: ann_topk_ivfpq 1.8 →
    * 3.2 s on the interpreted fallback). Instead the codebook is
    * SLOT-ALIGNED: candidate slot c holds, per subspace, that
    * subspace's c-th codeword (sorted by cw_id) as literal arrays
    * indexed by `sub` via element_at — so the expression is exactly
    * nCodes structs (the IVF-sized `greatest`, which compiles), each
    * scoring argmin-L2 (dot(vs, cw) − dot(cw, cw)/2, /2 exact in
    * doubles, both dots the same kernel as the broadcast
    * formulation). A ragged subspace repeats its LAST codeword in
    * the tail slots — a duplicated candidate is invisible to max.
    * Bit-identical to the broadcast-join + max(struct) aggregate it
    * replaces, with the same zero-shuffle win as [[nearestStruct]].
    */
  private def pqNearestStruct(cw: Seq[(Int, Long, Seq[Float])],
      sub: Column, vs: Column): Column = {
    if (cw.isEmpty)
      return lit(null).cast("struct<cdot:double,ncid:bigint,cid:bigint>")
    val bySub = cw.groupBy(_._1).view
      .mapValues(_.map(e => (e._2, e._3)).sortBy(_._1)).toMap
    val subs = bySub.keys.toSeq.sorted
    require(subs == (0 until subs.size),
      s"pqNearestStruct expects dense subspace ids 0..n-1, got $subs")
    val nSlots = bySub.valuesIterator.map(_.size).max
    val ss = (0 until nSlots).map { c =>
      def slot(s: Int) = { val es = bySub(s); es(math.min(c, es.size - 1)) }
      val idC = element_at(typedLit(subs.map(slot(_)._1)), sub.cast("int") + 1)
      val vecC = element_at(typedLit(subs.map(slot(_)._2)), sub.cast("int") + 1)
      struct((dotDouble(vs, vecC) - dotDouble(vecC, vecC) / 2).as("cdot"),
        (-idC).as("ncid"), idC.as("cid"))
    }
    if (ss.size == 1) ss.head else greatest(ss: _*)
  }

  /** The exploded (vec_id, sub, vs) subvector frame both PQ training
    * paths reassign against (rebuilt from the scan per round, like the
    * IVF trainer — lineage cuts live on the 128-row codebook side).
    */
  private def subvectors(embeddings: DataFrame, nSub: Int, dim: Int): DataFrame = {
    val subDim = dim / nSub
    val subIdx = explode(array((0 until nSub).map(lit(_)): _*)).as("sub")
    embeddings.select(col("vec_id"), col("embedding"), subIdx)
      .select(col("vec_id"), col("sub"),
        slice(col("embedding"), col("sub") * subDim + 1, lit(subDim)).as("vs"))
  }

  /** One per-subspace Lloyd round: literal argmin-L2 reassignment
    * (zero-shuffle projection) + decimal-sum means — one job whose
    * nSub×nCodes-row result merges with the previous codebook on the
    * driver (`getOrElse` is the "emptied codeword keeps its vector"
    * left-join). Value-identical to the former broadcast-join round:
    * the same multiset of (sub, vs, cw_id) rows feeds the same
    * decimal aggregate.
    */
  private def pqLloydRound(vsubs: DataFrame,
      cw: Seq[(Int, Long, Seq[Float])], subDim: Int): Seq[(Int, Long, Seq[Float])] = {
    val code = pqNearestStruct(cw, col("sub"), col("vs")).getField("cid")
    // same ONE-aggregate decimal-vector fold as lloydRound (see there)
    val decVec = array((0 until subDim).map(i =>
      col("vs").getItem(i).cast("double").cast("decimal(28,12)")): _*)
    val means = vsubs
      .select(col("sub"), decVec.as("dv"), code.as("cw_id"))
      .groupBy("sub", "cw_id").agg(
        graft.functions.VectorExpressions.decimal_vec_sum(col("dv"), subDim).as("s"),
        count(lit(1)).as("n"))
      .select(col("sub"), col("cw_id"), array((0 until subDim).map(i =>
        (col("s").getItem(i).cast("double") / col("n")).cast("float")): _*).as("me"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Float](2).toIndexedSeq)
      .toMap
    cw.map { case (sb, id, v) => (sb, id, means.getOrElse((sb, id), v)) }
  }

  /** Convergence-stopped PQ training — the operational twin of
    * [[ivfCentroidsConverged]] for the per-subspace codebooks: the
    * same deterministic round step as [[pqCodebooksTrained]], stopped
    * once no codeword component moved more than `tol` (or at
    * `maxIters`). The movement check runs on the 128-row codebooks
    * the rounds already hold driver-side (corpus work stays
    * distributed), so it costs no extra job.
    * Result equals `pqCodebooksTrained(emb, nSub, nCodes, roundsRun)`
    * exactly — pinned by spec; the capped-round driver gate's stop
    * round is SQL-oracled the same way as the IVF twin (round 13).
    *
    * @return (trained codebooks, rounds actually run, per-round
    *   movement trace — same contract as
    *   [[ivfCentroidsConverged]]'s)
    */
  def pqCodebooksConverged(embeddings: DataFrame, nSub: Int = 8,
      nCodes: Int = 16, maxIters: Int = 8, tol: Double = 1e-3,
      dim: Int = 64): (DataFrame, Int, Seq[Double]) = {
    val nRows = requireDim(embeddings, dim)
    var cw = collectedCw(pqCodebooksSampled(embeddings, nSub, nCodes, dim))
    var rounds = 0
    var moved = Double.MaxValue
    val moves = Seq.newBuilder[Double]
    // same one-explode-feeds-every-round cache as pqCodebooksTrained;
    // the movement probe runs on the codebooks the rounds already
    // hold driver-side, so it costs no extra job; small corpora cache
    // ONE block so each round is a single-stage job (see roundInput)
    val vs = roundInput(subvectors(embeddings, nSub, dim), nRows)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try while (rounds < maxIters && moved > tol) {
      val next = pqLloydRound(vs, cw, dim / nSub)
      val n = next.map { case (sb, id, v) => (sb, id) -> v }.toMap
      moved = cw.iterator.flatMap { case (sb, id, v) =>
        v.zip(n((sb, id))).map { case (x, y) => math.abs(x.toDouble - y.toDouble) }
      }.max
      moves += moved
      cw = next
      rounds += 1
    } finally vs.unpersist(false)
    (cwDF(embeddings.sparkSession, cw), rounds, moves.result())
  }

  /** Same operator over any (vec_id, embedding) table (spec seam).
    * Assumes 64-dim embeddings (the corpus contract) split into
    * `nSub` equal subspaces.
    *
    * @param trainIters with > 0, the codebooks are Lloyd-TRAINED
    *   ([[pqCodebooksTrained]]) instead of raw md5 samples — the main
    *   recall lever on weakly-clustered corpora.
    */
  def ivfPqTopKFrom(embeddings: DataFrame,
      nQueries: Int = 8, k: Int = 10, nCentroids: Int = 16, nProbe: Int = 6,
      nSub: Int = 8, nCodes: Int = 16, refine: Int = 15,
      trainIters: Int = 0): DataFrame = {
    requireDim(embeddings, 64)
    val subDim = 64 / nSub
    val subIdx = explode(array((0 until nSub).map(lit(_)): _*)).as("sub")
    def subVec(v: Column): Column = slice(v, col("sub") * subDim + 1, lit(subDim))

    // codebooks collected once (nSub×nCodes rows — free for the
    // trained path, which already returns a LocalRelation); the ADC
    // joins read the LocalRelation instead of re-running the sample
    val cwLit = collectedCw(
      if (trainIters > 0) pqCodebooksTrained(embeddings, nSub, nCodes, trainIters)
      else pqCodebooksSampled(embeddings, nSub, nCodes))
    val cw = cwDF(embeddings.sparkSession, cwLit)

    // encode: argmin L2 == argmax dot(vs, cw) - dot(cw, cw)/2 (the
    // dot(vs, vs) term is constant per row); /2 is exact in doubles —
    // a literal-argmax projection, so the n×nSub×nCodes explode and
    // its aggregate never materialize
    val vsubs = embeddings.select(col("vec_id"), col("embedding"), subIdx)
      .select(col("vec_id"), col("sub"), subVec(col("embedding")).as("vs"))
    val codes = vsubs.select(col("vec_id"), col("sub"),
      pqNearestStruct(cwLit, col("sub"), col("vs")).getField("cid").as("code"))

    // per-query ADC lookup table: nQueries x nSub x nCodes rows
    val adc = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding"), subIdx)
      .select(col("query_id"), col("sub"), subVec(col("embedding")).as("qs"))
      .join(broadcast(cw), "sub")
      .select(col("query_id"), col("sub"), col("cw_id").as("code"),
        dotDouble(col("qs"), col("cw")).cast("decimal(28,12)").as("part"))

    val cand = ivfCandidates(embeddings, nQueries, nCentroids, nProbe)
    val approx = cand.join(codes, "vec_id")
      .join(broadcast(adc), Seq("query_id", "sub", "code"))
      .groupBy("query_id", "vec_id").agg(sum(col("part")).as("adc"))
    val wA = Window.partitionBy("query_id").orderBy(col("adc").desc, col("vec_id"))
    val short = approx.withColumn("_r", row_number().over(wA))
      .filter(col("_r") <= refine * k).select("query_id", "vec_id")

    // exact decimal re-rank of the ADC short list
    val qv = embeddings.select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val cv = embeddings.select(col("vec_id"), col("embedding").as("v"))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("vec_id"))
    short.join(qv, "query_id").join(cv, "vec_id")
      .withColumn("dot", dotDecimal(col("q"), col("v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("dot"), 6).cast("double").as("score"))
      .orderBy("query_id", "rank")
  }

  /** Cluster-count sizing for the IVF / [[semanticDedupFrom]] family —
    * the SemDeDup scale knob as code (the paper's 50k-cluster regime
    * for LAION-scale corpora). Cells average n/k vectors and the
    * within-cell pair join costs Σ n_c² ≈ n²/k, so k must GROW with
    * the corpus to keep cells (and per-cell quadratic work) bounded:
    * k = round(n / targetCell), floored at 4 (below that the sampled
    * init is the corpus) and capped at 2^20 (a million-row centroid
    * frame is the practical broadcast ceiling for the argmax
    * assignment — past it, assign hierarchically instead). The
    * round-15 sf1 receipt (PLANS.md) measured the shape this keeps:
    * 10× vectors at 4× clusters cost 4.7×, not 100×.
    */
  def centroidsFor(n: Long, targetCell: Long = 512): Int = {
    require(n > 0 && targetCell > 0,
      s"corpus size and target cell must be positive: $n, $targetCell")
    val raw = math.round(n.toDouble / targetCell)
    math.max(4L, math.min(1L << 20, raw)).toInt
  }

  /** MurmurHash3's public fmix64 avalanche finalizer. FNV-1a's final
    * multiply barely diffuses the LAST byte into any single output
    * bit on short keys — the round-9 audit found `fnv1a64("p|i") & 1`
    * produced only TWO distinct plane rows out of 16 (every
    * "hyperplane" was ± one fixed vector: 2 effective buckets, half
    * the corpus in each, so the candidate join was n²/4 and
    * multi-probe was structurally dead). The finalizer restores full
    * avalanche; plane independence is pinned by TrainingSpec.
    */
  private def fmix64(x: Long): Long = {
    var h = x
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL
    h ^= h >>> 33; h *= 0xC4CEB9FE1A85EC53L
    h ^= h >>> 33
    h
  }

  /** Deterministic ±1 hyperplane matrix: sign(p)(i) from the
    * avalanched fnv1a64 of "p|i" — reproducible across sessions and
    * engines (the oracle SQL embeds the same literals), no RNG.
    */
  def hyperplaneSigns(nPlanes: Int, dim: Int): Array[Array[Int]] =
    Array.tabulate(nPlanes, dim) { (p, i) =>
      if ((fmix64(TextImpl.fnv1a64(s"$p|$i")) & 1L) == 0L) 1 else -1
    }

  /** (table, bucket) pairs for one embedding: `nTables` independent
    * `nPlanes`-bit signatures, table t using plane rows
    * [t·nPlanes, (t+1)·nPlanes). Exploded, they key the banded
    * candidate join — the same bands-then-verify shape as the MinHash
    * pipeline. One k-bit table's recall on weakly-similar neighbors
    * is near zero (p^k per pair); L tables give 1 − (1 − p^k)^L.
    */
  def tableBuckets(v: Column, signs: Array[Array[Int]],
      nPlanes: Int, nTables: Int): Column =
    array((0 until nTables).map { t =>
      struct(lit(t).as("tbl"),
        lshSignature(v, signs.slice(t * nPlanes, (t + 1) * nPlanes)).as("bkt"))
    }: _*)

  /** Random-hyperplane signature of an embedding column (one bit per
    * plane row passed in): each bit is the sign of the dot with a ±1
    * plane (native dot kernel).
    */
  def lshSignature(v: Column, signs: Array[Array[Int]]): Column = {
    val bits = signs.zipWithIndex.map { case (row, p) =>
      val signed = graft.functions.VectorExpressions.dot_f32(v, lit(row.map(_.toFloat)))
      when(signed > 0, lit(1 << p)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** ANN via multi-table hyperplane LSH: `nTables` independent
    * `nPlanes`-bit signatures; candidates are the union of same-bucket
    * vectors across tables, ranked by the exact decimal dot.
    * Candidates missing from every probed bucket are simply not
    * returned (recall measured against brute force in the spec:
    * ≈ 0.25 single-probe / ≈ 0.86 multi-probe on this weakly-similar
    * corpus at the 8×16 default).
    */
  def lshTopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10, nPlanes: Int = 8, nTables: Int = 16,
      multiProbe: Boolean = false): DataFrame =
    lshTopKFrom(Tables.embeddings(spark, dir), nQueries, k, nPlanes, nTables, multiProbe)

  /** Same operator over any (vec_id, embedding) table — the seam the
    * planted-neighbor spec uses to prove multi-probe recovers
    * cross-bucket neighbors single-probe misses.
    */
  def lshTopKFrom(embeddings: DataFrame,
      nQueries: Int = 8, k: Int = 10, nPlanes: Int = 8, nTables: Int = 16,
      multiProbe: Boolean = false): DataFrame = {
    val signs = hyperplaneSigns(nPlanes * nTables, 64)
    val tb = embeddings
      .withColumn("tb", explode(tableBuckets(col("embedding"), signs, nPlanes, nTables)))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
    val qBase = tb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("tbl"), col("bkt"))
    // multi-probe: within each table, a query also visits every bucket
    // one sign-flip away (nPlanes+1 probes per table) — recall of
    // near-boundary neighbors without growing the corpus side
    val probes =
      if (multiProbe)
        qBase.withColumn("bkt", explode(concat(array(col("bkt")),
          array((0 until nPlanes).map(p =>
            col("bkt").bitwiseXOR(lit(1 << p))): _*))))
      else qBase
    val cand = probes.join(tb, Seq("tbl", "bkt"))
      .filter(col("query_id") =!= col("vec_id"))
      .select("query_id", "vec_id").distinct()
    val qv = embeddings.select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val cv = embeddings.select(col("vec_id"), col("embedding").as("v"))
    val scored = cand.join(qv, "query_id").join(cv, "vec_id")
      .withColumn("dot", dotDecimal(col("q"), col("v")))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("dot"), 6).cast("double").as("score"))
      .orderBy("query_id", "rank")
  }
}
