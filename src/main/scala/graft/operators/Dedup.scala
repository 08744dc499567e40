package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SessionClone
import graft.Tables
import graft.functions.TextExpressions

/** Deduplication operators over the `documents` table (training-data
  * pipeline surface): exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale notes (the 100 TB story):
  *  - shingling + hashing are narrow, codegen'd projections — they
  *    scale linearly with no shuffle;
  *  - candidate generation shuffles on the shingle/band key, never on
  *    the document pair, so cost is bounded by bucket sizes, not n²;
  *  - the exact-verify stage touches only candidate pairs (LSH
  *    semantics), so all-pairs work never materializes.
  */
object Dedup {

  val ShingleN = 5
  val MinhashK = 16
  val Bands = 4 // x 4 rows per band
  val JaccardThreshold = 0.8

  /** (doc_id, sg) — one row per distinct shingle per doc. Rebuilt from
    * the parquet scan on each call so self-join plans stay independent
    * (dodges DetectAmbiguousSelfJoin; the double scan is co-optimized
    * by the parquet reader cache, and at scale you'd checkpoint it).
    */
  def shingleTable(spark: SparkSession, dir: String, idName: String): DataFrame =
    shinglesOf(Tables.documents(spark, dir), idName)

  /** Shingles of an arbitrary (doc_id, text, …) frame — the batch side
    * of the incremental operators shingles modified/new documents, not
    * a table scan.
    */
  def shinglesOf(docs: DataFrame, idName: String): DataFrame = {
    val ts = TextOps.tokens(col("text"))
    docs
      .select(col("doc_id").as(idName), ts.as("ts"))
      .filter(size(col("ts")) >= ShingleN)
      .select(col(idName), explode(TextOps.shingles(col("ts"), ShingleN)).as("sg"))
  }

  /** Incremental exact dedup: a new batch deduped within itself
    * (min doc_id per fingerprint wins) and against a historical
    * fingerprint catalog — the shape a production pipeline runs per
    * ingest batch instead of re-deduping the whole corpus. The
    * catalog join is an anti-join on the fingerprint: at 100 TB the
    * catalog is one row per distinct historical doc, so it shuffles
    * (or, landed bucketed by fp via BucketedLayout, joins
    * shuffle-free); the batch side is the small one.
    */
  def exactIncremental(batch: DataFrame, catalogFp: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    batch
      .withColumn("fp", md5(TextOps.norm(col("text"))))
      .withColumn("_m", min("doc_id").over(w))
      .filter(col("doc_id") === col("_m"))
      .join(catalogFp.select("fp"), Seq("fp"), "left_anti")
      .select("doc_id", "fp")
  }

  /** Broadcast-Bloom prefilter over [[exactIncremental]] — the shape
    * that keeps per-batch cost CATALOG-FREE for the common case at
    * 100 TB. The history catalog's fingerprint set is folded into one
    * Bloom filter (a distributed `treeAggregate` over the catalog —
    * the driver holds only the final bitmap, never rows), embedded in
    * the plan as a literal, and every batch survivor is tested with
    * Spark's own `BloomFilterMightContain` (the runtime-filter
    * machinery, expression-level, no UDF):
    *
    *  - filter says NO → the fingerprint is definitely absent from
    *    the catalog (Bloom filters have no false negatives) — the row
    *    is kept with no catalog access at all;
    *  - filter says MAYBE → only these rows (true hits + the ~fpp
    *    false-positive sliver) take the exact catalog anti-join.
    *
    * Result is therefore EXACTLY [[exactIncremental]]'s answer — the
    * Bloom stage only shrinks the anti-join's probe side, typically
    * to the duplicate fraction of the batch. Catalog-side cost is one
    * sketch build per catalog version (amortized across batches; a
    * deployment persists the serialized filter next to `_LANDED`).
    *
    * Driver-literal sizing: ~1.2 bytes/item at 1% fpp, so fine to
    * ~10⁸ catalog items; beyond that use [[bloomScreenSharded]] — one
    * filter per fp shard, built distributed, probed as a join column —
    * same guarantees, bitmap size bounded per shard.
    *
    * @param expectedItems capacity to size the filter for; the
    *   default (≤ 0) counts the catalog first — one cheap aggregate,
    *   amortized per catalog version like the filter build itself —
    *   so the bitmap (and the plan literal every task deserializes)
    *   is sized to the data, not to a guess.
    */
  def bloomScreen(batch: DataFrame, catalogFp: DataFrame,
      expectedItems: Long = -1L, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    // materialized: both routing branches read the survivor frame, and
    // without the pin each union arm would recompute the fingerprint
    // window from the scan — doubling the batch-side cost
    val survivors = graft.Shared.materialize(batch
      .withColumn("fp", md5(TextOps.norm(col("text"))))
      .withColumn("_m", min("doc_id").over(w))
      .filter(col("doc_id") === col("_m"))
      .select("doc_id", "fp"))
    // the filter stores xxhash64(fp) longs — the same keying
    // BloomFilterMightContain probes with below
    val capacity =
      if (expectedItems > 0) expectedItems
      else math.max(catalogFp.count(), 1024L)
    val bloom = catalogFp.stat.bloomFilter(xxhash64(col("fp")), capacity, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val might = ColumnBridge.column(BloomFilterMightContain(
      Literal(bytes, BinaryType),
      XxHash64(Seq(ColumnBridge.expression(col("fp"))), 42L)))
    val definitelyNew = survivors.filter(!might)
    val maybeSeen = survivors.filter(might)
      .join(catalogFp.select("fp"), Seq("fp"), "left_anti")
      .select("doc_id", "fp")
    definitelyNew.union(maybeSeen)
  }

  /** SHARDED Bloom prefilter — the >10⁸-catalog-items path the
    * single-filter [[bloomScreen]] documents: instead of one
    * corpus-wide bitmap embedded as a plan literal (fine to ~10⁸
    * items, then the literal every task deserializes outgrows its
    * welcome), the catalog folds into one filter PER SHARD of
    * `pmod(xxhash64(fp), nShards)` via a single distributed
    * `groupBy(shard)` + BloomFilterAggregate pass — no driver-side
    * bitmap at all; the filter table (nShards rows) broadcast-joins to
    * the batch on the shard key and each row probes its own shard's
    * filter through [[graft.functions.BloomExpressions]]'s tag-cached
    * column probe. Bitmap size is bounded per shard, build parallelism
    * is per shard, and raising nShards scales the structure to any
    * catalog size with no change of shape.
    *
    * Result is EXACTLY [[exactIncremental]]'s answer, same as the
    * unsharded screen: no-hits skip the catalog anti-join entirely
    * (Bloom has no false negatives; a shard absent from the catalog
    * joins a null filter = definitely new), maybe-hits take the exact
    * anti-join.
    */
  def bloomScreenSharded(batch: DataFrame, catalogFp: DataFrame,
      nShards: Int = 8, fpp: Double = 0.01): DataFrame = {
    require(nShards >= 1, s"bloomScreenSharded needs nShards >= 1, got $nShards")
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.functions.BloomExpressions.bloom_might_contain_tagged

    // per-shard capacity: catalog count spread over shards with a 30%
    // skew margin (xxhash64 spreads fp uniformly; the margin absorbs
    // binomial variance). One cheap count per catalog version, like
    // the unsharded auto-sizing.
    //
    // BloomFilterAggregate silently CLAMPS its sizing to the
    // runtime-filter confs (Math.min against maxNumItems/maxNumBits
    // inside the aggregate — verified in the Spark 4.1.2 jar): a
    // clamped filter would be built for 4M items but receive the full
    // shard, saturate toward fpp≈1, and quietly stop prefiltering at
    // exactly the >10⁸ scale this function exists for. So the shard
    // count AUTO-RAISES until the per-shard capacity and bit count
    // fit under both caps — correctness is untouched either way; this
    // keeps the routing effective at any catalog size.
    val spark2 = batch.sparkSession
    val maxItems = spark2.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits = spark2.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    val total = math.max(catalogFp.count(), 1024L)
    val floorItems = 1024L
    val floorBits =
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(floorItems, fpp)
    def sized(n: Int): (Long, Long) = {
      val per = math.max(total / n * 13L / 10L, floorItems)
      (per, org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(per, fpp))
    }
    // raising shards converges toward the floor sizing, so the loop
    // terminates iff the caps admit the floor; with caps below it
    // (pathological conf) no shard count can help — clamp to the caps
    // instead (filters may saturate toward fpp 1; exactness is
    // unaffected, the anti-join just sees more maybe-hits) and say so
    val capsAdmitFloor = maxItems >= floorItems && maxBits >= floorBits
    var nShardsEff = nShards
    if (capsAdmitFloor)
      while ({ val (p, b) = sized(nShardsEff); p > maxItems || b > maxBits })
        nShardsEff *= 2
    if (nShardsEff != nShards)
      System.err.println(s"[bloomScreenSharded] nShards raised $nShards -> $nShardsEff " +
        s"so per-shard sizing fits under the runtime-filter caps " +
        s"(catalog $total items, maxNumItems=$maxItems, maxNumBits=$maxBits)")
    val (perShard, nBits) = {
      val (p, b) = sized(nShardsEff)
      if (capsAdmitFloor) (p, b)
      else {
        System.err.println(s"[bloomScreenSharded] runtime-filter caps below the " +
          s"minimum sizing (maxNumItems=$maxItems, maxNumBits=$maxBits) — " +
          s"clamping; the prefilter may saturate but results stay exact")
        (math.min(p, maxItems), math.min(b, maxBits))
      }
    }
    def shardOf(c: Column): Column = pmod(xxhash64(c), lit(nShardsEff.toLong))
    val bloomAgg = ColumnBridge.column(new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(col("fp"))),
      Literal(perShard), Literal(nBits)).toAggregateExpression())
    // tagged form: 16-byte md5(payload) content tag + serialization —
    // the executor-side probe cache's key (see BloomExpressions)
    val filters = catalogFp
      .select(col("fp"), shardOf(col("fp")).as("shard"))
      .groupBy("shard").agg(bloomAgg.as("raw"))
      .select(col("shard"), concat(unhex(md5(col("raw"))), col("raw")).as("bloom"))

    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val survivors = graft.Shared.materialize(batch
      .withColumn("fp", md5(TextOps.norm(col("text"))))
      .withColumn("_m", min("doc_id").over(w))
      .filter(col("doc_id") === col("_m"))
      .select("doc_id", "fp"))
    val probed = survivors
      .withColumn("shard", shardOf(col("fp")))
      .join(broadcast(filters), Seq("shard"), "left")
    val might = bloom_might_contain_tagged(col("bloom"), xxhash64(col("fp")))
    val definitelyNew = probed.filter(col("bloom").isNull || !might)
      .select("doc_id", "fp")
    val maybeSeen = probed.filter(col("bloom").isNotNull && might)
      .join(catalogFp.select("fp"), Seq("fp"), "left_anti")
      .select("doc_id", "fp")
    definitelyNew.union(maybeSeen)
  }

  /** Exact dedup: survivors per md5(normalized text) group. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(TextOps.norm(col("text"))).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dupes"))
      .select("keep_id", "n_dupes")
      .orderBy("keep_id")

  /** Exact Jaccard over candidate pairs that share ≥1 shingle:
    * inverted-index join on the shingle (shuffle key = shingle), then
    * |∩| / |∪| from per-doc shingle-set sizes.
    *
    * @param maxBucket guardrail for corpus-frequent shingles: postings
    *   lists larger than this are dropped from candidate generation
    *   before the self-join (Σ bucket² goes quadratic on a stop-shingle
    *   at scale; a pair sharing only over-frequent shingles carries no
    *   dedup signal anyway — the standard stop-shingle cut). None =
    *   exact inverted-index semantics, what the oracle checks.
    */
  def ngramJaccard(spark: SparkSession, dir: String,
      threshold: Double = JaccardThreshold,
      maxBucket: Option[Int] = None,
      materialize: Boolean = true): DataFrame = {
    // the shingle stream feeds the sizes aggregate and both sides of
    // the inverted-index self-join; materialize it once (same
    // rationale and cleanup story as minhashLsh)
    val shRaw = shingleTable(spark, dir, "doc")
    val sh = if (materialize) graft.Shared.materialize(shRaw) else shRaw
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("n"))
    val postings = maxBucket match {
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy("sg")
        sh.withColumn("_psz", count(lit(1)).over(w))
          .filter(col("_psz") <= cap).drop("_psz")
      case None => sh
    }
    val inter = postings.as("a").join(postings.as("b"),
        col("a.sg") === col("b.sg") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("i"), col("b.doc").as("j"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(sizes.toDF("i", "ni"), "i")
      .join(sizes.toDF("j", "nj"), "j")
      .withColumn("jac", col("c").cast("double") / (col("ni") + col("nj") - col("c")))
      .filter(col("jac") >= threshold)
      .select(col("i"), col("j"), round(col("jac"), 3).as("jac"))
      .orderBy("i", "j")
  }

  /** MinHash signature per doc over an existing (possibly persisted)
    * shingle table: k independent min-hashes, realized as
    * `min(md5(seed || '|' || shingle))` — md5 hex strings compare
    * identically in Spark and DuckDB, making the signature (and thus
    * the whole LSH pipeline) oracle-checkable.
    */
  def minhashSignaturesFrom(sh: DataFrame, idName: String): DataFrame = {
    // hash dictionary: the k md5s are computed once per DISTINCT
    // shingle (the corpus vocabulary is much smaller than the shingle
    // stream), then joined back — 10x fewer md5 evaluations, value-
    // identical to hashing per occurrence
    val dict = sh.select("sg").distinct()
      .select(col("sg") +: (0 until MinhashK).map { s =>
        md5(concat_ws("|", lit(s.toString), col("sg"))).as(s"h$s")
      }: _*)
    // per-doc shingle-set size rides along with the signature — the
    // verify stage needs it and this saves a whole shingle pass
    val aggs = (0 until MinhashK).map(s => min(col(s"h$s")).as(s"m$s")) :+
      count(lit(1)).as("n")
    sh.join(dict, "sg")
      .groupBy(idName).agg(aggs.head, aggs.tail: _*)
  }

  /** Banded signature: `Bands` band keys per doc, each the md5 of its
    * band's 4 signature rows.
    */
  private def banded(sig: DataFrame, idName: String): DataFrame = {
    val bandCols = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|", (0 until MinhashK / Bands).map(r => col(s"m${b * (MinhashK / Bands) + r}")): _*)).as("bh"))
    }
    sig.select(col(idName), explode(array(bandCols: _*)).as("bk"))
      .select(col(idName), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  /** MinHash LSH near-dup detection: band-bucket join → distinct
    * candidate pairs → exact-Jaccard verify on candidates only.
    */
  /** @param maxBucket optional guardrail for adversarial corpora: band
    *   buckets larger than this are dropped from candidate generation
    *   (Σ bucket² explodes on pathological buckets at scale; dropping
    *   an over-full bucket loses only pairs that other bands can still
    *   recover). None (default) = exact LSH semantics, what the oracle
    *   checks.
    * @param capStar with a cap set, over-full buckets contribute
    *   (bucket-min, member) hub pairs instead of nothing — linear in
    *   bucket size, still Jaccard-verified, and connected components
    *   recovers the cluster through the hub. Without it a boilerplate
    *   cluster bigger than the cap in EVERY band vanishes entirely
    *   (the skew-rehearsal finding).
    */
  /** @param materialize persist the shingle and signature tables for
    *   the run (MEMORY_AND_DISK) through [[graft.Shared.materialize]].
    *   Pinned plans stay registered in the session's CacheManager
    *   until released — callers run their terminal action, then
    *   `Shared.releaseAll(spark)` (what Verify/Bench do per query; a
    *   long-lived service does the same per unit of work, or lands
    *   the signature table instead). The pipeline
    *   reads the shingle stream three times and the signatures three
    *   times; without materialization every reuse recomputes the
    *   whole subtree from the scan — at 100 TB that is 4 extra passes
    *   over the corpus, which is why a production run lands the
    *   signature table before LSH. Values are identical either way.
    */
  def minhashLsh(spark: SparkSession, dir: String,
      threshold: Double = JaccardThreshold,
      maxBucket: Option[Int] = None,
      materialize: Boolean = true,
      capStar: Boolean = false): DataFrame =
    minhashLshFrom(shingleTable(spark, dir, "doc"), threshold, maxBucket,
      materialize, capStar)

  /** Same operator over an arbitrary shingle table `(doc, sg)` — the
    * seam the ingest screens use to near-dup a micro-batch WITHIN
    * itself before screening it against the catalog.
    */
  def minhashLshFrom(sh: DataFrame,
      threshold: Double = JaccardThreshold,
      maxBucket: Option[Int] = None,
      materialize: Boolean = true,
      capStar: Boolean = false): DataFrame = {
    def mat(df: DataFrame): DataFrame =
      if (materialize) graft.Shared.materialize(df) else df
    val shM = mat(sh.toDF("doc", "sg"))
    val sig = mat(minhashSignaturesFrom(shM, "doc"))
    val bandsRaw = banded(sig, "doc")
    // capped mode sizes every bucket ONCE via groupBy + join-back: the
    // bucket-stats frame is one row per (band, bh) bucket — tiny, so
    // AQE broadcasts it and the join adds no shuffle or sort of the
    // corpus-sized band frame (a window over (band, bh) would sort the
    // whole frame; the aggregate gets map-side partial combine instead).
    // Materialized so the small-bucket and star branches share one pass.
    val sized = maxBucket.map { _ =>
      val stats = bandsRaw.groupBy("band", "bh")
        .agg(count(lit(1)).as("_bsz"), min(col("doc")).as("_bmin"))
      mat(bandsRaw.join(stats, Seq("band", "bh")))
    }
    val bands = (maxBucket, sized) match {
      case (Some(cap), Some(s)) =>
        s.filter(col("_bsz") <= cap).drop("_bsz", "_bmin")
      case _ => bandsRaw
    }
    val allPairs = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("i"), col("b.doc").as("j"))
    // star rescue for over-full buckets (the skew-rehearsal finding:
    // a boilerplate cluster — thousands of near-identical docs — fills
    // EVERY band bucket past any cap, so drop-mode loses the whole
    // cluster). Instead of the bucket's O(n²) pair set, emit only
    // (bucket-min, member): linear in bucket size, every pair still
    // Jaccard-verified (precision exact), and connected components
    // reassembles the cluster through the hub — what a dedup decision
    // actually needs. Pairs a hub-spoke verify rejects that a full
    // n² would have kept are the documented recall trade.
    val starPairs = (maxBucket, capStar, sized) match {
      case (Some(cap), true, Some(s)) =>
        s.filter(col("_bsz") > cap && col("doc") =!= col("_bmin"))
          .select(col("_bmin").as("i"), col("doc").as("j"))
      case _ => allPairs.limit(0)
    }
    val cands = allPairs.union(starPairs).distinct()

    val sizes = sig.select("doc", "n")
    // verify stage: intersection counted over candidate pairs only,
    // reading the (materialized) shingle table, not a fresh scan
    val inter = cands
      .join(shM.toDF("i", "sg"), "i")
      .join(shM.toDF("j2", "sg2"), col("j") === col("j2") && col("sg") === col("sg2"))
      .groupBy("i", "j").agg(count(lit(1)).as("c"))
    inter
      .join(sizes.toDF("i", "ni"), "i")
      .join(sizes.toDF("j", "nj"), "j")
      .withColumn("jac", col("c").cast("double") / (col("ni") + col("nj") - col("c")))
      .filter(col("jac") >= threshold)
      .select(col("i"), col("j"), round(col("jac"), 3).as("jac"))
      .orderBy("i", "j")
  }

  /** (doc, bk) band keys of a signature table — the candidate-join
    * key as ONE column (`band|bandhash`), which is what the landed
    * catalog buckets on so the per-batch candidate join needs no
    * shuffle of the history side. Equality on the composite equals
    * equality on the (band, bh) pair: band is an integer and bh a
    * fixed-length md5, so the separator is unambiguous.
    */
  def bandKeys(sig: DataFrame, idName: String): DataFrame =
    banded(sig, idName)
      .select(col(idName), concat_ws("|", col("band"), col("bh")).as("bk"))

  /** The incremental near-dup screen CORE: a batch shingle table
    * screened against history-side frames in catalog shape — band
    * keys `(doc, bk)`, shingle sets `(doc, sg)`, set sizes `(doc, n)`.
    * In production those three are LANDED bucketed tables
    * ([[graft.plans.DedupCatalog]]), appended per accepted batch, so
    * one run's cost scales with the batch: batch shingling/signing is
    * batch-sized, the candidate join is an equi-join on `bk` (history
    * side bucketed on it — no catalog shuffle), and the Jaccard
    * verify touches only candidate pairs' shingle sets.
    *
    * @return one row per batch doc with ≥1 catalog match at
    *   `threshold`: (doc_id, n_matches, matched_id = min matching
    *   history id, jac = best match score).
    */
  def minhashLshScreen(batchSh: DataFrame, histBands: DataFrame,
      histShingles: DataFrame, histSizes: DataFrame,
      threshold: Double = JaccardThreshold): DataFrame = {
    val bSh = graft.Shared.materialize(batchSh.toDF("doc", "sg"))
    val bSig = graft.Shared.materialize(minhashSignaturesFrom(bSh, "doc"))
    val cands = bandKeys(bSig, "doc").toDF("b", "bk")
      .join(histBands.toDF("h", "bk"), "bk")
      .select("b", "h").distinct()
    val inter = cands
      .join(bSh.toDF("b", "sg"), "b")
      .join(histShingles.toDF("h2", "sg2"),
        col("h") === col("h2") && col("sg") === col("sg2"))
      .groupBy("b", "h").agg(count(lit(1)).as("c"))
    inter
      .join(bSig.select(col("doc").as("b"), col("n").as("nb")), "b")
      .join(histSizes.toDF("h", "nh"), "h")
      .withColumn("jac", col("c").cast("double") / (col("nb") + col("nh") - col("c")))
      .filter(col("jac") >= threshold)
      .groupBy(col("b").as("doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("h")).as("matched_id"),
        round(max(col("jac")), 3).as("jac"))
      .orderBy("doc_id")
  }

  /** Incremental near-dup with the history side derived in-plan from
    * a shingle table — the self-contained shape of
    * [[minhashLshScreen]], mirroring [[exactIncremental]]. Kept for
    * one-shot use and the oracle gate; a per-ingest-batch deployment
    * reads the landed catalog instead ([[graft.plans.DedupCatalog]]),
    * because this wrapper re-signs the whole history every run.
    * Within-batch near-dup is deliberately out of scope: that is
    * plain [[minhashLsh]] applied to the batch.
    */
  def minhashLshIncremental(batchSh: DataFrame, histSh: DataFrame,
      threshold: Double = JaccardThreshold): DataFrame = {
    val hSh = graft.Shared.materialize(histSh.toDF("doc", "sg"))
    val hSig = graft.Shared.materialize(minhashSignaturesFrom(hSh, "doc"))
    minhashLshScreen(batchSh, bandKeys(hSig, "doc"), hSh,
      hSig.select("doc", "n"), threshold)
  }

  /** Shuffle fan-out for one CC star round, from the canonical edge
    * count: one partition per ~2M (u, v) long-pair rows (≈ 32 MB of
    * shuffle per task — guide §2.2's 100 MB-1 GB band, conservative
    * because a round's symmetrized frame doubles the rows), capped at
    * the session's configured setting and floored at 1. Pure so the
    * spec can pin the curve.
    */
  private[graft] def ccLoopPartitions(edgeRows: Long, sessionCap: Int): Int =
    math.max(1L, math.min(sessionCap.toLong, edgeRows / 2000000L + 1)).toInt

  /** Connected components over a near-dup pair set — the step that
    * turns pairwise matches into an actionable dedup decision: pairs
    * are not transitive (A~B and B~C does not imply the pair (A,C)
    * was emitted), so per-pair dropping either strands documents or
    * over-drops; the component is the real duplicate cluster, and one
    * canonical survivor (the min id) is kept per component.
    *
    * Algorithm: alternating large-star / small-star (the published
    * MapReduce CC formulation — Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC 2014). Chosen over plain min-label
    * propagation for the 100 TB story: label propagation needs
    * O(diameter) rounds, and real boilerplate near-dup chains have
    * long diameters; star rounds contract them in O(log² n) regardless
    * of shape. Each round shuffles on a NODE id only (groupBy +
    * equi-join back); document pairs are never the shuffle key, and
    * the edge set never grows past one row per (node, current-min).
    *
    * Each round ends in an eager `localCheckpoint`: a star round
    * references its input ~6 times (symmetrize, min-aggregate, join
    * back), so without a hard lineage CUT the logical plan grows 6×
    * per round and analysis/explain go exponential — persist alone
    * does not truncate the logical plan. Checkpointed round RDDs are
    * reclaimed by the ContextCleaner once the loop's references drop
    * (they are NOT in the CacheManager, so Shared.releaseAll is not
    * involved); at cluster scale the cut would be a reliable
    * checkpoint directory instead — same contract, durable storage.
    *
    * @param pairs first two columns are the pair endpoints (any
    *   orientation, duplicates and self-loops tolerated).
    * @return (doc_id, cluster_id) — one row per node that appears in
    *   ≥1 pair; cluster_id is the component's min doc_id.
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 24): DataFrame = {
    // canonical orientation everywhere: u > v, no self-loops
    val e0 = pairs.select(
        greatest(col(pairs.columns(0)), col(pairs.columns(1))).cast("long").as("u"),
        least(col(pairs.columns(0)), col(pairs.columns(1))).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()

    // large-star: every neighbor LARGER than u links to u's current
    // min m(u) = min(Γ(u) ∪ {u}); output keeps u > v because m ≤ u < v.
    // No distinct here — duplicate (v, m) rows (bounded by deg(v)) are
    // collapsed by the small-star round's terminal distinct, saving a
    // shuffle per round; the min-aggregate is duplicate-insensitive.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }

    // small-star: every neighbor SMALLER than u (plus u itself) links
    // to m(u) = min of those neighbors; again v > m keeps orientation
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      val fromNbrs = e.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      fromNbrs.union(mins.select(col("u"), col("m").as("v"))).distinct()
    }

    // Convergence is a property of the CURRENT state, not of two
    // consecutive states: the edge set is a fixpoint of both stars iff
    // it is a star forest — every source points to exactly one target
    // (count == count_distinct(u)) and no source is also a target.
    // Both stars preserve connectivity, so a star component IS an
    // input component, and with the canonical u > v orientation its
    // root is provably the component min (a non-root min would need an
    // even smaller root). Testing the state directly saves the
    // otherwise-mandatory extra round that merely reproduces the
    // fixpoint so a set comparison can notice it.
    // One job, one shuffle: union both endpoints tagged by role, group
    // by node, then fold to three scalars. Star forest iff every source
    // appears exactly once (sum of per-node source counts == number of
    // source nodes) and no node is both source and target. This
    // replaces the previous 3-job probe (count+count_distinct, then an
    // intersect + limit + count — two distincts and a join) with a
    // single pass over 2|E| rows per round.
    def isStarForest(e: DataFrame): Boolean = {
      val r = e.select(col("u").as("n"), lit(1).as("src"))
        .union(e.select(col("v").as("n"), lit(0).as("src")))
        .groupBy("n").agg(
          sum(col("src")).as("nu"),
          max(lit(1) - col("src")).as("isT"))
        .agg(
          coalesce(sum(col("nu")), lit(0L)).as("edges"),
          coalesce(sum(when(col("nu") > 0, 1L).otherwise(0L)), lit(0L)).as("srcNodes"),
          coalesce(max(when(col("nu") > 0 && col("isT") === 1, 1).otherwise(0)), lit(0)).as("overlap"))
        .head()
      r.getLong(0) == r.getLong(1) && r.getInt(2) == 0
    }

    val e0Cut = e0.localCheckpoint(true)
    // Input-derived loop fan-out (the EventStream.statePartitionsFor
    // discipline applied to the batch loop; guide §2.2 fewer-larger
    // partitions): every star round runs 3-4 shuffles over the CURRENT
    // edge set, whose exact size the eager checkpoint just
    // materialized — count() on it is a cached-block scan, not a
    // recompute. At bench scale the set is KBs and the session's
    // core-count fan-out is pure task-launch overhead across the
    // O(log n) rounds (AQE's parallelismFirst coalescing deliberately
    // keeps utilization-many tiny partitions; the driver's 8-core
    // sweep ran this gate 4x faster than 32-core on identical code).
    // At corpus scale the cap keeps the session's configured fan-out.
    // Edge counts only shrink across star rounds, so sizing once from
    // e0 is an upper bound for every round. The rounds run on a clone
    // of the caller's session carrying that count, so a query running
    // concurrently on the caller's session keeps the caller's own; the
    // returned frame is lazy and plans under the caller's setting.
    val spark = pairs.sparkSession
    val partsKey = "spark.sql.shuffle.partitions"
    val parts = ccLoopPartitions(e0Cut.count(),
      scala.util.Try(spark.conf.get(partsKey).toInt).getOrElse(200))
    val stars = SessionClone.withConf(spark, partsKey -> parts.toString) { clone =>
      var cur = SessionClone.rebind(e0Cut, clone)
      var rounds = 0
      var converged = isStarForest(cur)
      while (!converged && rounds < maxRounds) {
        cur = smallStar(largeStar(cur)).localCheckpoint(true)
        rounds += 1
        converged = isStarForest(cur)
      }
      require(converged,
        s"connectedComponents did not converge in $maxRounds rounds")
      cur
    }
    // converged state is a set of stars: every edge is (member, root)
    val cur = SessionClone.rebind(stars, spark)
    cur.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(cur.select(col("v").as("doc_id"), col("v").as("cluster_id")).distinct())
  }

  /** Component-min verdicts for WITHIN-batch near-dups, from any pair
    * frame `(i, j, score)`: pairs are closed into connected components
    * and every member except the component min is flagged —
    * `(id, n_matches, matched_id = component min, score = best
    * incident pair score)`, the same verdict shape the catalog screens
    * emit. Composed with a catalog screen this implements transitive
    * one-survivor-per-duplicate-set semantics: if the component min is
    * itself catalog-flagged, the whole set's survivor is the history
    * doc (every batch member drops); otherwise the min survives.
    */
  def intraBatchVerdicts(pairs: DataFrame, idName: String,
      scoreName: String): DataFrame = {
    val p = pairs.toDF("i", "j", "s")
    val comp = connectedComponents(p.select("i", "j"))
    val sym = p.select(col("i").as("id"), col("s"))
      .union(p.select(col("j").as("id"), col("s")))
    val agg = sym.groupBy("id").agg(count(lit(1)).as("n_matches"),
      max(col("s")).as("s"))
    comp.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("id"), col("cluster_id"))
      .join(agg, "id")
      .select(col("id").as(idName), col("n_matches"),
        col("cluster_id").as("matched_id"), col("s").as(scoreName))
  }

  /** SimHash per document (engine-native 64-bit LongType). */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextExpressions.simhash64(TextOps.tokens(col("text"))).as("simhash"))
      .orderBy("doc_id")

  /** Banded-Hamming pair join over ANY signature table `(doc_id, sh)`:
    * a pair within Hamming distance d agrees exactly on ≥1 of (d+1)
    * disjoint 16-bit bands (pigeonhole), so candidates come from 4
    * equi-joins on a band value — shuffle key = (band, value), never
    * the pair — then the exact Hamming check filters. Complete for
    * d ≤ 3 with 4 bands, unconditionally (any 64-bit signatures).
    *
    * The pair step is signature-agnostic, which is what makes it
    * oracle-checkable: the dd_simhash_pairs gate feeds it
    * engine-portable md5-derived signatures DuckDB recomputes and
    * verifies exhaustively (xor + bit_count), while the fnv1a-native
    * composition below stays spec-pinned against brute force.
    */
  /** The 4 × 16-bit band keys of a 64-bit signature table
    * `(doc_id, sh)` → `(doc_id, sh, band, bv)` — the pigeonhole
    * decomposition (complete for d ≤ 3) shared by the in-plan pair
    * join and the landed signature catalog ([[graft.plans.SigCatalog]]).
    */
  def bandKeys(sig: DataFrame): DataFrame = {
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bv"))
    }
    sig
      .select(col("doc_id"), col("sh"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("sh"),
        col("bk.band").as("band"), col("bk.bv").as("bv"))
  }

  def simhashPairsFrom(sig: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4 x 16-bit bands are only complete for d <= 3")
    // pin the signature table across the self-join: both banded sides
    // re-execute the sig subtree otherwise, and for the perceptual
    // modalities that subtree IS the decode (ppm/wav/y4m fingerprint
    // per doc — measured ~1s per extra pass at sf0.1). One row per
    // doc, released by the action runner (the Shared contract).
    val banded = bandKeys(graft.Shared.materialize(sig))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        TextExpressions.hamming64(col("a.sh"), col("b.sh")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxHamming)
      .orderBy("i", "j")
  }

  /** At-ingest screen over ANY signature table `(doc_id, sh)` — the
    * incremental dedup contract shared by the perceptual modalities
    * (the dd_semantic_incr discipline): even doc_ids are the landed
    * HISTORY, odd the arriving batch; a batch doc drops when its
    * signature sits within `maxHamming` of ANY history doc (landed
    * copies win regardless of id) or of a LOWER-id batch doc
    * (intra-batch twins leave one survivor). Pairs come from ONE
    * banded join over the combined signature set — history is never
    * rescanned pairwise against itself, and at deployment the history
    * side lands band-bucketed so a batch screen touches only its band
    * buckets. Both orientations of each pair via one explode — a
    * union of two projections would re-run the banded join per
    * branch.
    */
  def bandedIncrementalScreen(sig: DataFrame, maxHamming: Int = 3): DataFrame =
    simhashPairsFrom(sig, maxHamming)
      .select(explode(array(
        struct(col("j").as("b"), col("i").as("p"), col("dist")),
        struct(col("i").as("b"), col("j").as("p"), col("dist")))).as("c"))
      .select(col("c.b").as("b"), col("c.p").as("p"), col("c.dist").as("dist"))
      .filter(col("b") % 2 === 1 && (col("p") % 2 === 0 || col("p") < col("b")))
      .groupBy(col("b").as("doc_id"))
      .agg(min("p").as("kept_by"), min("dist").as("min_dist"),
        count(lit(1)).as("n_matches"))
      .orderBy("doc_id")

  /** Positional k-grams: one row per gram OCCURRENCE with its 0-based
    * token offset (unlike [[shinglesOf]], which is distinct-per-doc —
    * span detection needs every occurrence and its position).
    */
  def positionalGrams(docs: DataFrame, k: Int): DataFrame = {
    val ts = TextOps.tokens(col("text"))
    docs.select(col("doc_id"), ts.as("ts"))
      .filter(size(col("ts")) >= k)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(1), size(col("ts")) - (k - 1)),
        i => concat_ws(" ", slice(col("ts"), i, lit(k))))))
      .withColumnRenamed("col", "gram")
  }

  /** Cross-document duplicate n-gram SPANS — substring-level dedup.
    * Whole-document near-dup (MinHash/SimHash) passes a pair of mostly
    * distinct documents that share a long verbatim run (a license
    * header, a boilerplate footer, a quoted passage); repeated
    * >= k-token substrings are exactly what substring-level training
    * -data dedup targets (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better" — their suffix-array criterion,
    * approximated here scalably by duplicated positional k-grams).
    *
    * A k-gram is duplicated when it occurs in >= `minDocs` distinct
    * documents; per document, duplicated gram offsets then merge into
    * maximal spans (gaps-and-islands: a gram whose start is within k
    * of the previous duplicated start overlaps-or-adjoins the running
    * span's token coverage). Output is one row per (doc, span) with
    * inclusive 0-based token bounds — the downstream cut/redact stage
    * consumes exactly this shape.
    *
    * Scale shape: gram construction is a codegen'd projection on the
    * scan (no shuffle); the document-frequency screen shuffles once on
    * the gram with map-side partial aggregation; positions re-join the
    * screened grams with a semi-join (shuffle bounded by gram
    * postings, never document pairs); the span merge is one
    * doc_id-partitioned window whose state per doc is its duplicated
    * positions only. No driver-side state anywhere. At 100 TB, set
    * `hashKeys = true`: every gram-keyed shuffle (the DF screen's
    * exchange and both semi-join sides) then carries an 8-byte
    * xxhash64 instead of the k·w-byte gram string, cutting shuffle
    * bytes ~(8/k·w)× with the island merge and join shapes unchanged
    * (sf1 receipt in PLANS.md). The plain-string default keeps the
    * driver gate exactly value-checkable — a 64-bit collision could
    * mint a false span (birthday-bounded: ~√2⁶⁴ ≈ 4·10⁹ DISTINCT
    * grams for even-odds of a single collision anywhere, and a
    * collision only matters if it bridges the df threshold);
    * TrainingSpec pins verdict identity between the two key types.
    */
  def dupSpans(spark: SparkSession, dir: String, k: Int = ShingleN,
      minDocs: Int = 2): DataFrame =
    dupSpansFrom(Tables.documents(spark, dir), k, minDocs)

  /** [[dupSpans]] over an arbitrary (doc_id, text, …) frame. */
  def dupSpansFrom(docs: DataFrame, k: Int = ShingleN,
      minDocs: Int = 2, hashKeys: Boolean = false): DataFrame = {
    require(k >= 1, s"dupSpans: k must be >= 1, got $k")
    require(minDocs >= 2, s"dupSpans: minDocs must be >= 2, got $minDocs")
    // pin the gram table: the df screen and the position semi-join
    // both read it, and rebuilding it is the regex-tokenize + k-gram
    // string-assembly pass (the cached rows are text-sized, the same
    // trade the pipeline's shingle table already makes)
    val grams = graft.Shared.materialize(
      gramKeyed(positionalGrams(docs, k), hashKeys))
    val dupGrams = grams.select("gram", "doc_id").distinct()
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select("gram")
    val dupPos = grams.join(dupGrams, Seq("gram"), "left_semi")
    mergeIslands(dupPos.select("doc_id", "pos"), k)
  }

  /** The 100 TB shuffle-key swap: replace the gram STRING with its
    * xxhash64 before any exchange, so every downstream gram-keyed
    * shuffle moves 8 bytes per key. Applied before the first shuffle
    * — the hash runs inside the scan's codegen projection.
    */
  private def gramKeyed(grams: DataFrame, hashKeys: Boolean): DataFrame =
    if (hashKeys)
      grams.withColumn("gram", xxhash64(col("gram")))
    else grams

  /** Gaps-and-islands merge of duplicated gram start offsets into
    * maximal spans — the one copy of the span family's merge rule:
    * a start within k of the previous duplicated start overlaps or
    * adjoins the running span's token coverage, a NULL or > k gap
    * breaks the island. Input: (doc_id, pos [, extra cols]); output:
    * (doc_id, span_start, span_end, n_grams [, extraAggs]).
    */
  private def mergeIslands(dupPos: DataFrame, k: Int,
      extraAggs: Seq[Column] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    dupPos
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) <= k, 0).otherwise(1))
      .withColumn("isl", sum("brk").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min("pos").as("span_start"),
        ((max("pos") + (k - 1)).as("span_end") +:
          count(lit(1)).as("n_grams") +: extraAggs): _*)
      .drop("isl")
  }

  /** Benchmark-contamination SPANS — the span-level twin of
    * [[graft.operators.Decontaminate.overlap]]: that operator flags
    * whole DOCUMENTS sharing shingles with a benchmark set; this one
    * localizes WHERE the benchmark text sits so the cut stage removes
    * the contaminated passage and keeps the rest of the document (the
    * document-level cut throws away an arbitrarily large clean
    * remainder — at curation scale the difference is real training
    * tokens). A corpus position is contaminated when its k-gram
    * occurs ANYWHERE in the benchmark side; contaminated positions
    * merge into maximal spans with the same gaps-and-islands rule as
    * [[dupSpansFrom]] (one merge implementation, third consumer).
    *
    * Scale shape: benchmark grams are benchmark-sized (tiny in
    * production — AQE broadcasts the semi-join on its own, per the
    * Decontaminate discipline: no forced hint, so an oversized
    * holdout degrades to a shuffle join instead of OOMing the
    * driver); the corpus side is one codegen'd positional-gram
    * projection plus the semi-join, and the island merge is
    * per-document window state. `hashKeys` swaps gram strings for
    * xxhash64 before any exchange, as in [[dupSpansFrom]].
    */
  def contaminationSpans(spark: SparkSession, dir: String,
      k: Int = ShingleN): DataFrame = {
    val docs = Tables.documents(spark, dir)
    contaminationSpansFrom(docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0), k)
  }

  /** [[contaminationSpans]] over explicit corpus/benchmark frames. */
  def contaminationSpansFrom(corpus: DataFrame, bench: DataFrame,
      k: Int = ShingleN, hashKeys: Boolean = false): DataFrame = {
    require(k >= 1, s"contaminationSpans: k must be >= 1, got $k")
    mergeIslands(contaminationHits(corpus, bench, k, hashKeys), k)
  }

  /** Contaminated (doc_id, pos) hits — the ONE copy of the detection
    * rule (corpus positional grams semi-joined against the distinct
    * benchmark gram set) shared by the span and cut variants, so the
    * two gates can never report different contamination sets.
    */
  private def contaminationHits(corpus: DataFrame, bench: DataFrame,
      k: Int, hashKeys: Boolean): DataFrame = {
    val grams = gramKeyed(positionalGrams(corpus, k), hashKeys)
    val benchGrams = gramKeyed(positionalGrams(bench, k), hashKeys)
      .select("gram").distinct()
    grams.join(benchGrams, Seq("gram"), "left_semi")
      .select("doc_id", "pos")
  }

  /** Decontamination CUT — [[contaminationSpansFrom]]'s text-REWRITE
    * stage: every token covered by a benchmark-shared k-gram is
    * removed and the text reconstructed in token order. Unlike
    * [[cutDupSpansFrom]] there is NO keeper election — benchmark
    * text leaves the corpus unconditionally (the earliest containing
    * doc has no more right to a test-set passage than any other).
    * One row per corpus doc retaining ≥ 1 token, with before/after
    * token counts so the cut's cost is auditable.
    *
    * Same scale shape as the detection pass plus the reconstruction
    * join: coverage explode is span-sized, the anti-join is
    * doc+position-keyed, and the re-concat is one doc-keyed
    * aggregation over kept tokens.
    */
  def cutContaminationSpans(spark: SparkSession, dir: String,
      k: Int = ShingleN): DataFrame = {
    val docs = Tables.documents(spark, dir)
    cutContaminationSpansFrom(docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0), k)
  }

  /** [[cutContaminationSpans]] over explicit corpus/benchmark frames. */
  def cutContaminationSpansFrom(corpus: DataFrame, bench: DataFrame,
      k: Int = ShingleN, hashKeys: Boolean = false): DataFrame = {
    require(k >= 1, s"cutContaminationSpans: k must be >= 1, got $k")
    val del = contaminationHits(corpus, bench, k, hashKeys)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("tpos"))
      .distinct()
    // tokenize ONCE per doc in a projection BELOW the generator: with
    // size(tokens(text)) written next to the posexplode, the
    // analyzer's generator extraction leaves it in the Project ABOVE
    // the Generate, re-running the whole regex tokenization once per
    // exploded TOKEN row (measured 20x on the gate corpus); over a
    // materialized array attribute, the per-row size() is O(1)
    val toks = corpus
      .select(col("doc_id"), TextOps.tokens(col("text")).as("_ts"))
      .select(col("doc_id"), size(col("_ts")).as("n_before"),
        posexplode(col("_ts")).as(Seq("tpos", "tk")))
    toks.join(del, Seq("doc_id", "tpos"), "left_anti")
      .groupBy(col("doc_id"), col("n_before"))
      .agg(count(lit(1)).as("n_after"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("tpos"), col("tk")))),
          st => st.getField("tk"))).as("text_cut"))
      .select(col("doc_id"), col("n_before"), col("n_after"), col("text_cut"))
  }

  /** WITHIN-document repetition spans — the surgical twin of the
    * Gopher repetition SIGNALS (`TextOps` dup-3-gram fraction flags a
    * doc; this localizes the repeats so a cleanup stage can cut them,
    * the C4-family discipline). A position repeats when its k-gram
    * occurred EARLIER in the same document; repeat positions merge
    * into maximal spans with the same gaps-and-islands rule as
    * [[dupSpansFrom]]. The first occurrence is never marked, so
    * cutting every returned span leaves exactly one copy of each
    * repeated run.
    *
    * Scale: one window over (doc_id, gram) for the first-occurrence
    * mark and one over doc_id for the merge — both partition-bounded
    * by a single document's grams, no corpus-wide key anywhere.
    */
  def intraDupSpans(spark: SparkSession, dir: String,
      k: Int = ShingleN): DataFrame =
    intraDupSpansFrom(Tables.documents(spark, dir), k)

  /** [[intraDupSpans]] over an arbitrary (doc_id, text, …) frame. */
  def intraDupSpansFrom(docs: DataFrame, k: Int = ShingleN): DataFrame = {
    require(k >= 1, s"intraDupSpans: k must be >= 1, got $k")
    val grams = positionalGrams(docs, k)
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("doc_id", "gram")
    val repeats = grams
      .withColumn("first", min("pos").over(wg))
      .filter(col("pos") > col("first"))
      .select("doc_id", "pos")
    mergeIslands(repeats, k)
  }

  /** Per-gram corpus statistics — the substring-dedup CATALOG shape:
    * (gram, df = distinct containing docs, gmin = earliest doc). This
    * is all the incremental screen needs from an already-ingested
    * corpus: gram-stats-sized (vocabulary), never corpus-sized
    * (positions stay with their batches).
    */
  def gramStats(docs: DataFrame, k: Int): DataFrame =
    positionalGrams(docs, k).select("gram", "doc_id").distinct()
      .groupBy("gram")
      .agg(count(lit(1)).as("df"), min("doc_id").as("gmin"))

  /** Incremental substring-dedup screen: duplicate n-gram spans in a
    * NEW ingest batch, judged against the batch itself plus the
    * [[gramStats]] of everything already ingested — the per-batch
    * production shape (the full-corpus [[dupSpansFrom]] is the
    * backfill/bootstrap pass). A batch gram is duplicated when its
    * batch document frequency plus the catalog's reaches `minDocs`;
    * spans merge per batch doc exactly as in [[dupSpansFrom]].
    *
    * Scale: the batch side is batch-sized throughout; the catalog join
    * is gram-keyed against a stats table that grows with the
    * VOCABULARY, not the corpus (and lands bucketed by gram in a real
    * deployment, like the minhash band catalog in
    * [[graft.plans.DedupCatalog]]).
    */
  def dupSpansIncrementalFrom(batch: DataFrame, historyStats: DataFrame,
      k: Int = ShingleN, minDocs: Int = 2): DataFrame = {
    require(k >= 1, s"dupSpansIncremental: k must be >= 1, got $k")
    require(minDocs >= 2, s"dupSpansIncremental: minDocs must be >= 2, got $minDocs")
    // batch-sized pin, two readers (df screen + semi-join probe)
    val bg = graft.Shared.materialize(positionalGrams(batch, k))
    val dupGrams = bg.select("gram", "doc_id").distinct()
      .groupBy("gram").agg(count(lit(1)).as("bdf"))
      .join(historyStats.select(col("gram"), col("df")), Seq("gram"), "left")
      .filter(col("bdf") + coalesce(col("df"), lit(0L)) >= minDocs)
      .select("gram")
    val dupPos = bg.join(dupGrams, Seq("gram"), "left_semi")
    mergeIslands(dupPos.select("doc_id", "pos"), k)
  }

  /** The cut step of substring-level dedup: duplicated runs are
    * REMOVED from every document except each run's keeper — decided
    * PER GRAM, not per merged span. A token is cut iff it is covered
    * by at least one duplicated k-gram whose earliest containing doc
    * (global min doc_id) is ANOTHER document, and by no duplicated
    * k-gram whose earliest doc is THIS document. This is
    * [[dupSpansFrom]]'s downstream consumer as one operator: detect
    * duplicated grams, decide survival token-by-token, drop the cut
    * tokens, re-concatenate the survivors in order.
    *
    * Invariant (the "leave one copy" contract): every duplicated
    * k-gram's full token extent survives intact in that gram's
    * earliest doc. A span-level keeper (min over a merged span's
    * grams) would break this when gaps-and-islands merges two
    * ADJACENT duplicated passages with different earliest docs into
    * one span — the span keeper need not contain the later passage,
    * so its only copy could be cut from every document. The per-gram
    * rule cannot: the passage's grams pin their tokens in the
    * passage's own earliest doc.
    *
    * Output: (doc_id, n_before, n_after, text_cut) for every doc that
    * retains at least one token. A doc can be keeper of one passage
    * and loser of another, so keeper-of-something does not imply
    * n_before == n_after.
    *
    * Scale shape: everything [[dupSpansFrom]] does, plus a bounded
    * k-wide coverage explode over DUPLICATED positions only (k rows
    * per dup gram, never corpus-token-sized unless the corpus is all
    * duplicate), a (doc_id, tpos)-keyed partial-aggregated rollup of
    * the cut decision, one doc_id+tpos equi anti-join of the token
    * stream against the cut set, and one ordered re-concatenation per
    * doc (array_sort over collected (pos, token) structs — per-doc
    * bounded state, the dq20 discipline). No window over dup
    * positions is needed at all: the token-level rule IS the coverage
    * union the gaps-and-islands merge used to reconstruct.
    */
  def cutDupSpans(spark: SparkSession, dir: String, k: Int = ShingleN,
      minDocs: Int = 2): DataFrame =
    cutDupSpansFrom(Tables.documents(spark, dir), k, minDocs)

  /** [[cutDupSpans]] over an arbitrary (doc_id, text, …) frame.
    * `hashKeys` is the same xxhash64 shuffle-key swap as
    * [[dupSpansFrom]] — keeper election (earliest doc per gram) is
    * key-value-agnostic, so the verdict is identical modulo 64-bit
    * collisions (spec-pinned).
    */
  def cutDupSpansFrom(docs: DataFrame, k: Int = ShingleN,
      minDocs: Int = 2, hashKeys: Boolean = false): DataFrame = {
    require(k >= 1, s"cutDupSpans: k must be >= 1, got $k")
    require(minDocs >= 2, s"cutDupSpans: minDocs must be >= 2, got $minDocs")
    // pinned for the same two readers as dupSpansFrom
    val grams = graft.Shared.materialize(
      gramKeyed(positionalGrams(docs, k), hashKeys))
    // per duplicated gram: its document frequency and earliest doc
    val gramMin = grams.select("gram", "doc_id").distinct()
      .groupBy("gram")
      .agg(count(lit(1)).as("df"), min("doc_id").as("gmin"))
      .filter(col("df") >= minDocs)
      .select("gram", "gmin")
    // narrow BEFORE the coverage explode (the gram string must not
    // ride it), and REPARTITION BY doc_id between join and fold: the
    // (doc, token) max-fold only combines map-side when covering
    // grams of one position share a task, which gram-keyed join
    // output never gives once the gramMin side outgrows the broadcast
    // threshold and the join flips to SMJ. Measured at the 100x
    // rehearsal corpus (PLANS.md round-20): the scattered fold wrote
    // 990 MiB / 104 s; doc-partitioned it combines 5:1 and the stage
    // reads 1787 MiB / 33 s total (and the repartition also satisfies
    // the fold's required distribution, so it REPLACES the fold's own
    // exchange rather than adding one — bytes are the k-fold-smaller
    // pre-explode rows).
    val dupPos = grams.join(gramMin, Seq("gram"))
      .select(col("doc_id"), col("pos"),
        (col("gmin") === col("doc_id")).as("kf"))
      .repartition(col("doc_id"))
    // coverage explode: each duplicated gram at pos covers tokens
    // [pos, pos+k-1]; per (doc, token) the cut decision is a max-fold
    // over covering grams (keeper-here wins over cut-from-elsewhere)
    val del = dupPos
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("tpos"),
        col("kf"))
      .groupBy("doc_id", "tpos")
      .agg(max(when(col("kf"), 0).otherwise(1)).as("hc"),
        max(when(col("kf"), 1).otherwise(0)).as("hk"))
      .filter(col("hc") === 1 && col("hk") === 0)
      .select("doc_id", "tpos")
    // tokenize ONCE per doc below the generator — see
    // cutContaminationSpansFrom's toks for the 20x pathology this
    // placement avoids
    val toks = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("_ts"))
      .select(col("doc_id"), size(col("_ts")).as("n_before"),
        posexplode(col("_ts")).as(Seq("tpos", "tk")))
    toks.join(del, Seq("doc_id", "tpos"), "left_anti")
      .groupBy(col("doc_id"), col("n_before"))
      .agg(count(lit(1)).as("n_after"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("tpos"), col("tk")))),
          st => st.getField("tk"))).as("text_cut"))
      .select(col("doc_id"), col("n_before"), col("n_after"), col("text_cut"))
  }

  /** Corpus boilerplate mining: the `topN` most frequent k-grams with
    * occurrence and document-frequency counts — the survey pass that
    * feeds stop-shingle caps ([[graft.queries.TrainingPack.PipelineMaxBucket]])
    * and boilerplate-strip lists. One gram-keyed shuffle with partial
    * aggregation, then a driver-bounded top-N (TakeOrderedAndProject —
    * per-partition heaps of `topN` rows, never a global sort). Ties at
    * the cut rank break on the gram string so the result is total-order
    * deterministic.
    */
  def topNgrams(spark: SparkSession, dir: String, k: Int = 3,
      topN: Int = 20): DataFrame =
    topNgramsFrom(Tables.documents(spark, dir), k, topN)

  /** [[topNgrams]] over an arbitrary (doc_id, text, …) frame. */
  def topNgramsFrom(docs: DataFrame, k: Int, topN: Int): DataFrame =
    positionalGrams(docs, k)
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("gram"))
      .limit(topN)
}
