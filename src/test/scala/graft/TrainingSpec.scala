package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextImpl
import graft.operators.{Dedup, Mixer, Multimodal, Similarity}

/** Engine-native training-data operators: semantics that have no DuckDB
  * analog, checked against planted structure in the synthetic corpus
  * and against brute-force ground truth.
  */
class TrainingSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // ------------------------------------------------------------ simhash

  test("simhash: planted near-dup pairs are close in Hamming space, random pairs far") {
    import spark.implicits._
    val hashes = Dedup.simhash(spark, dir).as[(Long, Long)].collect().toMap
    val nearDups = Dedup.ngramJaccard(spark, dir, 0.9)
      .select("i", "j").as[(Long, Long)].collect()
    assert(nearDups.nonEmpty, "corpus should contain planted near-dups")
    val dupDists = nearDups.map { case (i, j) => TextImpl.hamming64(hashes(i), hashes(j)) }
    // random non-dup pairs as the contrast set
    val rnd = new scala.util.Random(7)
    val ids = hashes.keys.toArray
    val dupSet = nearDups.map { case (i, j) => (i, j) }.toSet
    val randDists = (1 to 200).flatMap { _ =>
      val i = ids(rnd.nextInt(ids.length)); val j = ids(rnd.nextInt(ids.length))
      if (i < j && !dupSet.contains((i, j))) Some(TextImpl.hamming64(hashes(i), hashes(j))) else None
    }
    val avgDup = dupDists.sum.toDouble / dupDists.length
    val avgRand = randDists.sum.toDouble / randDists.size
    assert(dupDists.max < 16, s"near-dup hamming too large: ${dupDists.toSeq.sorted}")
    // the synthetic vocab is tiny (~31 tokens) so even random docs share
    // most tokens — assert separation, not an absolute gap
    assert(avgRand > avgDup + 5, s"no hamming separation: dup=$avgDup rand=$avgRand")
  }

  // ---------------------------------------------------------------- LSH

  test("incremental dedup drops catalog collisions and within-batch dupes, keeps the rest") {
    import spark.implicits._
    val kept = graft.queries.TrainingPack.ddIncremental(spark, dir)
      .as[Long].collect().toSet
    val batchIds = Tables.documents(spark, dir)
      .filter(col("doc_id") >= 250).select("doc_id").as[Long].collect()
    assert(kept.nonEmpty && kept.size < batchIds.length)
    batchIds.foreach { id =>
      if (id % 5 == 0) assert(!kept(id), s"catalog collision $id survived")
      else if (id % 11 == 7 && (id - 13) % 5 != 0 && id - 13 >= 250)
        assert(!kept(id), s"within-batch dupe $id survived (source ${id - 13})")
      else assert(kept(id), s"unique doc $id was dropped")
    }
  }

  test("minhash LSH finds every high-similarity pair the exact join finds") {
    import spark.implicits._
    val exact = Dedup.ngramJaccard(spark, dir, 0.9).select("i", "j").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(spark, dir, 0.9).select("i", "j").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    // at jac>=0.9, 4 bands x 4 rows: P(miss) = (1-0.9^4)^4 ≈ 1.5% per pair
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} pairs")
    // verify stage guarantees no false positives above threshold
    assert((lsh diff exact).isEmpty)
  }

  test("minhash LSH bucket cap only ever removes candidates, never invents them") {
    import spark.implicits._
    val exact = Dedup.minhashLsh(spark, dir, 0.9).select("i", "j").as[(Long, Long)].collect().toSet
    val capped = Dedup.minhashLsh(spark, dir, 0.9, maxBucket = Some(2))
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(exact))
    // a generous cap changes nothing on this corpus
    val generous = Dedup.minhashLsh(spark, dir, 0.9, maxBucket = Some(100000))
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(generous === exact)
  }

  test("star cap keeps a boilerplate cluster connected at linear candidate cost") {
    import spark.implicits._
    // a 30-doc boilerplate cluster (identical text -> identical band
    // signatures, so EVERY band bucket holds all 30 > cap=8: drop-mode
    // deterministically loses the whole cluster) + unrelated docs;
    // star-mode keeps the cluster as one component through the
    // bucket-min hub
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike november oscar papa quebec romeo sierra tango"
    val cluster = (0L until 30L).map(i => (i, base))
    val others = (100L until 120L).map(i =>
      (i, s"unrelated text number $i with its own words " +
        (1 to 15).map(k => s"w${i}_$k").mkString(" ")))
    val tmp = java.nio.file.Files.createTempDirectory("star_cap").toString
    (cluster ++ others).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val dropped = Dedup.minhashLsh(spark, tmp, 0.8, maxBucket = Some(8))
      .select("i", "j").as[(Long, Long)].collect().toSet
    Shared.releaseAll(spark)
    val star = Dedup.minhashLsh(spark, tmp, 0.8, maxBucket = Some(8), capStar = true)
      .select("i", "j").as[(Long, Long)].collect().toSet
    Shared.releaseAll(spark)
    assert(!dropped.exists(p => p._1 < 30 && p._2 < 30),
      s"cap=8 should drop every all-cluster bucket, got ${dropped.size} cluster pairs")
    // star pairs: linear (hub-spoke), not quadratic, and the cluster is
    // one component under connected components
    val clusterStar = star.filter(p => p._1 < 30 && p._2 < 30)
    assert(clusterStar.nonEmpty, "star mode recovered nothing")
    assert(clusterStar.size < 60,
      s"star candidate set not linear: ${clusterStar.size} pairs for 30 docs")
    val comps = Dedup.connectedComponents(
        clusterStar.toSeq.toDF("i", "j"))
      .as[(Long, Long)].collect().toMap
    // roots map to themselves (CC emits rows for non-root members only)
    assert((0L until 30L).map(id => comps.getOrElse(id, id)).toSet.size === 1,
      "cluster not reassembled into one component")
    // star never invents pairs: everything it returns is Jaccard-real
    val uncapped = Dedup.minhashLsh(spark, tmp, 0.8)
      .select("i", "j").as[(Long, Long)].collect().toSet
    Shared.releaseAll(spark)
    assert(star.subsetOf(uncapped))
  }

  test("incremental near-dup: planted twins flagged against the catalog, matches are history-side") {
    import spark.implicits._
    val res = graft.queries.TrainingPack.ddIncrementalNeardup(spark, dir).collect()
    assert(res.nonEmpty, "no catalog matches found")
    // flagged doc_ids are batch-side (odd), matches history-side (even),
    // scores at or above the threshold
    res.foreach { r =>
      assert(r.getLong(0) % 2 == 1, s"history doc flagged: $r")
      assert(r.getLong(2) % 2 == 0, s"batch doc as catalog match: $r")
      assert(r.getDouble(3) >= 0.8, s"sub-threshold match surfaced: $r")
    }
    // every planted twin (odd, % 7 == 3) must be caught
    val flagged = res.map(_.getLong(0)).toSet
    val maxId = Tables.documents(spark, dir).agg(max("doc_id")).as[Long].head()
    val planted = (0L to maxId).filter(id => id % 2 == 1 && id % 7 == 3)
    assert(planted.nonEmpty)
    planted.foreach(id => assert(flagged(id), s"planted twin $id not flagged"))
    Shared.releaseAll(spark)
  }

  test("dedup operators tolerate empty inputs") {
    import spark.implicits._
    // CC on an empty pair set: converged immediately, empty output
    val noPairs = Seq.empty[(Long, Long)].toDF("i", "j")
    assert(Dedup.connectedComponents(noPairs).count() === 0)
    // self-loops only: no real edges, empty components
    val selfOnly = Seq((5L, 5L), (9L, 9L)).toDF("i", "j")
    assert(Dedup.connectedComponents(selfOnly).count() === 0)
    // incremental screen with an empty batch: no verdicts
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val emptySh = Dedup.shinglesOf(docs.limit(0), "doc")
    val histSh = Dedup.shinglesOf(docs, "doc")
    assert(Dedup.minhashLshIncremental(emptySh, histSh).count() === 0)
    Shared.releaseAll(spark)
  }

  test("connected components: chains, cycles, messy edges, and a union-find cross-check") {
    import spark.implicits._
    // a 64-node path has diameter 63: min-label propagation would need
    // ~63 rounds; the alternating star rounds must converge inside the
    // default cap (the reason the operator uses them)
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("i", "j")
    val pathCc = Dedup.connectedComponents(path).as[(Long, Long)].collect()
    assert(pathCc.length == 64 && pathCc.forall(_._2 == 0L), pathCc.toSeq.sorted.toString)
    // cycle + second component, with reversed and duplicate input edges
    val messy = Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (12L, 10L))
      .toDF("a", "b")
    val cc = Dedup.connectedComponents(messy).as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L), cc.toString)
    // the real gate pair set vs a driver-side union-find ground truth
    val pairs = Dedup.minhashLsh(spark, dir).select("i", "j").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "corpus should contain LSH near-dup pairs")
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (i, j) =>
      val (ra, rb) = (find(i), find(j))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min root wins
    }
    val expected = pairs.flatMap { case (i, j) => Seq(i, j) }.distinct
      .map(n => (n, find(n))).toMap
    val got = Dedup.connectedComponents(pairs.toSeq.toDF("i", "j"))
      .as[(Long, Long)].collect().toMap
    assert(got == expected, s"cc != union-find: ${got.toSeq.sorted} vs ${expected.toSeq.sorted}")
    Shared.releaseAll(spark)
  }

  test("connected components: randomized graphs match union-find across shapes") {
    import spark.implicits._
    // 8 seeded random graphs spanning sparse/dense/clustered shapes —
    // deterministic, so a failure reproduces exactly
    for (seed <- 0 until 8) {
      val rnd = new scala.util.Random(1000 + seed)
      val n = 20 + rnd.nextInt(60)
      val nEdges = rnd.nextInt(2 * n)
      val pairs = Seq.fill(nEdges)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.filter(p => p._1 != p._2).foreach { case (i, j) =>
        val (ra, rb) = (find(i), find(j))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = pairs.filter(p => p._1 != p._2)
        .flatMap(p => Seq(p._1, p._2)).distinct
        .map(v => (v, find(v))).toMap
      val got = Dedup.connectedComponents(pairs.toDF("i", "j"))
        .as[(Long, Long)].collect().toMap
      assert(got === expected, s"seed=$seed n=$n edges=$nEdges")
    }
  }

  test("ngram-Jaccard postings cap only ever removes pairs, never invents them") {
    import spark.implicits._
    val exact = Dedup.ngramJaccard(spark, dir, 0.9).select("i", "j").as[(Long, Long)].collect().toSet
    val capped = Dedup.ngramJaccard(spark, dir, 0.9, maxBucket = Some(2))
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(exact))
    // a generous cap changes nothing on this corpus
    val generous = Dedup.ngramJaccard(spark, dir, 0.9, maxBucket = Some(100000))
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(generous === exact)
  }

  test("hyperplane planes are independent: no duplicate or negated rows") {
    // round-9 regression pin: fnv1a64's last-byte avalanche is so
    // weak on short keys that `& 1` of the raw hash gave only TWO
    // distinct rows (sign(p)(i) separated into f(p) xor g(i)) — the
    // fmix64 finalizer must keep every row distinct from every other
    // row AND its negation, and roughly balanced
    val signs = Similarity.hyperplaneSigns(128, 64)
    val rows = signs.map(_.toSeq)
    assert(rows.distinct.size === 128, "duplicate plane rows")
    for (a <- 0 until 128; b <- (a + 1) until 128) {
      val dot = (0 until 64).map(i => signs(a)(i) * signs(b)(i)).sum
      assert(math.abs(dot) < 64, s"planes $a,$b identical or negated (dot=$dot)")
    }
    assert(signs.forall(r => math.abs(r.sum) < 64), "constant plane row")
  }

  test("hyperplane LSH top-k: single- and multi-probe recall vs brute force") {
    import spark.implicits._
    val brute = Similarity.bruteForceTopK(spark, dir, nQueries = 8, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val single = Similarity.lshTopK(spark, dir, nQueries = 8, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val multi = Similarity.lshTopK(spark, dir, nQueries = 8, k = 10, multiProbe = true)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val singleRecall = (brute intersect single).size.toDouble / brute.size
    val multiRecall = (brute intersect multi).size.toDouble / brute.size
    // multi-probe's candidate set is a superset (the exact bucket is
    // probe 0), so its recall can never be lower
    assert(multiRecall >= singleRecall,
      s"multi-probe recall $multiRecall < single-probe $singleRecall")
    // measured at the 8-bit x 16-table default on this corpus (whose
    // 10th-nearest neighbors sit at cos ~0.25 — weakly similar, the
    // hard case for LSH): single 0.25 / multi 0.86 at sf0.001,
    // 0.35 / 0.93 at sf0.1. Floors are the measured bounds less a
    // small margin, not a statistical hope.
    assert(multiRecall >= 0.8, s"multi-probe LSH recall too low: $multiRecall")
    assert(singleRecall >= 0.2, s"single-probe LSH recall too low: $singleRecall")
    assert(multi.nonEmpty)
  }

  test("repetition stats: planted duplicate 3-grams and dominant tokens") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a a a a a"),   // 3 3-grams, all "a a a": dup3=2/3, top a 5/5
      (1L, "b a b a"),     // n<5 but >=3: 2 3-grams distinct: dup3=0; tie a/b -> a
      (2L, "x y"),         // n<3: no 3-grams
      (3L, "w w z w w z w w z")) // 7 3-grams, 3 distinct -> dup3=4/7; w 6/9
      .toDF("doc_id", "text")
    val got = queries.TrainingPack.repetitionStats(docs)
      .as[(Long, Long, Long, String, Long)].collect().toSeq
    assert(got === Seq(
      (0L, 5L, 6666L, "a", 10000L),
      (1L, 4L, 0L, "a", 5000L),
      (2L, 2L, 0L, "x", 5000L),
      (3L, 9L, 5714L, "w", 6666L)))
  }

  test("IVF top-k: measured recall vs brute force at the 16x6 default") {
    import spark.implicits._
    val brute = Similarity.bruteForceTopK(spark, dir, nQueries = 8, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(spark, dir, nQueries = 8, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    // measured 0.74 at sf0.001 (probing 6 of 16 cells ~ 38% of the
    // corpus on this weakly-clustered data); floor with margin
    assert(recall >= 0.6, s"IVF recall too low: $recall")
    assert(ivf.nonEmpty)
    // distribution check (the hyperplane-LSH lesson: a green recall
    // floor can hide a degenerate partition): the assignment must use
    // most cells and no cell may swallow half the corpus
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val n = emb.count()
    val cellSizes = Similarity.ivfAssignWith(emb, Similarity.ivfCentroids(emb, 16))
      .groupBy("cid").count().as[(Long, Long)].collect()
    assert(cellSizes.map(_._2).sum === n, "assignment lost vectors")
    assert(cellSizes.length >= 12, s"only ${cellSizes.length} of 16 cells used")
    assert(cellSizes.map(_._2).max <= n / 2,
      s"degenerate cell: ${cellSizes.sortBy(-_._2).take(3).toSeq} of $n")
    Shared.releaseAll(spark)
  }

  test("incremental embedding screen: every planted twin flagged, nothing else") {
    import spark.implicits._
    val res = graft.queries.TrainingPack.ddEmbIncremental(spark, dir).collect()
    assert(res.nonEmpty, "no planted matches found")
    // the corpus has no natural >=0.95 pairs, so the verdicts are
    // exactly the planted exact copies: matched to the even twin at
    // cos ~1, one match each
    res.foreach { r =>
      assert(r.getLong(0) % 2 == 1 && r.getLong(0) % 7 == 3, s"unexpected flag: $r")
      assert(r.getLong(2) === r.getLong(0) - 1, s"wrong catalog match: $r")
      assert(r.getDouble(3) > 0.999, s"twin score not ~1: $r")
    }
    val maxId = Tables.embeddings(spark, dir).agg(max("vec_id")).as[Long].head()
    val planted = (0L to maxId).filter(id => id % 2 == 1 && id % 7 == 3).toSet
    assert(res.map(_.getLong(0)).toSet === planted, "a planted twin was missed")
    Shared.releaseAll(spark)
  }

  test("IVF k-means training: deterministic, balances cells, recall holds") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // two independent trainings are bit-identical (decimal sums ->
    // double/count -> float: every step value-based, no fold-order)
    def centroids() = Similarity.ivfCentroidsTrained(emb, 16, 2)
      .as[(Long, Array[Float])].collect().map(c => (c._1, c._2.toSeq)).toMap
    assert(centroids() === centroids(), "training not deterministic")
    // trained cells must not be WORSE balanced than the sampled init
    def maxCell(it: Int) = Similarity.ivfAssignWith(emb,
        if (it > 0) Similarity.ivfCentroidsTrained(emb, 16, it)
        else Similarity.ivfCentroids(emb, 16))
      .groupBy("cid").count().agg(max("count")).as[Long].head()
    assert(maxCell(2) <= maxCell(0),
      s"training worsened balance: ${maxCell(2)} > ${maxCell(0)}")
    // recall with trained centroids holds the sampled floor
    val bf = Similarity.bruteForceTopK(spark, dir).select("query_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    val trained = Similarity.ivfTopKFrom(emb, trainIters = 2)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (trained & bf).size.toDouble / bf.size
    assert(recall >= 0.6, s"trained IVF recall too low: $recall")
    Shared.releaseAll(spark)
  }

  test("convergence-stopped Lloyd: stops early, equals fixed-round training") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Array[Float])].collect().map(c => (c._1, c._2.toSeq)).toMap
    val (cents, rounds, _) = Similarity.ivfCentroidsConverged(emb, 16, maxIters = 12)
    assert(rounds >= 1, "converged without running a single round")
    assert(rounds < 12, s"did not converge within maxIters: $rounds rounds")
    // the stop is a pure function of the data: result == the fixed-round
    // trainer run for the same number of rounds, bit-for-bit
    assert(toMap(cents) === toMap(Similarity.ivfCentroidsTrained(emb, 16, rounds)),
      "converged training diverged from fixed-round training")
    // one more round from the converged state moves no component > tol
    val again = Similarity.ivfCentroidsTrained(emb, 16, rounds + 1)
    val moved = toMap(cents).map { case (k, v) =>
      v.zip(toMap(again)(k)).map { case (x, y) => math.abs(x.toDouble - y.toDouble) }.max
    }.max
    assert(moved <= 1e-3, s"stopped while still moving: $moved")
  }

  test("IVF-PQ: codes compress to nSub per vector, recall holds vs brute force") {
    import spark.implicits._
    val bf = Similarity.bruteForceTopK(spark, dir).select("query_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(spark, dir).select("query_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    val pq = Similarity.ivfPqTopK(spark, dir).select("query_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    val ceiling = (ivf & bf).size.toDouble / bf.size
    val recall = (pq & bf).size.toDouble / bf.size
    // absolute floor (measured 0.55 at sf0.001, 0.49 at sf0.1) and
    // fraction-of-the-IVF-candidate-ceiling: ADC ranking must recover
    // most of what the shared candidate stage makes reachable
    assert(recall >= 0.4, s"IVF-PQ recall $recall below floor")
    assert(recall >= 0.6 * ceiling, s"IVF-PQ recall $recall < 60% of IVF ceiling $ceiling")
    // an exact twin of a query cannot be lost to quantization: the
    // twin assigns to the query's own nearest cell (same argmax), its
    // ADC score is maximal among candidates, and the exact re-rank
    // puts it at rank 1 with cosine ~1
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // twin id derived from the corpus max so a grown fixture can never
    // collide it with an existing vec_id
    val twinId = emb.agg(max("vec_id")).head().getLong(0) + 1
    val twin = emb.filter(col("vec_id") === 3)
      .select(lit(twinId).as("vec_id"), col("embedding"))
    val ranked = Similarity.ivfPqTopKFrom(emb.union(twin))
      .filter(col("query_id") === 3 && col("rank") === 1)
      .as[(Long, Int, Long, Double)].collect()
    assert(ranked.length === 1 && ranked.head._3 === twinId,
      s"planted exact twin not at rank 1: ${ranked.toSeq}")
    assert(ranked.head._4 > 0.999, s"twin score not ~1: ${ranked.head._4}")
    Shared.releaseAll(spark)
  }

  test("trained PQ codebooks: deterministic, recall at or above the sampled codebooks") {
    import spark.implicits._
    val bf = Similarity.bruteForceTopK(spark, dir).select("query_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(spark, dir).select("query_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    val sampled = Similarity.ivfPqTopK(spark, dir).select("query_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    val trained = Similarity.ivfPqTopK(spark, dir, trainIters = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ceiling = (ivf & bf).size.toDouble / bf.size
    val rS = (sampled & bf).size.toDouble / bf.size
    val rT = (trained & bf).size.toDouble / bf.size
    // measured: sf0.001 ceiling 0.7375 = sampled = trained (candidate-
    // bound); sf0.1 ceiling 0.625, sampled 0.4875, trained 0.55 — the
    // floors pin the trained gain above the old sampled-only numbers
    // (0.49 absolute / 0.8-of-ceiling was the round-10 weak spot)
    assert(rT >= rS, s"training regressed recall: $rT < sampled $rS")
    assert(rT >= 0.5, s"trained IVF-PQ recall $rT below absolute floor")
    assert(rT >= 0.8 * ceiling,
      s"trained IVF-PQ recall $rT < 80% of IVF ceiling $ceiling")
    // determinism: a re-train from the same corpus is bit-identical
    val cb1 = Similarity.pqCodebooksTrained(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"), iters = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2))).toSet
    val cb2 = Similarity.pqCodebooksTrained(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"), iters = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2))).toSet
    assert(cb1 === cb2, "trained codebooks are not deterministic")
    Shared.releaseAll(spark)
  }

  test("convergence-stopped PQ training equals the fixed-round trainer bit-for-bit") {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val (cw, rounds, _) = Similarity.pqCodebooksConverged(emb, maxIters = 6)
    assert(rounds >= 1 && rounds <= 6, s"implausible round count $rounds")
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2))).toSet
    val fixed = Similarity.pqCodebooksTrained(emb, iters = rounds)
    assert(keyed(cw) === keyed(fixed),
      s"converged($rounds rounds) != fixed-round($rounds) codebooks")
  }

  test("multi-probe recovers a planted cross-bucket neighbor single-probe misses") {
    import spark.implicits._
    val (k, l) = (8, 16)
    val signs = Similarity.hyperplaneSigns(k * l, 64)
    def dot(v: Array[Float], p: Array[Int]): Double =
      v.indices.map(i => v(i).toDouble * p(i)).sum
    def bucket(v: Array[Float], t: Int): Int =
      (0 until k).map(p => if (dot(v, signs(t * k + p)) > 0) 1 << p else 0).sum
    def buckets(v: Array[Float]): Seq[Int] = (0 until l).map(t => bucket(v, t))
    def normalize(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val rnd = new scala.util.Random(7)
    def draw() = normalize(Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
    // plant a pair that shares NO bucket in any table (single-probe
    // blind) but sits one sign-flip away in at least one table
    // (multi-probe reach) — for seeded random pairs both hold with
    // decent probability, so a short search always lands one
    val planted = Iterator.continually((draw(), draw())).take(500).find { case (a, b) =>
      val (ba, bb) = (buckets(a), buckets(b))
      val noTableShared = (0 until l).forall(t => ba(t) != bb(t))
      val oneBitSomewhere = (0 until l).exists(t => Integer.bitCount(ba(t) ^ bb(t)) == 1)
      noTableShared && oneBitSomewhere
    }
    assert(planted.nonEmpty, "no qualifying pair in 500 seeded draws")
    val (q, n) = planted.get
    val fillers = (2L to 11L).map(id => (id, draw()))
    val emb = ((0L, q) +: (1L, n) +: fillers).toDF("vec_id", "embedding")
    def pairs(multiProbe: Boolean): Set[(Long, Long)] =
      Similarity.lshTopKFrom(emb, nQueries = 1, k = 11, multiProbe = multiProbe)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val single = pairs(multiProbe = false)
    val multi = pairs(multiProbe = true)
    assert(!single.contains((0L, 1L)),
      "planted neighbor unexpectedly co-bucketed — the plant is broken")
    assert(multi.contains((0L, 1L)),
      s"multi-probe failed to recover the 1-bit-away neighbor: $multi")
  }

  test("centroidsFor: cluster count n/targetCell, clamped to [4, 2^20]") {
    assert(Similarity.centroidsFor(8192, 512) === 16)
    assert(Similarity.centroidsFor(400_000_000L, 512) === 781250)
    assert(Similarity.centroidsFor(100, 512) === 4, "tiny corpus floors at 4 cells")
    assert(Similarity.centroidsFor(Long.MaxValue / 2, 1) === (1 << 20), "broadcast ceiling")
  }

  test("embedding near-dup LSH: planted near-identical pairs all recovered") {
    import spark.implicits._
    // the corpus has NO natural >=0.95-cos pairs at any scale (the
    // exact operator returns 0 rows), so recall is only measurable on
    // plants: 10 base vectors, each with a near-identical twin
    // (cos >= ~0.99 after a tiny perturbation)
    val rnd = new scala.util.Random(11)
    def normalize(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def draw() = normalize(Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
    val bases = (0 until 10).map(_ => draw())
    val twins = bases.map(b => normalize(b.map(x => x + (rnd.nextDouble() * 0.02 - 0.01).toFloat)))
    val rows = bases.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      twins.zipWithIndex.map { case (v, i) => ((i + 10).toLong, v) }
    val emb = rows.toDF("vec_id", "embedding")
    val exact = Similarity.embeddingNearDupFrom(emb, 0.95)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val lsh = Similarity.embeddingNearDupLshFrom(emb, 0.95)
      .select("i", "j").as[(Long, Long)].collect().toSet
    // every planted twin pair qualifies and both operators agree
    assert((0 until 10).forall(i => exact.contains((i.toLong, (i + 10).toLong))),
      s"plant broken: exact=$exact")
    assert(lsh === exact,
      s"LSH missed ${(exact -- lsh).size} of ${exact.size} planted pairs: ${exact -- lsh}")
  }

  test("temperature mix: tail domain upsampled vs head, total near target, cap engages") {
    import spark.implicits._
    // head domain 900 docs, tail domain 100: α = 0.5 gives the tail
    // 3x the weight-per-doc of the head (sqrt(100)/100 vs
    // sqrt(900)/900), so its keep RATE must be ~3x the head's
    val docs = ((0L until 900L).map(i => (i, "en")) ++
      (900L until 1000L).map(i => (i, "fi"))).toDF("doc_id", "lang")
    val kept = Mixer.temperatureMixFrom(docs, col("lang"))
      .select("doc_id", "lang").as[(Long, String)].collect()
    val en = kept.count(_._2 == "en").toDouble / 900
    val fi = kept.count(_._2 == "fi").toDouble / 100
    assert(fi > 2 * en && fi < 4.5 * en,
      s"tail keep rate $fi must be ~3x head $en")
    // md5 prefixes are uniform: the realized total tracks the
    // half-corpus target (quota algebra is exact; survival is
    // hash-thresholded, so allow sampling noise)
    assert(math.abs(kept.length - 500) < 80, s"total ${kept.length} far from target 500")
    // a 2-doc domain's quota exceeds keep-all: the hex cut must cap
    val docs2 = docs.union(Seq((1000L, "xx"), (1001L, "xx")).toDF("doc_id", "lang"))
    val cuts = Mixer.temperatureMixFrom(docs2, col("lang"))
      .filter(col("lang") === "xx").select("hcut6").distinct()
      .as[String].collect()
    assert(cuts.isEmpty || cuts === Array("ffffff"),
      s"tiny domain must cap at keep-all: ${cuts.toSeq}")
  }

  test("token budget: each lang's kept tokens reach min(budget, total), minimally") {
    import spark.implicits._
    val out = queries.TrainingPack.txTokenBudget(spark, dir)
      .select("doc_id", "lang", "quality", "n_tok", "b_budget", "q_threshold")
      .as[(Long, String, Long, Long, Long, Long)].collect()
    Shared.releaseAll(spark)
    assert(out.nonEmpty)
    val langDocs = Tables.documents(spark, dir).groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    out.groupBy(_._2).foreach { case (lang, rows) =>
      val budget = rows.head._5
      val kept = rows.map(_._4).sum
      val thr = rows.head._6
      if (kept < budget)
        // saturation clamp: under-budget means the lang's whole mass
        // is below its budget — every doc of the lang must be kept
        assert(rows.length == langDocs(lang),
          s"$lang under budget ($kept < $budget) yet kept ${rows.length}/${langDocs(lang)} docs")
      else {
        // minimality at bucket granularity: dropping the threshold
        // bucket's tokens goes below budget
        val withoutThreshold = rows.filter(_._3 > thr).map(_._4).sum
        assert(withoutThreshold < budget,
          s"$lang threshold bucket not needed: $withoutThreshold >= $budget")
      }
    }
  }

  test("LM score: reference-like text outscores gibberish on both surfaces") {
    import spark.implicits._
    // training slice = doc_id % 10 == 0: repetitive English-like text;
    // doc 1 reuses the training trigrams, doc 3 is alphabet soup
    val docs = Seq(
      (0L, "the cat sat on the mat and the dog sat on the log"),
      (10L, "the rat sat on the hat and the cat ate the bat"),
      (20L, "a dog and a cat sat on a mat in the sun"),
      (1L, "the cat sat on the log and the dog ate the mat"),
      (3L, "xq zvw kjq pxf wzy qjx vkz fxp yqw zxj")
    ).toDF("doc_id", "text")
    val score = operators.LangModel.lmScoreFrom(docs)
      .select("doc_id", "avg_p_e9").as[(Long, Long)].collect().toMap
    assert(score(1L) > 3 * score(3L),
      s"in-distribution doc must far outscore gibberish: $score")
    // every doc with >= 3 chars gets a row; scores are positive
    assert(score.keySet === Set(0L, 10L, 20L, 1L, 3L) && score.values.forall(_ > 0))
  }

  test("contamination spans: exactly the embedded benchmark passage is localized") {
    import spark.implicits._
    // benchmark doc holds an 8-token passage; corpus doc 1 embeds it
    // verbatim at token offset 3 inside clean text, doc 2 is clean.
    // Every 5-gram of the passage (offsets 3..6) is contaminated ->
    // one island [3, 3+3+4] = [3, 10]; doc 2 yields nothing.
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "clean one two alpha beta gamma delta epsilon zeta eta theta tail words here"),
      (2L, "totally unrelated clean text with no shared passage at all")
    ).toDF("doc_id", "text")
    val spans = operators.Dedup.contaminationSpansFrom(corpus, bench)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet
    assert(spans === Set((1L, 3L, 10L)),
      s"expected the embedded passage [3,10] in doc 1 only: $spans")
  }

  test("shard shuffle: valid permutation per shard, uniform-ish shards, salt switches the epoch") {
    import spark.implicits._
    val docs = spark.range(0, 1000).select(col("id").as("doc_id"))
    val out = operators.Sampling.shardShuffle(docs, "doc_id", 8)
      .select("doc_id", "shard", "shard_pos")
      .as[(Long, Long, Long)].collect()
    assert(out.length === 1000)
    // each shard's positions are exactly 0..n-1 (a dense permutation)
    out.groupBy(_._2).foreach { case (sh, rows) =>
      val ps = rows.map(_._3).sorted
      assert(ps.sameElements(0L until ps.length),
        s"shard $sh positions not dense: ${ps.take(5).toSeq}...")
    }
    // rough uniformity: no shard under half or over double the mean
    val sizes = out.groupBy(_._2).values.map(_.length)
    assert(sizes.min > 1000 / 8 / 2 && sizes.max < 1000 / 8 * 2,
      s"shard skew: ${sizes.toSeq.sorted}")
    // determinism: identical rerun; fresh epoch under a new salt
    val again = operators.Sampling.shardShuffle(docs, "doc_id", 8)
      .select("doc_id", "shard", "shard_pos")
      .as[(Long, Long, Long)].collect()
    assert(out.sorted.sameElements(again.sorted))
    val epoch2 = operators.Sampling.shardShuffle(docs, "doc_id", 8, salt = "epoch2")
      .select("doc_id", "shard", "shard_pos")
      .as[(Long, Long, Long)].collect()
    assert(!out.sorted.sameElements(epoch2.sorted), "new salt must reshuffle")
    // data-order decorrelation: consecutive ids land in different
    // places — the fraction of id-adjacent pairs that stay adjacent
    // in (shard, pos) order must be tiny
    val posOf = out.map(r => r._1 -> (r._2, r._3)).toMap
    val adjacent = (0L until 999L).count { i =>
      val (s1, p1) = posOf(i); val (s2, p2) = posOf(i + 1)
      s1 == s2 && (p1 - p2).abs == 1
    }
    assert(adjacent < 20, s"ingest order survives the shuffle: $adjacent/999 adjacent pairs")
  }

  test("contamination cut: the embedded passage is removed, clean text survives verbatim") {
    import spark.implicits._
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "clean one two alpha beta gamma delta epsilon zeta eta theta tail words here"),
      (2L, "totally unrelated clean text with no shared passage at all")
    ).toDF("doc_id", "text")
    val cut = operators.Dedup.cutContaminationSpansFrom(corpus, bench)
      .select("doc_id", "n_before", "n_after", "text_cut")
      .as[(Long, Int, Long, String)].collect().map(r => r._1 -> r).toMap
    // doc 1: tokens 3..10 (the 8-token passage) deleted, 6 survive
    assert(cut(1L)._4 === "clean one two tail words here", s"got ${cut(1L)}")
    assert(cut(1L)._2 === 14 && cut(1L)._3 === 6)
    // doc 2: untouched, n_after == n_before
    assert(cut(2L)._4 === "totally unrelated clean text with no shared passage at all")
    assert(cut(2L)._2.toLong === cut(2L)._3)
  }

  test("PII redaction: every identifier kind is counted and replaced, clean text unchanged") {
    import spark.implicits._
    val df = Seq(
      (1L, "write to a.user@mail.example.org or backup@ex.co, call 415-555-0132, host 192.168.1.77 up"),
      (2L, "no identifiers in this sentence at all"),
      (3L, "mixed-case leak check: Bob.Smith@Example.COM stays gone")
    ).toDF("doc_id", "text")
    val out = operators.Redact.redactWithCounts(df, col("text"))
      .select("doc_id", "n_emails", "n_phones", "n_ips", "redacted")
      .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 === 2 && out(1L)._3 === 1 && out(1L)._4 === 1, s"counts: ${out(1L)}")
    assert(out(1L)._5 ===
      "write to [EMAIL] or [EMAIL], call [PHONE], host [IP] up",
      s"redacted: ${out(1L)._5}")
    assert(out(2L)._2 === 0 && out(2L)._3 === 0 && out(2L)._4 === 0)
    assert(out(2L)._5 === "no identifiers in this sentence at all")
    // uppercase PII must not slip through (the lowercase-only regex
    // leaked it silently — both engines missed identically, so only
    // this fixture pins it)
    assert(out(3L)._2 === 1 &&
      out(3L)._5 === "mixed-case leak check: [EMAIL] stays gone",
      s"uppercase email leaked: ${out(3L)}")
  }

  test("classifier: in-domain text far outscores boilerplate; model is bucket-sized") {
    import spark.implicits._
    // labeled fixture: the reference slice (doc_id % 10 == 0) is
    // natural prose, the rejection slice (% 10 == 5) is nav/ad
    // boilerplate; held-out docs 1 (in-domain), 2 (boilerplate) and
    // 3 (mixed) must come out margin-ordered 1 > 3 > 2 with the
    // clean docs on opposite signs
    val docs = Seq(
      (0L, "the cat sat on the mat and the dog ran in the park all day"),
      (10L, "a small bird flew over the green field near the quiet river"),
      (20L, "the children played in the garden while the sun was warm"),
      (5L, "click here subscribe now buy cheap click here subscribe now free offer"),
      (15L, "accept cookies privacy policy terms of service click here log in sign up"),
      (25L, "buy now free shipping limited offer subscribe newsletter click here"),
      (1L, "the dog sat near the river while the bird flew over the garden"),
      (2L, "subscribe now free offer click here accept cookies buy cheap"),
      (3L, "the cat ran in the field subscribe now click here")
    ).toDF("doc_id", "text")
    val m = operators.Classifier
      .scoreFrom(docs, col("doc_id") % 10 === 0, col("doc_id") % 10 === 5)
      .select("doc_id", "margin_e9").as[(Long, Long)].collect().toMap
    assert(m(1L) > 0 && m(2L) < 0,
      s"clean docs must sit on opposite margin signs: $m")
    assert(m(1L) > m(3L) && m(3L) > m(2L),
      s"margins must order in-domain > mixed > boilerplate: $m")
    // absolute separation floor: the clean docs must sit at least a
    // milli-unit of the probability scale apart per the fixture's
    // ~25-feature docs — a margin gap collapsing toward single
    // integer units is a regression even if the ordering survives
    assert(m(1L) - m(2L) > operators.Classifier.ScaleE9 / 1000,
      s"separation too weak (gap ${m(1L) - m(2L)} <= 1e6): $m")
    // the model is the hashing trick's whole point: exactly B weights
    // no matter the vocabulary — pin the broadcastable-size contract
    val w = operators.Classifier.weightVector(
      docs.select(col("doc_id"), (col("doc_id") % 7).as("b")),
      col("doc_id") % 10 === 0, col("doc_id") % 10 === 5,
      operators.Classifier.Buckets)
    assert(w.count() === operators.Classifier.Buckets.toLong)
  }

  test("semantic dedup: co-clustered twins dropped with their base as witness, nothing else") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def normalize(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def draw() = normalize(Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
    val bases = (0 until 10).map(_ => draw())
    val twins = bases.map(b => normalize(b.map(x => x + (rnd.nextDouble() * 0.02 - 0.01).toFloat)))
    val rows = bases.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      twins.zipWithIndex.map { case (v, i) => ((i + 10).toLong, v) }
    val emb = rows.toDF("vec_id", "embedding")
    // expected drops: exactly the twins that share a cluster with
    // their base (random bases have cos far below threshold, so the
    // only >= 0.95 pairs are (i, i+10))
    val cid = Similarity.ivfAssignWith(emb, Similarity.ivfCentroids(emb, 4))
      .as[(Long, Long)].collect().toMap
    val expected = (0 until 10).collect {
      case i if cid(i.toLong) == cid((i + 10).toLong) => (i + 10).toLong -> i.toLong
    }.toMap
    assert(expected.size >= 8,
      s"plant degenerate: only ${expected.size} twin pairs co-clustered")
    val out = Similarity.semanticDedupFrom(emb, nCentroids = 4)
      .select("vec_id", "kept_by").as[(Long, Long)].collect().toMap
    assert(out === expected)
  }

  test("capped semantic dedup: hub reaches the whole degenerate family; capped subset of uncapped") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    def normalize(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def draw() = normalize(Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
    // a 6-copy degenerate family with the GLOBALLY smallest ids (so
    // its cell's hub is provably a family member), a 2-copy pair, and
    // random fillers; the construction requires family and pair to
    // land in different cells (asserted - a shared cell would make
    // the family hub the pair's hub too)
    val fam = draw(); val pairV = draw()
    val rows = (0L until 6L).map(i => (i, fam)) ++
      Seq((10L, pairV), (11L, pairV)) ++
      (20L until 30L).map(i => (i, draw()))
    val emb = rows.toDF("vec_id", "embedding")
    val cid = Similarity.ivfAssignWith(emb, Similarity.ivfCentroids(emb, 4))
      .as[(Long, Long)].collect().toMap
    assert(cid(0L) != cid(10L), "degenerate construction: family and pair co-cell")
    assert((20L until 30L).forall(f => cid(f) != cid(0L) || f > 5L),
      "fillers may share the family cell only with larger ids")
    val capped = Similarity.semanticDedupFrom(emb, nCentroids = 4, maxCell = Some(4))
      .select("vec_id", "kept_by").as[(Long, Long)].collect().toMap
    val uncapped = Similarity.semanticDedupFrom(emb, nCentroids = 4)
      .select("vec_id", "kept_by").as[(Long, Long)].collect().toMap
    // the degenerate family that CAUSED an over-full cell is fully
    // dropped through its hub, identically to the uncapped rule
    assert((1L to 5L).forall(v => capped.get(v).contains(0L)), s"$capped")
    // the pair drops whichever branch its cell takes: exact if small,
    // hub if over-full (10 is its cell's min among the >= 20 fillers)
    assert(capped.get(11L).contains(10L), s"$capped")
    // the cap only ever REMOVES candidate pairs: capped drops are a
    // subset of uncapped drops
    assert(capped.keySet.subsetOf(uncapped.keySet),
      s"capped dropped rows uncapped kept: ${capped.keySet -- uncapped.keySet}")
  }

  test("semantic groups: election keeps the member LEAST similar to its centroid") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    def normalize(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def draw() = normalize(Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
    // 8 well-separated singles + one tight pair whose members sit at
    // DIFFERENT distances from everything else (so their centroid
    // cosines differ and the election is non-trivial)
    val singles = (0L until 8L).map(i => (i, draw()))
    val base = draw()
    val d1 = draw()
    val p20 = normalize(base.zip(d1).map { case (x, y) => x + 0.03f * y })
    val p21 = normalize(base.zip(d1).map { case (x, y) => x + 0.07f * y })
    val rows = singles ++ Seq((20L, p20), (21L, p21))
    val emb = rows.toDF("vec_id", "embedding")
    val out = Similarity.semanticDedupGroupsFrom(emb, nCentroids = 4)
      .select("vec_id", "gid", "kept").as[(Long, Long, Int)].collect()
    assert(out.map(_._1).toSet === Set(20L, 21L), s"grouped set wrong: ${out.toSeq}")
    assert(out.forall(_._2 == 20L))
    // expected keeper, computed from the documented rules alone:
    // centroid = argmax dot among the md5-ordered first 4 seeds,
    // keeper = the pair member with the LOWER centroid dot (id ties up)
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val seeds = rows.sortBy { case (id, _) => (md5hex(s"ivf|$id"), id) }.take(4)
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    def cdot(v: Array[Float]): Double =
      seeds.map { case (cid, ce) => (dot(v, ce), -cid) }.max._1
    val expectKeep =
      if (Ordering.Tuple2[Double, Long].lteq((cdot(p20), 20L), (cdot(p21), 21L))) 20L
      else 21L
    assert(math.abs(cdot(p20) - cdot(p21)) > 1e-6,
      "degenerate plant: centroid cosines tied, election untested")
    val kept = out.filter(_._3 == 1).map(_._1)
    assert(kept.toSeq === Seq(expectKeep),
      s"election wrong: kept ${kept.toSeq}, expected $expectKeep " +
        s"(cdots ${cdot(p20)} vs ${cdot(p21)})")
  }

  test("semantic screen: history twin drops the batch copy; intra-batch twins leave one survivor") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def normalize(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def draw() = normalize(Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
    val h = (0L until 20L).map(i => (i, draw()))
    val hist = h.toDF("vec_id", "embedding")
    // batch: 100 copies history vec 4 (-> history hit), 101+102 fresh
    // twins of each other (-> intra-batch: 102 drops, 101 survives),
    // 103 fresh unique (-> survives)
    val fresh = draw()
    val batch = Seq((100L, h(4)._2), (101L, fresh), (102L, fresh), (103L, draw()))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticScreenFrom(batch, hist, nCentroids = 4)
      .select("vec_id", "kept_by").as[(Long, Long)].collect().toMap
    assert(out === Map(100L -> 4L, 102L -> 101L), s"got $out")
  }

  test("exact embedding near-dup past the broadcast cap fails fast naming the LSH path") {
    // the guardrail itself, at misuse scale (no 4 GB table needed)
    val e = intercept[IllegalArgumentException] {
      Similarity.requireExactSized(rows = 2_000_000_000L, dim = 1024)
    }
    assert(e.getMessage.contains("embeddingNearDupLsh"),
      s"misuse error must name the scale path: ${e.getMessage}")
    // and in-band sizes pass untouched
    Similarity.requireExactSized(rows = 200_000L, dim = 64)
  }

  test("materialized shared subtrees release: cache empty after Shared.releaseAll") {
    spark.catalog.clearCache()
    queries.TrainingPack.txTopTerms(spark, dir).count()
    assert(!spark.sharedState.cacheManager.isEmpty,
      "txTopTerms should pin its exploded-token subtree")
    Shared.releaseAll(spark)
    assert(spark.sharedState.cacheManager.isEmpty,
      "releaseAll must leave no pinned plans behind")
  }

  test("simhash banded pairs: complete for d<=3 vs brute force") {
    import spark.implicits._
    val hashes = Dedup.simhash(spark, dir).as[(Long, Long)].collect()
    val brute = (for {
      (i, hi) <- hashes; (j, hj) <- hashes
      if i < j && TextImpl.hamming64(hi, hj) <= 3
    } yield (i, j)).toSet
    val sig = Tables.documents(spark, dir).select(col("doc_id"),
      graft.functions.TextExpressions.simhash64(graft.operators.TextOps.tokens(col("text"))).as("sh"))
    val banded = Dedup.simhashPairsFrom(sig, 3)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(banded === brute, s"banded=${banded.size} brute=${brute.size}")
  }

  test("sq8 quantization: codes in range, error bounded by scale/2, recall vs exact") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // kernel contract on adversarial vectors: range, reconstruction
    // error, zero vector
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 50) {
      val xs = Array.fill(64)((rnd.nextFloat() - 0.5f) * rnd.nextInt(100))
      val (s, q) = graft.functions.VectorKernels.sq8Quantize(
        new GenericArrayData(xs.map(Float.box).toArray[Any]))
      assert(q.forall(c => c >= -127 && c <= 127))
      if (s > 0) xs.indices.foreach { i =>
        assert(math.abs(xs(i).toDouble - q(i) * s) <= s / 2 + 1e-12,
          s"reconstruction error above half a step at $i")
      }
    }
    val (s0, q0) = graft.functions.VectorKernels.sq8Quantize(
      new GenericArrayData(Array.fill(64)(0.0f).map(Float.box).toArray[Any]))
    assert(s0 == 0.0 && q0.forall(_ == 0))
    // end-to-end: int8 ranking recovers the exact top-10 on this
    // corpus (measured recall 1.00 at sf0.001 AND sf0.01; floor 0.9
    // leaves margin for corpus regeneration)
    def topSets(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, a) => (q, a.map(_._2).toSet) }
    val exact = topSets(Similarity.bruteForceTopK(spark, dir))
    val approx = topSets(Similarity.sq8TopK(spark, dir))
    val recalls = exact.map { case (q, s) =>
      (approx.getOrElse(q, Set.empty[Long]) & s).size.toDouble / s.size }
    assert(recalls.min >= 0.9, s"sq8 recall floor broken: ${recalls.toSeq.sorted}")
    // the IVF+SQ8 composition ranks the SAME candidate set as exact
    // IVF — int8 ranking must not change what the index can reach
    val ivfExact = topSets(Similarity.ivfTopK(spark, dir))
    val ivfSq8 = topSets(Similarity.ivfSq8TopK(spark, dir))
    val compRec = ivfExact.map { case (q, s) =>
      (ivfSq8.getOrElse(q, Set.empty[Long]) & s).size.toDouble / s.size }
    assert(compRec.min >= 0.9, s"ivf+sq8 recall floor broken: ${compRec.toSeq.sorted}")
  }

  test("bq quantization: sign-packing contract, rerank envelope, recall vs exact") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def pack(xs: Array[Float]) = graft.functions.VectorKernels.bqPack(
      new GenericArrayData(xs.map(Float.box).toArray[Any]))
    // kernel contract: bit d is exactly the sign of dim d; zero is
    // NOT positive; dims past 64 are ignored
    val alt = Array.tabulate(64)(i => if (i % 3 == 0) 1.0f else -1.0f)
    val packed = pack(alt)
    (0 until 64).foreach { d =>
      assert(((packed >> d) & 1L) == (if (d % 3 == 0) 1L else 0L), s"bit $d") }
    assert(pack(Array.fill(64)(0.0f)) == 0L)
    assert(pack(Array.fill(72)(1.0f)) == -1L)
    assert(pack(Array.tabulate(3)(_ => 2.5f)) == 7L)
    def topSets(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, a) => (q, a.map(_._2).toSet) }
    val exact = topSets(Similarity.bruteForceTopK(spark, dir))
    // rerank envelope: widening the Hamming cut to the whole corpus
    // makes the path EXACT — the rerank algebra cannot lose a
    // candidate it was given
    val full = topSets(Similarity.bqTopK(spark, dir, rerank = 100000))
    assert(full === exact, "full-rerank bq must equal brute force")
    // the production cut: recall@10 at the rerank=192 default —
    // 1-bit signatures are the coarsest candidate metric on the
    // surface, so they buy their 32× memory cut with a wider rerank
    // multiplier (~19×k here vs SQ8's direct ranking). Measured
    // min-recall: 0.9 at sf0.001, 1.00 at sf0.01 (the larger corpus
    // has closer true neighbors); floor 0.9 == the sq8 precedent.
    val approx = topSets(Similarity.bqTopK(spark, dir))
    val recalls = exact.map { case (q, s) =>
      (approx.getOrElse(q, Set.empty[Long]) & s).size.toDouble / s.size }
    info(s"bq recall@10 per query: ${recalls.toSeq.sorted.mkString(",")}")
    assert(recalls.min >= 0.9, s"bq recall floor broken: ${recalls.toSeq.sorted}")
    // the IVF+BQ composition vs exact-ranked IVF: cell pruning bounds
    // what is reachable (shared candidate stage), so the 1-bit cut +
    // rerank is measured against the IVF ceiling, not brute force
    val ivfExact = topSets(Similarity.ivfTopK(spark, dir))
    val ivfBq = topSets(Similarity.ivfBqTopK(spark, dir))
    val compRec = ivfExact.map { case (q, s) =>
      (ivfBq.getOrElse(q, Set.empty[Long]) & s).size.toDouble / s.size }
    info(s"ivf+bq recall@10 per query: ${compRec.toSeq.sorted.mkString(",")}")
    assert(compRec.min >= 0.9, s"ivf+bq recall floor broken: ${compRec.toSeq.sorted}")
  }

  test("bq candidate cut plans a map-side WindowGroupLimit, never a full-row shuffle") {
    // Spark 4's InsertWindowGroupLimit rewrites the rank-filtered
    // window into a PARTIAL per-partition group limit BELOW the
    // exchange, so only <= rerank rows per (partition, query) ever
    // shuffle — measured at 16M candidate rows: 0.3 MiB shuffle,
    // below even a hand-built bounded-top-k typed aggregate
    // (PLANS.md). This pin guards the PATTERN: a rank
    // filter rewritten in a form the rule misses silently reverts to
    // shuffling every Hamming row into 8 query partitions.
    val plan = Similarity.bqTopK(spark, dir, nQueries = 2, k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"no map-side WindowGroupLimit in the bq candidate cut:\n$plan")
  }

  test("scene cuts: exactly one cut per multi-shot doc, at the planted boundary") {
    import spark.implicits._
    val rows = Multimodal.sceneCuts(spark, dir)
      .select("doc_id", "frame_no", "is_cut")
      .as[(Long, Int, Boolean)].collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_._1)
    var multiShot = 0
    byDoc.foreach { case (id, fs) =>
      val cuts = fs.filter(_._3).map(_._2).toSeq
      val nf = 4 + (id % 5).toInt
      if (id % 4 == 0 || (2 + (id % 3).toInt) >= nf) {
        assert(cuts.isEmpty, s"doc $id is single-shot but cut at $cuts")
      } else {
        multiShot += 1
        assert(cuts === Seq(2 + (id % 3).toInt),
          s"doc $id: expected one cut at the shot boundary, got $cuts")
      }
      // the decode-null slice never surfaces
      assert(id % 11 != 6)
    }
    assert(multiShot > 0, "corpus should contain multi-shot docs")
  }

  test("xxhash64 gram keys: span and cut verdicts identical to string keys") {
    import spark.implicits._
    // the 100 TB shuffle-key swap must be invisible in the answer:
    // same spans, same cuts, on the real corpus at two k values
    val docs = graft.Tables.documents(spark, dir)
    for (k <- Seq(2, 4)) {
      val s0 = Dedup.dupSpansFrom(docs, k = k)
        .as[(Long, Long, Long, Long)].collect().toSet
      val s1 = Dedup.dupSpansFrom(docs, k = k, hashKeys = true)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(s0 === s1, s"span verdict drifted under hashed keys (k=$k)")
      assert(s0.nonEmpty, s"vacuous span corpus (k=$k)")
    }
    val c0 = Dedup.cutDupSpansFrom(docs)
      .as[(Long, Long, Long, String)].collect().toSet
    val c1 = Dedup.cutDupSpansFrom(docs, hashKeys = true)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(c0 === c1, "cut verdict drifted under hashed keys")
  }

  test("perceptual near-dup: gate equals brute force, planted exact twins recalled at distance 0") {
    import spark.implicits._
    val hashes = Multimodal.phashes(spark, dir)
      .filter(col("valid")).select("doc_id", "dhash")
      .as[(Long, Long)].collect()
    val brute = (for {
      (i, hi) <- hashes; (j, hj) <- hashes
      if i < j && TextImpl.hamming64(hi, hj) <= 3
    } yield (i, j)).toSet
    val banded = Multimodal.phashPairs(spark, dir)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(banded === brute, s"banded=${banded.size} brute=${brute.size}")
    // the planted exact pixel twins (doc ≡ 3 mod 7, id >= 20 reuses
    // doc_id-20's raster): every pair whose both ends decode must be
    // recalled, at Hamming exactly 0
    val hm = hashes.toMap
    val planted = hashes.map(_._1).filter(id => id % 7 == 3 && id >= 20)
      .filter(id => hm.contains(id - 20))
      .map(id => (id - 20, id))
    assert(planted.nonEmpty, "corpus should contain planted perceptual twins")
    planted.foreach { case (i, j) =>
      assert(banded.contains((i, j)), s"planted twin ($i,$j) not recalled")
      assert(TextImpl.hamming64(hm(i), hm(j)) == 0)
    }
    // the dedup verdicts are exactly the drop-rule fold of the pairs
    val verdicts = Multimodal.phashDedup(spark, dir)
      .select("doc_id", "kept_by").as[(Long, Long)].collect().toMap
    val expected = banded.groupBy(_._2).map { case (j, ps) => (j, ps.map(_._1).min) }
    assert(verdicts === expected)
    // every planted twin drops, witnessed by (at least) its mate
    planted.foreach { case (i, j) => assert(verdicts.get(j).exists(_ <= i)) }
    // the at-ingest screen == its brute-force definition: a batch
    // (odd-id) doc drops on a history (even-id) twin of ANY id or a
    // lower-id batch twin; history docs never appear
    val incr = Multimodal.phashIncremental(spark, dir)
      .select("doc_id", "kept_by").as[(Long, Long)].collect().toMap
    val bruteIncr = hashes.filter(_._1 % 2 == 1).flatMap { case (b, hb) =>
      val ps = hashes.filter { case (p, hp) =>
        p != b && (p % 2 == 0 || p < b) && TextImpl.hamming64(hb, hp) <= 3
      }.map(_._1)
      if (ps.isEmpty) None else Some(b -> ps.min)
    }.toMap
    assert(incr === bruteIncr)
    assert(incr.keys.forall(_ % 2 == 1))
  }

  test("audio near-dup: gate equals brute force, planted twins recalled, retouch within d<=1") {
    import spark.implicits._
    val fps = Multimodal.audioFingerprints(spark, dir)
      .filter(col("valid")).select("doc_id", "afp")
      .as[(Long, Long)].collect()
    val brute = (for {
      (i, hi) <- fps; (j, hj) <- fps
      if i < j && TextImpl.hamming64(hi, hj) <= 3
    } yield (i, j)).toSet
    val banded = Multimodal.audioFpPairs(spark, dir)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(banded === brute, s"banded=${banded.size} brute=${brute.size}")
    val hm = fps.toMap
    // a doc maps to its own chain only when neither twin slice claims it
    def self(id: Long) = !(id % 7 == 3 && id >= 8) && !(id % 11 == 7 && id >= 16)
    // exact twins (≡ 3 mod 7, mate id-8): Hamming exactly 0
    val exact = fps.map(_._1).filter(id => id % 7 == 3 && id >= 8)
      .filter(id => self(id - 8) && hm.contains(id - 8)).map(id => (id - 8, id))
    assert(exact.nonEmpty, "corpus should contain planted exact audio twins")
    exact.foreach { case (i, j) =>
      assert(banded.contains((i, j)), s"planted twin ($i,$j) not recalled")
      assert(TextImpl.hamming64(hm(i), hm(j)) == 0)
    }
    // retouched twins (≡ 7 mod 11, mate id-16): the one-sample edit
    // moves only envelope bit 0 -> distance <= 1, always recalled
    val pert = fps.map(_._1)
      .filter(id => id % 11 == 7 && id >= 16 && !(id % 7 == 3 && id >= 8))
      .filter(id => self(id - 16) && hm.contains(id - 16)).map(id => (id - 16, id))
    assert(pert.nonEmpty, "corpus should contain retouched audio twins")
    pert.foreach { case (i, j) =>
      assert(TextImpl.hamming64(hm(i), hm(j)) <= 1, s"retouch ($i,$j) drifted")
      assert(banded.contains((i, j)), s"retouched twin ($i,$j) not recalled")
    }
    // the dedup verdicts are exactly the drop-rule fold of the pairs
    val verdicts = Multimodal.audioFpDedup(spark, dir)
      .select("doc_id", "kept_by").as[(Long, Long)].collect().toMap
    val expected = banded.groupBy(_._2).map { case (j, ps) => (j, ps.map(_._1).min) }
    assert(verdicts === expected)
    // the at-ingest screen == its brute-force definition: a batch
    // (odd-id) clip drops on a history (even-id) twin of ANY id or a
    // lower-id batch twin; history clips never appear
    val incr = Multimodal.audioFpIncremental(spark, dir)
      .select("doc_id", "kept_by").as[(Long, Long)].collect().toMap
    val bruteIncr = fps.filter(_._1 % 2 == 1).flatMap { case (b, hb) =>
      val ps = fps.filter { case (p, hp) =>
        p != b && (p % 2 == 0 || p < b) && TextImpl.hamming64(hb, hp) <= 3
      }.map(_._1)
      if (ps.isEmpty) None else Some(b -> ps.min)
    }.toMap
    assert(incr === bruteIncr)
    assert(incr.keys.forall(_ % 2 == 1))
  }

  test("fingerprint pipelines compile under codegen (no interpreted fallback)") {
    // the round-17 janino lesson as a regression gate: a synthetic
    // payload expression that outgrows the method limit silently
    // degrades its stage to interpreted eval (2.6x slower) unless
    // fallback is disabled — with it disabled, the compile failure
    // fails the query. Covers the scan projections AND the banded
    // join stage, which inlines the payload expression after
    // projection collapse.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      assert(Multimodal.phashes(spark, dir).count() > 0)
      assert(Multimodal.audioFingerprints(spark, dir).count() > 0)
      assert(Multimodal.videoFingerprints(spark, dir).count() > 0)
      assert(Multimodal.videoFpPairs(spark, dir).count() >= 0)
      assert(Multimodal.audioFpPairs(spark, dir).count() >= 0)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("video near-dup: gate equals brute force, planted twins recalled, retouch within d<=1") {
    import spark.implicits._
    val fps = Multimodal.videoFingerprints(spark, dir)
      .filter(col("valid")).select("doc_id", "vfp")
      .as[(Long, Long)].collect()
    val brute = (for {
      (i, hi) <- fps; (j, hj) <- fps
      if i < j && TextImpl.hamming64(hi, hj) <= 3
    } yield (i, j)).toSet
    val banded = Multimodal.videoFpPairs(spark, dir)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(banded === brute, s"banded=${banded.size} brute=${brute.size}")
    val hm = fps.toMap
    def self(id: Long) = !(id % 7 == 3 && id >= 8) && !(id % 11 == 7 && id >= 16)
    // exact twins (≡ 3 mod 7, mate id-8): Hamming exactly 0 even
    // though the twin's raster DIMENSIONS differ (n_px-invariance)
    val exact = fps.map(_._1).filter(id => id % 7 == 3 && id >= 8)
      .filter(id => self(id - 8) && hm.contains(id - 8)).map(id => (id - 8, id))
    assert(exact.nonEmpty, "corpus should contain planted exact video twins")
    exact.foreach { case (i, j) =>
      assert(banded.contains((i, j)), s"planted twin ($i,$j) not recalled")
      assert(TextImpl.hamming64(hm(i), hm(j)) == 0)
    }
    // retouched twins (≡ 7 mod 11, mate id-16): the one-frame edit
    // moves only envelope bit 0 -> distance <= 1, always recalled
    val pert = fps.map(_._1)
      .filter(id => id % 11 == 7 && id >= 16 && !(id % 7 == 3 && id >= 8))
      .filter(id => self(id - 16) && hm.contains(id - 16)).map(id => (id - 16, id))
    assert(pert.nonEmpty, "corpus should contain retouched video twins")
    pert.foreach { case (i, j) =>
      assert(TextImpl.hamming64(hm(i), hm(j)) <= 1, s"retouch ($i,$j) drifted")
      assert(banded.contains((i, j)), s"retouched twin ($i,$j) not recalled")
    }
    // the dedup verdicts are exactly the drop-rule fold of the pairs
    val verdicts = Multimodal.videoFpDedup(spark, dir)
      .select("doc_id", "kept_by").as[(Long, Long)].collect().toMap
    val expected = banded.groupBy(_._2).map { case (j, ps) => (j, ps.map(_._1).min) }
    assert(verdicts === expected)
    // the at-ingest screen == its brute-force definition
    val incr = Multimodal.videoFpIncremental(spark, dir)
      .select("doc_id", "kept_by").as[(Long, Long)].collect().toMap
    val bruteIncr = fps.filter(_._1 % 2 == 1).flatMap { case (b, hb) =>
      val ps = fps.filter { case (p, hp) =>
        p != b && (p % 2 == 0 || p < b) && TextImpl.hamming64(hb, hp) <= 3
      }.map(_._1)
      if (ps.isEmpty) None else Some(b -> ps.min)
    }.toMap
    assert(incr === bruteIncr)
    assert(incr.keys.forall(_ % 2 == 1))
  }

  test("perceptual near-dup: a RESIZED twin is recalled through the banded pair join") {
    import spark.implicits._
    import graft.functions.{CodecExpressions, CodecImpl}
    // a smooth synthetic photo (mixed gradient signs), its bilinear
    // 12x9 upscale, and an unrelated noise raster
    def pix(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
      val px = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        px(3 * (y * w + x) + c) = f(x, y).toByte
      s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ px
    }
    val base = pix(8, 6, (x, y) => 120 + (110 * math.sin(x * 0.8 + y * 0.3)).toInt)
    val resized = "P6\n12 9\n255\n".getBytes("US-ASCII") ++
      CodecImpl.ppmResize(base, 12, 9)
    val noise = pix(8, 6, (x, y) => ((x * 131 + y * 197) * 7919) % 256)
    val sig = Seq((1L, base), (2L, resized), (3L, noise)).toDF("doc_id", "payload")
      .select(col("doc_id"), CodecExpressions.ppm_dhash(col("payload")).as("sh"))
    val pairs = Dedup.simhashPairsFrom(sig, 3)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "resized twin should land within d<=3")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated raster must not pair")
  }

  test("embedding near-dup LSH: exact precision, measured recall") {
    import spark.implicits._
    val exact = Similarity.embeddingNearDupFrom(Tables.embeddings(spark, dir), 0.95)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val lsh = Similarity.embeddingNearDupLshFrom(Tables.embeddings(spark, dir), 0.95)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH produced a pair the exact operator rejects")
    // this corpus has no >=0.95 pairs (exact is empty), so precision
    // is the only corpus-level check — recall is pinned by the
    // planted-pair test below
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.5, s"recall $recall over ${exact.size} pairs")
    }
  }

  // ------------------------------------------------------------ lang id

  test("redaction scrubs every planted identifier and counts them") {
    import spark.implicits._
    val rows = graft.queries.TrainingPack.txRedact(spark, dir)
      .as[(Long, String, Int, Int, Int)].collect()
    assert(rows.length === 500)
    rows.foreach { case (id, red, emails, ips, nums) =>
      assert(emails === 1 && ips === 1 && nums === 1, s"doc $id counts")
      assert(!red.contains("@"), s"doc $id leaked an email")
      assert(red.contains("<EMAIL>") && red.contains("<IP>") && red.contains("<NUM>"),
        s"doc $id missing a placeholder")
      assert(!red.matches("(?s).*\\d{6,}.*"), s"doc $id leaked a long number")
    }
  }

  test("contamination flags only train docs that truly share benchmark shingles") {
    import spark.implicits._
    val flagged = graft.queries.TrainingPack.txContamination(spark, dir)
      .as[(Long, Long)].collect()
    assert(flagged.nonEmpty)
    // never flags the benchmark slice itself; threshold respected
    flagged.foreach { case (id, n) =>
      assert(id % 5 != 0, s"benchmark doc $id flagged")
      assert(n >= 3)
    }
    // every flagged doc's shingle set really intersects the benchmark's
    val sh = graft.operators.Dedup.shingleTable(spark, dir, "doc_id")
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val bench = sh.filter(_._1 % 5 == 0).values.flatten.toSet
    flagged.foreach { case (id, n) =>
      assert((sh(id) intersect bench).size.toLong === n, s"doc $id count mismatch")
    }
  }

  test("decontamination never forces a broadcast: with thresholds off the benchmark join shuffles") {
    // simulate a corpus-proportional benchmark side: if the operator
    // carried a broadcast() hint, the plan would broadcast regardless
    // of size config and OOM at 100x; hint-free, disabling the size
    // thresholds must yield a non-broadcast join
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, "-1"))
    try {
      val df = graft.queries.TrainingPack.txContamination(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange") && !plan.contains("BroadcastHashJoin")
        && !plan.contains("BroadcastNestedLoopJoin"),
        s"benchmark join still broadcasts with thresholds disabled:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("stratified sample: per-stratum keep rates track the thresholds, deterministic") {
    import spark.implicits._
    import graft.queries.TrainingPack
    val total = Tables.documents(spark, dir).groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val kept = TrainingPack.txStratifiedSample(spark, dir)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    def expectedRate(lang: String): Double =
      Integer.parseInt(TrainingPack.StratThresholds.getOrElse(lang, TrainingPack.StratDefault), 16) / 256.0
    total.foreach { case (lang, n) =>
      val rate = kept.getOrElse(lang, 0L).toDouble / n
      val want = expectedRate(lang)
      assert(math.abs(rate - want) < 0.15, s"$lang rate $rate vs $want over $n docs")
    }
    // deterministic: a rerun keeps exactly the same rows
    val a = TrainingPack.txStratifiedSample(spark, dir).as[(Long, String)].collect().toSeq
    val b = TrainingPack.txStratifiedSample(spark, dir).as[(Long, String)].collect().toSeq
    assert(a === b)
  }

  test("curation pipeline: every stage's contract holds on the survivors") {
    import spark.implicits._
    import graft.queries.TrainingPack
    val out = TrainingPack.txPipeline(spark, dir)
      .as[(Long, String, Long, Long, Long)].collect()
    assert(out.nonEmpty && out.length < 500, s"${out.length} survivors")
    val ids = out.map(_._1).toSet
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "lang", "text").as[(Long, String, String)].collect()
    val textOf = docs.map(d => d._1 -> d._3).toMap
    out.foreach { case (id, lang, shard, nTok, bin) =>
      assert(lang != "zh", s"doc $id kept zh")
      assert(id % 5 != 0, s"doc $id is benchmark holdout")
      assert(shard === id % 8)
      assert(bin >= 0 && nTok > 0)
    }
    // exact dedup honored: no two survivors share normalized text
    val norms = out.map(o => textOf(o._1).toLowerCase.replaceAll("\\s+", " ").trim)
    assert(norms.distinct.length === norms.length, "exact dupes survived")
    // near-dup removal honored: no surviving jaccard>=0.8 pair
    val pairs = graft.operators.Dedup.ngramJaccard(spark, dir)
      .select("i", "j").as[(Long, Long)].collect()
    pairs.foreach { case (i, j) =>
      assert(!(ids(i) && ids(j)), s"near-dup pair ($i,$j) both survived")
    }
    // and TRANSITIVELY: at most one survivor per connected component
    // of the pipeline's (capped) pair set, even where no direct pair
    // links the two survivors
    val comps = graft.operators.Dedup.connectedComponents(
        graft.operators.Dedup.ngramJaccard(spark, dir,
          maxBucket = Some(TrainingPack.PipelineMaxBucket)).select("i", "j"))
      .as[(Long, Long)].collect()
    comps.groupBy(_._2).foreach { case (root, members) =>
      val survivors = members.map(_._1).filter(ids)
      assert(survivors.length <= 1,
        s"component $root kept ${survivors.toSeq.sorted}")
    }
    // per-shard bins are non-decreasing in doc order
    out.groupBy(_._3).foreach { case (_, rows) =>
      val bins = rows.sortBy(_._1).map(_._5)
      assert(bins.zip(bins.tail).forall { case (a, b) => a <= b })
    }
  }

  test("lang_id identifies constructed multilingual snippets") {
    assert(TextImpl.langId("the cat sat on the mat and it was happy") === "en")
    assert(TextImpl.langId("der Hund und die Katze sind nicht im Haus") === "de")
    assert(TextImpl.langId("el perro y el gato no están en la casa") === "es")
    assert(TextImpl.langId("le chien et le chat ne sont pas dans la maison") === "fr")
    assert(TextImpl.langId("你好世界这是一个测试文档") === "zh")
    assert(TextImpl.langId("xyzzy qwerty plugh") === "und")
    assert(TextImpl.langId("") === "und")
  }

  test("argv tokenize: quote-aware splitting (parser.c:34-107)") {
    assert(TextImpl.argvTokenize("""upload "my file.txt" /tmp/dest""") ===
      Seq("upload", "my file.txt", "/tmp/dest"))
    assert(TextImpl.argvTokenize("a 'b c' d") === Seq("a", "b c", "d"))
    assert(TextImpl.argvTokenize("  spaced   out  ") === Seq("spaced", "out"))
    assert(TextImpl.argvTokenize("""empty "" token""") === Seq("empty", "", "token"))
    assert(TextImpl.argvTokenize("unterminated 'quote runs") ===
      Seq("unterminated", "quote runs"))
    assert(TextImpl.argvTokenize("") === Seq())
  }

  test("expand_env: $VAR, ${VAR}, unknown->empty, $$ literal") {
    val env = Map("HOME" -> "/root", "TMP" -> "/tmp")
    assert(TextImpl.expandEnv("$HOME/data", env) === "/root/data")
    assert(TextImpl.expandEnv("${TMP}/x and $HOME", env) === "/tmp/x and /root")
    assert(TextImpl.expandEnv("$MISSING/x", env) === "/x")
    assert(TextImpl.expandEnv("cost: $$5", env) === "cost: $5")
    assert(TextImpl.expandEnv("no vars", env) === "no vars")
  }

  // -------------------------------------------------- rolling fingerprint

  test("rolling fingerprint: deterministic, order-sensitive, spread") {
    val a = TextImpl.rollingFingerprint("hello world")
    assert(a === TextImpl.rollingFingerprint("hello world"))
    assert(a !== TextImpl.rollingFingerprint("world hello"))
    assert(TextImpl.rollingFingerprint("") === 0L)
    // stays within the Mersenne modulus
    assert(a >= 0 && a < 2305843009213693951L)
  }

  // ---------------------------------------------------------- multimodal

  test("multimodal stub pipeline: typed metadata matches direct decode") {
    import spark.implicits._
    val viaSpark = Multimodal.features(spark, dir)
      .filter(col("doc_id") < 5)
      .as[(Long, Long, Int, Int, Int, Int, Int)].collect()
    val direct = References.mediaTable(spark, dir)
      .filter(col("doc_id") < 5).collect()
      .sortBy(_.doc_id)
      .map(References.decodeStub)
    assert(viaSpark.length === 5)
    viaSpark.zip(direct).foreach { case ((id, nb, crc, w, h, nf, maxFc), m) =>
      assert(id === m.doc_id); assert(nb === m.nbytes); assert(crc === m.crc)
      assert(w === m.width); assert(h === m.height); assert(nf === m.n_frames)
      assert(maxFc === m.frame_crcs.max)
    }
  }

  test("multimodal: batch boundaries don't change results") {
    import spark.implicits._
    val a = Multimodal.extractFeatures(spark, dir, batchSize = 1)
      .select("doc_id", "crc").as[(Long, Int)].collect().sortBy(_._1).toSeq
    val b = Multimodal.extractFeatures(spark, dir, batchSize = 500)
      .select("doc_id", "crc").as[(Long, Int)].collect().sortBy(_._1).toSeq
    assert(a === b)
  }

  test("multimodal resize: pipeline == direct stub, batch-invariant") {
    import spark.implicits._
    val direct = References.mediaTable(spark, dir).collect()
      .map { r =>
        val rz = Multimodal.resizeStub(r.payload, 8, 8)
        (r.doc_id, rz.length.toLong, graft.functions.CodecImpl.crc16(rz))
      }.sortBy(_._1).toSeq
    def run(bs: Int) = Multimodal.resized(spark, dir, batchSize = bs)
      .select("doc_id", "out_nbytes", "out_crc")
      .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
    assert(run(64) === direct)
    assert(run(1) === direct, "batch boundaries must not change the resize")
    // stride contract: output is at most 64 bytes, byte i = source i*k
    val sample = References.mediaTable(spark, dir).head()
    val rz = Multimodal.resizeStub(sample.payload, 8, 8)
    assert(rz.length === math.min(sample.payload.length, 64))
    val k = math.max(1, sample.payload.length / math.max(rz.length, 1))
    rz.zipWithIndex.foreach { case (b, i) => assert(b === sample.payload(i * k)) }
  }

  // -------------------------------------------------- bloom screen

  test("bloom screen == exact incremental, even when the filter is all noise") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val catalog = docs.filter(col("doc_id") < 100)
      .select(md5(graft.operators.TextOps.norm(col("text"))).as("fp")).distinct()
    val batch = docs.filter(col("doc_id") >= 50) // overlaps the catalog
    val exact = Dedup.exactIncremental(batch, catalog)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // honest sizing
    val screened = Dedup.bloomScreen(batch, catalog)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(screened === exact)
    // pathological sizing: a saturated filter answers MAYBE for nearly
    // everything, forcing the whole batch through the exact anti-join —
    // the answer must not change (no-false-negative identity is load-
    // bearing, the prefilter is only a routing decision)
    val saturated = Dedup.bloomScreen(batch, catalog,
        expectedItems = 8, fpp = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(saturated === exact)
  }

  test("sharded bloom screen == exact, across shard counts; filters stay per-shard") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val catalog = docs.filter(col("doc_id") < 100)
      .select(md5(graft.operators.TextOps.norm(col("text"))).as("fp")).distinct()
    val batch = docs.filter(col("doc_id") >= 50)
    val exact = Dedup.exactIncremental(batch, catalog)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // shard count is structural, never semantic — 1 shard degenerates
    // to the single-filter screen, 8 is the default, 31 exercises
    // empty shards (catalog fps < shards is possible at toy scale)
    for (n <- Seq(1, 8, 31)) {
      val got = Dedup.bloomScreenSharded(batch, catalog, nShards = n)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(got === exact, s"nShards=$n diverged")
    }
    // structure: one tagged filter row per non-empty shard, tag =
    // 16-byte prefix (the probe cache key), payload deserializable
    val filters = catalog
      .select(pmod(xxhash64(col("fp")), lit(8L)).as("shard"), col("fp"))
      .groupBy("shard").count()
    assert(filters.count() <= 8 && filters.count() > 0)
    // BloomFilterAggregate clamps sizing to the runtime-filter conf
    // caps; the screen must auto-raise the shard count instead of
    // silently building saturated filters — and stay exact while at it
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val prev = spark.conf.get(itemsKey)
    spark.conf.set(itemsKey, "1100") // catalog > cap at nShards = 1
    try {
      val raised = Dedup.bloomScreenSharded(batch, catalog, nShards = 1)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(raised === exact, "auto-raised sharding diverged")
      // pathological caps BELOW the 1024-item sizing floor: no shard
      // count can fit — the screen must clamp (not loop forever) and
      // the possibly-saturated filters must leave the answer exact
      spark.conf.set(itemsKey, "100")
      val clamped = Dedup.bloomScreenSharded(batch, catalog, nShards = 1)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(clamped === exact, "cap-clamped sharding diverged")
    } finally spark.conf.set(itemsKey, prev)
  }

  test("tagged bloom probe rejects an untagged/short filter loudly") {
    val ex = intercept[Exception] {
      graft.functions.BloomExpressions.probe(Array[Byte](1, 2, 3), 42L)
    }
    assert(ex.getMessage.contains("content tag"))
  }

  // -------------------------------------------------- sketch stats

  test("sketch stats: every sketch verdict true, exact columns match a recount") {
    import spark.implicits._
    val out = graft.queries.TrainingPack.txSketchStats(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getBoolean(3), s"HLL outside 3*rsd for lang ${r.getString(0)}")
      assert(r.getBoolean(4), s"p50 outside GK rank guarantee for ${r.getString(0)}")
      assert(r.getBoolean(5), s"p90 outside GK rank guarantee for ${r.getString(0)}")
    }
    val exact = Tables.documents(spark, dir).groupBy("lang")
      .agg(count(lit(1)).as("n"), count_distinct(col("text")).as("dt"))
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    out.foreach { r =>
      val (n, dt) = exact(r.getString(0))
      assert(r.getLong(1) === n); assert(r.getLong(2) === dt)
    }
  }

  // ------------------------------------------------------ filtered ANN

  test("filtered IVF: recall vs the FILTERED brute-force truth") {
    import spark.implicits._
    val pred = col("label") % 3 === 0
    // ground truth: exact decimal top-10 restricted to the predicate
    val emb = Tables.embeddings(spark, dir)
    val keep = emb.filter(pred).select(col("vec_id")).as[Long].collect().toSet
    val brute = Similarity.bruteForceTopK(spark, dir, nQueries = 8, k = 500)
      .filter(col("vec_id").isInCollection(keep))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("rank"))))
      .filter(col("r") <= 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val filtered = Similarity.ivfTopKFiltered(spark, dir, pred)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect filtered).size.toDouble / brute.size
    // filtering can't LOWER recall vs unfiltered IVF's ~0.74: the same
    // cells are probed and the truth set shrinks with the corpus
    assert(recall >= 0.6, s"filtered IVF recall too low: $recall")
  }

  test("filtered IVF: every hit satisfies the predicate; post-filtering would under-return") {
    import spark.implicits._
    val pred = col("label") % 3 === 0
    val filtered = Similarity.ivfTopKFiltered(spark, dir, pred)
      .join(Tables.embeddings(spark, dir).select(col("vec_id"), col("label")), "vec_id")
      .select("query_id", "rank", "vec_id", "label")
      .as[(Long, Int, Long, Int)].collect()
    assert(filtered.nonEmpty)
    assert(filtered.forall(_._4 % 3 == 0), "a hit escaped the predicate")
    // pre-filtering yields k (or the probed-cell max) per query…
    val perQuery = filtered.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perQuery.values.forall(_ >= 8),
      s"pre-filter yield collapsed: $perQuery")
    // …while POST-filtering the unfiltered top-k under-returns: with a
    // 1/3-selective label the unfiltered winners keep only ~k/3 rows
    val post = Similarity.ivfTopK(spark, dir)
      .join(Tables.embeddings(spark, dir).select(col("vec_id"), col("label")), "vec_id")
      .filter(col("label") % 3 === 0)
      .groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(post.values.forall(_ < 8) && post.values.sum < filtered.length,
      s"post-filtering unexpectedly kept full yield: $post")
  }

  // ---------------------------------------------- duplicate n-gram spans

  test("dup spans: planted shared passages merge into exact spans; within-doc repeats don't count") {
    import spark.implicits._
    val docs = Seq(
      // docs 0/1 share a 7-token run (tokens 2..8 of doc 0, 0..6 of doc 1)
      (0L, "x0 x1 aa bb cc dd ee ff gg y0 y1 y2"),
      (1L, "aa bb cc dd ee ff gg z0 z1 z2 z3 z4"),
      // doc 2 has TWO disjoint shared regions with doc 3 -> two spans
      (2L, "pp qq rr ss tt u0 u1 u2 u3 u4 u5 vv ww xx yy zz"),
      (3L, "m0 pp qq rr ss tt m1 m2 m3 vv ww xx yy zz m4 m5"),
      // doc 4 repeats a 5-gram WITHIN itself only -> 1 distinct doc, no span
      (4L, "k0 k1 k2 k3 k4 k0 k1 k2 k3 k4 n0 n1 n2 n3 n4 n5")
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpansFrom(docs, k = 5, minDocs = 2)
      .orderBy("doc_id", "span_start")
      .as[(Long, Int, Int, Long)].collect()
    assert(spans === Array(
      (0L, 2, 8, 3L),  // 3 overlapping dup 5-grams merged into tokens 2..8
      (1L, 0, 6, 3L),
      (2L, 0, 4, 1L),  // 5-token shared run = exactly one shared 5-gram
      (2L, 11, 15, 1L),
      (3L, 1, 5, 1L),
      (3L, 9, 13, 1L)))
  }

  test("dup spans: islands exactly k apart merge (contiguous coverage), k+1 apart split") {
    import spark.implicits._
    // both docs share runs a1..a5 and b1..b5; in doc 10 the runs are
    // back-to-back (dup starts 0 and 5 — k apart, token coverage
    // contiguous, MUST merge into one span even though the bridging
    // grams a2..b1 etc. are unique to doc 10); in doc 11 they're
    // separated by w1 w2 w3 (starts 0 and 8 — gap > k, two spans)
    val docs = Seq(
      (10L, "a1 a2 a3 a4 a5 b1 b2 b3 b4 b5"),
      (11L, "a1 a2 a3 a4 a5 w1 w2 w3 b1 b2 b3 b4 b5")
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpansFrom(docs, k = 5, minDocs = 2)
      .orderBy("doc_id", "span_start").as[(Long, Int, Int, Long)].collect()
    assert(spans === Array((10L, 0, 9, 2L), (11L, 0, 4, 1L), (11L, 8, 12, 1L)))
  }

  test("span cut: keeper doc intact, later docs lose exactly the duplicated tokens") {
    import spark.implicits._
    val docs = Seq(
      // doc 0 is the earliest containing the shared run -> keeper
      (0L, "x0 x1 aa bb cc dd ee ff gg y0 y1 y2"),
      (1L, "aa bb cc dd ee ff gg z0 z1 z2 z3 z4"),
      // doc 5 untouched by any duplication
      (5L, "q0 q1 q2 q3 q4 q5")
    ).toDF("doc_id", "text")
    val out = Dedup.cutDupSpansFrom(docs, k = 5, minDocs = 2)
      .orderBy("doc_id").as[(Long, Int, Long, String)].collect()
    assert(out === Array(
      (0L, 12, 12L, "x0 x1 aa bb cc dd ee ff gg y0 y1 y2"),
      // doc 1 cuts tokens 0..6 (the span), keeps the z tail
      (1L, 12, 5L, "z0 z1 z2 z3 z4"),
      (5L, 6, 6L, "q0 q1 q2 q3 q4 q5")))
  }

  test("span cut: adjacent passages with different earliest docs each survive in their own keeper") {
    import spark.implicits._
    // passage A (a1..a5) is earliest in doc 1; passage B (b1..b5) is
    // earliest in doc 2, where it sits ADJACENT to A — the merged
    // island in doc 2 spans both passages. A span-level keeper
    // (min gmin = 1) would cut the whole island from doc 2 AND cut B
    // from doc 3 (keeper 2 <> 3), deleting every copy of B. The
    // per-gram rule must keep B intact in doc 2.
    val docs = Seq(
      (1L, "a1 a2 a3 a4 a5"),
      (2L, "a1 a2 a3 a4 a5 b1 b2 b3 b4 b5"),
      (3L, "b1 b2 b3 b4 b5")
    ).toDF("doc_id", "text")
    val out = Dedup.cutDupSpansFrom(docs, k = 5, minDocs = 2)
      .orderBy("doc_id").as[(Long, Int, Long, String)].collect()
    assert(out === Array(
      (1L, 5, 5L, "a1 a2 a3 a4 a5"),
      // doc 2 loses A (earliest elsewhere) but keeps B (earliest HERE)
      (2L, 10, 5L, "b1 b2 b3 b4 b5")))
    // the invariant the fix protects: every duplicated run still has
    // at least one surviving copy somewhere
    val joined = out.map(_._4).mkString(" ")
    assert(joined.contains("a1 a2 a3 a4 a5") && joined.contains("b1 b2 b3 b4 b5"))
  }

  test("span cut: a fully duplicated later doc vanishes; keeper chain is earliest-doc") {
    import spark.implicits._
    val run = "s0 s1 s2 s3 s4 s5 s6"
    val docs = Seq(
      (3L, run),              // earliest containing the run -> keeper
      (7L, run),              // exact later copy -> fully cut, no output row
      (9L, "h0 " + run)       // later superset -> keeps only the head token
    ).toDF("doc_id", "text")
    val out = Dedup.cutDupSpansFrom(docs, k = 5, minDocs = 2)
      .orderBy("doc_id").as[(Long, Int, Long, String)].collect()
    assert(out === Array(
      (3L, 7, 7L, run),
      (9L, 8, 1L, "h0")))
  }

  test("incremental span screen: catalog hits flag, stats-only catalog suffices, batch-internal dups count") {
    import spark.implicits._
    val history = Seq(
      (0L, "h0 h1 aa bb cc dd ee h2 h3"),   // contributes grams of aa..ee
      (1L, "h4 h5 h6 h7 h8 h9")
    ).toDF("doc_id", "text")
    val batch = Seq(
      // hits the catalog: aa..ee present in history doc 0
      (250L, "p0 aa bb cc dd ee p1 p2 p3"),
      // batch-internal pair: both docs share ww..w4, absent from history
      (251L, "ww wx wy wz w4 r0 r1 r2 r3"),
      (252L, "q0 q1 ww wx wy wz w4 q2 q3"),
      // unique content: no spans
      (253L, "u0 u1 u2 u3 u4 u5 u6 u7 u8")
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpansIncrementalFrom(batch,
        Dedup.gramStats(history, 5), k = 5, minDocs = 2)
      .orderBy("doc_id", "span_start").as[(Long, Int, Int, Long)].collect()
    assert(spans === Array(
      (250L, 1, 5, 1L),   // catalog hit: the aa..ee 5-gram at pos 1
      (251L, 0, 4, 1L),   // batch-internal dup, both sides flagged
      (252L, 2, 6, 1L)))
    // the screen consumed ONLY (gram, df, gmin) from history — no
    // history positions: same answer from a stats frame built by hand
    val handStats = Seq(("aa bb cc dd ee", 1L, 0L)).toDF("gram", "df", "gmin")
    val spans2 = Dedup.dupSpansIncrementalFrom(batch, handStats, 5, 2)
      .orderBy("doc_id", "span_start").as[(Long, Int, Int, Long)].collect()
    assert(spans2 === spans)
  }

  test("intra-doc spans: periodic repeats mark everything after the first period") {
    import spark.implicits._
    val docs = Seq(
      // "a b c d e" three times: repeat 5-gram starts at 5..10 — one
      // span covering tokens 5..14, so cutting it leaves one copy
      (0L, "a b c d e a b c d e a b c d e"),
      // two DISJOINT repeats of one phrase far apart -> repeat at the
      // second site only
      (1L, "k0 k1 k2 k3 k4 m0 m1 m2 m3 m4 m5 m6 k0 k1 k2 k3 k4"),
      // no repetition
      (2L, "u0 u1 u2 u3 u4 u5 u6")
    ).toDF("doc_id", "text")
    val spans = Dedup.intraDupSpansFrom(docs, k = 5)
      .orderBy("doc_id", "span_start").as[(Long, Int, Int, Long)].collect()
    assert(spans === Array(
      (0L, 5, 14, 6L),
      (1L, 12, 16, 1L)))
  }

  test("dup spans: randomized corpora match an independent in-memory reference") {
    import spark.implicits._
    // reference implementation: straight-line Scala over token arrays,
    // no shared code with the operator beyond the definition itself
    def refSpans(docs: Seq[(Long, String)], k: Int): Seq[(Long, Int, Int, Long)] = {
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }
      val gramDocs = scala.collection.mutable.Map[String, Set[Long]]()
      for ((id, ts) <- toks; i <- 0 to ts.length - k)
        gramDocs.updateWith(ts.slice(i, i + k).mkString(" ")) {
          s => Some(s.getOrElse(Set.empty) + id)
        }
      val dup = gramDocs.filter(_._2.size >= 2).keySet
      toks.flatMap { case (id, ts) =>
        val pos = (0 to ts.length - k).filter(i => dup(ts.slice(i, i + k).mkString(" ")))
        val islands = pos.foldLeft(List.empty[List[Int]]) {
          case (Nil, p) => List(List(p))
          case (h :: t, p) if p - h.head <= k => (p :: h) :: t
          case (acc, p) => List(p) :: acc
        }.map(_.reverse).reverse
        islands.map(is => (id, is.head, is.last + k - 1, is.length.toLong))
      }.sortBy(s => (s._1, s._2))
    }
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      // small vocabulary forces heavy accidental sharing; varying doc
      // lengths cover sub-k docs and long multi-island ones
      val docs = (0L until 12L).map { id =>
        val n = 3 + rnd.nextInt(25)
        id -> (1 to n).map(_ => s"w${rnd.nextInt(8)}").mkString(" ")
      }
      val got = Dedup.dupSpansFrom(docs.toDF("doc_id", "text"), k = 4, minDocs = 2)
        .orderBy("doc_id", "span_start").as[(Long, Int, Int, Long)].collect().toSeq
      assert(got === refSpans(docs, 4), s"trial $trial diverged")
    }
  }

  test("quality threshold: per-lang kept set is the minimal >= 70% prefix, ties inclusive") {
    import spark.implicits._
    val kept = graft.queries.TrainingPack.txQualityThreshold(spark, dir)
      .as[(Long, String, Long, Long)].collect()
    // independent truth: score every doc, sort per lang, take the
    // quality at rank ceil(0.7 n) as the threshold
    val scored = graft.queries.TrainingPack.txQuality(spark, dir)
      .select(col("doc_id"), col("quality"))
      .join(Tables.documents(spark, dir).select("doc_id", "lang"), "doc_id")
      .as[(Long, Long, String)].collect()
    scored.groupBy(_._3).foreach { case (lang, rows) =>
      val qs = rows.map(_._2).sorted(Ordering[Long].reverse)
      val target = math.ceil(0.7 * qs.length).toInt
      val threshold = qs(target - 1)
      val expect = rows.filter(_._2 >= threshold).map(_._1).toSet
      val got = kept.filter(_._2 == lang)
      assert(got.map(_._1).toSet === expect, s"lang $lang kept set diverged")
      assert(got.forall(_._4 == threshold), s"lang $lang threshold diverged")
      assert(got.size >= target && got.size.toDouble / qs.length < 0.8,
        s"lang $lang keep fraction off: ${got.size}/${qs.length}")
    }
  }

  test("pipeline-cut: quality is scored on the cut text, not the raw text") {
    import spark.implicits._
    val out = graft.queries.TrainingPack.txPipelineCut(spark, dir)
      .as[(Long, String, Int, Long, Long)].collect()
    assert(out.nonEmpty)
    // docs the cut touched lost tokens; their length component must
    // reflect the CUT token count (n_after), and at least one doc in
    // the corpus is actually touched (natural cross-doc duplication)
    val touched = out.filter(r => r._4 < r._3)
    assert(touched.nonEmpty, "no doc was cut — composition untested")
    // quality recomputed here from the operator's own outputs would
    // need the text; instead pin the structural claim: a fully
    // untouched doc keeps n_before == n_after
    assert(out.exists(r => r._4 == r._3))
  }

  test("semantic decontamination flags a paraphrased benchmark leak that gram overlap provably misses") {
    import spark.implicits._
    import graft.operators.Decontaminate
    // benchmark doc 100 and corpus doc 1 are PARAPHRASES: zero shared
    // tokens (so zero shared 5-gram shingles — the gram screen cannot
    // fire even at minShared=1), but the encoder mapped them to the
    // SAME meaning vector. doc 2 is unrelated text with an orthogonal
    // embedding.
    val benchDocs = Seq(
      (100L, "what is the capital of france answer paris obviously")
    ).toDF("doc_id", "text")
    val corpusDocs = Seq(
      (1L, "name that republic's chief city reply it's paree clearly"),
      (2L, "completely different topic about cooking pasta tonight")
    ).toDF("doc_id", "text")
    def unit(axis: Int) =
      Array.tabulate(64)(i => if (i == axis) 1.0f else 0.0f)
    val benchEmb = Seq((100L, unit(0))).toDF("vec_id", "embedding")
    val corpusEmb = Seq((1L, unit(0)), (2L, unit(7)))
      .toDF("vec_id", "embedding")
    // gram overlap: NOTHING shared, even at threshold 1
    val gram = Decontaminate.overlap(
      Dedup.shinglesOf(corpusDocs, "doc_id"),
      Dedup.shinglesOf(benchDocs, "doc_id"),
      minShared = 1).count()
    assert(gram === 0L, "paraphrase must share zero shingles for this proof")
    // semantic screen: the paraphrase is flagged at cos 1.0, the
    // unrelated doc is not
    val sem = Decontaminate.semanticOverlap(corpusEmb, benchEmb)
      .select("doc_id", "bench_id", "cos")
      .as[(Long, Long, Double)].collect().toSet
    assert(sem === Set((1L, 100L, 1.0)),
      s"expected only the paraphrase flagged against bench 100: $sem")
  }

  test("top ngrams: counts match brute force, ties break on the gram string") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c a b c a b d"),
      (1L, "a b c x y z"),
      (2L, "x y z x y z")
    ).toDF("doc_id", "text")
    val got = Dedup.topNgramsFrom(docs, k = 3, topN = 3)
      .as[(String, Long, Long)].collect()
    // brute force: "a b c" x3 (docs 0,1), "x y z" x3 (docs 1,2),
    // "b c a" x2 (doc 0) — tie between "a b c" and "x y z" at n=3
    // breaks on the gram string
    assert(got === Array(("a b c", 3L, 2L), ("x y z", 3L, 2L), ("b c a", 2L, 1L)))
  }
}
