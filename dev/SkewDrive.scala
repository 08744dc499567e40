// Dev-only skew rehearsal (round-10 item: hot implant / hot band).
// Runs against the dataset from dev/make_skew.py and answers, with
// measurements, whether the skew machinery ACTUALLY ENGAGES:
//   1. AQE skew-join splits the hot-user partition of an SMJ
//      (thresholds scaled down to rehearsal data volume — at 100 TB
//      the defaults fire on their own; locally the hot partition is
//      ~2 MB compressed, under the 256 MB default).
//   2. Skew.saltedJoin vs the plain shuffle join, AQE fully off — the
//      manual path for engines/shapes AQE can't rescue.
//   3. Gap sessionization on a hot user: per-key window work is
//      key-serial by semantics; measure the wall-clock bound.
//   4. Hot-band MinHash dedup: band-size stats + the capped pipeline.
//   5. Hot-bucket embedding near-dup + the landed-catalog screen.
// Run via:
//   python3 dev/make_skew.py
//   cp dev/SkewDrive.scala src/main/scala/graft/ && \
//     sbt "runMain graft.SkewDrive" && rm src/main/scala/graft/SkewDrive.scala
package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, Skew}

object SkewDrive {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SKEW_DIR", "/tmp/graft_skew")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // rehearsal-scale thresholds: the hot partition is ~2 MB compressed
      // here; the 100 TB hot partition is GBs and trips the 256 MB default
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[skew] $label%-55s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val ev = Tables.events(spark, dir).select("event_id", "ts", "user_id", "value")
    val hot = ev.groupBy("user_id").count().orderBy(desc("count")).limit(1).collect()(0)
    println(s"[skew] hottest user ${hot.get(0)} rows=${hot.getLong(1)} of ${ev.count()}")

    // ---- 1. AQE skew-join on the hot key ---------------------------
    // OptimizeSkewedJoin only matches SMJ(Sort(shuffle), Sort(shuffle)):
    // an aggregate between shuffle and join blocks it (1c documents the
    // negative). The dim is therefore LANDED first — which is also the
    // production shape for a reused per-user profile.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ev.groupBy("user_id").agg(avg("value").as("user_avg"))
      .write.mode("overwrite").parquet(s"$dir/user_dim.parquet")
    val dim = spark.read.parquet(s"$dir/user_dim.parquet")
    def smj(d: DataFrame): DataFrame =
      ev.join(d, "user_id").filter(col("value") > col("user_avg"))
        .select(count(lit(1)).as("n"))
    val aqeOn = smj(dim)
    timed("1a. SMJ hot-user join vs landed dim, AQE skew ON")(aqeOn.collect())
    val engaged = aqeOn.queryExecution.executedPlan.toString.contains("skew=true")
    println(s"[skew] 1a. OptimizeSkewedJoin engaged: $engaged")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    timed("1b. SMJ hot-user join vs landed dim, AQE skew OFF")(smj(dim).collect())
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    val inPlan = smj(ev.groupBy("user_id").agg(avg("value").as("user_avg")))
    timed("1c. SMJ vs in-plan agg dim (blocks skew-split)")(inPlan.collect())
    println("[skew] 1c. engaged (expect false): " +
      inPlan.queryExecution.executedPlan.toString.contains("skew=true"))

    // ---- 2. saltedJoin vs plain, AQE off ---------------------------
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plainN = timed("2a. plain shuffle join, AQE off")(
      ev.join(dim, "user_id").count())
    val saltedN = timed("2b. Skew.saltedJoin(32), AQE off")(
      Skew.saltedJoin(ev, dim, "user_id", 32).count())
    assert(plainN == saltedN, s"salted join changed cardinality: $plainN vs $saltedN")
    println(s"[skew] 2.  salted == plain: $plainN rows")
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    // ---- 3. hot-user sessionization (key-serial by semantics) ------
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sess = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 30L * 60 * 1000000, 1)
          .otherwise(0))
      .groupBy("user_id").agg(sum(col("new_s")).as("sessions"))
    timed("3.  gap sessionization incl. 30%-hot user")(sess.collect())

    // ---- 4. hot-band MinHash dedup ---------------------------------
    val sh = Dedup.shinglesOf(Tables.documents(spark, dir).select("doc_id", "text"), "doc")
    val bandSizes = Dedup.minhashSignaturesFrom(sh, "doc")
      .transform(df => Dedup.bandKeys(df, "doc"))
      .groupBy("bk").count()
    val top = timed("4a. band-size scan")(
      bandSizes.orderBy(desc("count")).limit(3).collect())
    top.foreach(r => println(s"[skew] 4a. band ${r.get(0)} size=${r.getLong(1)}"))
    Shared.releaseAll(spark)
    val capped = timed("4b. minhashLsh maxBucket=64 (hot band dropped)")(
      Dedup.minhashLsh(spark, dir, maxBucket = Some(64)).count())
    println(s"[skew] 4b. capped pairs: $capped")
    Shared.releaseAll(spark)
    val star = timed("4c. minhashLsh maxBucket=64 capStar (hub pairs)")(
      Dedup.minhashLsh(spark, dir, maxBucket = Some(64), capStar = true).count())
    println(s"[skew] 4c. star pairs: $star (delta = hot-cluster hub links)")
    Shared.releaseAll(spark)

    // ---- 5. hot-bucket embedding near-dup + landed screen ----------
    val dups = timed("5a. embeddingNearDupLsh (1000-copy hot vector)")(
      Similarity.embeddingNearDupLsh(spark, dir).count())
    println(s"[skew] 5a. duplicate pairs found: $dups")
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val nEmb = emb.count()
    val cat = timed("5b. VecCatalog.land (history = all but last 1000)")(
      graft.plans.VecCatalog.land(spark, emb.filter(col("vec_id") < nEmb - 1000),
        "skew_rehearsal"))
    val flagged = timed("5c. catalog screen of the 1000 hot copies")(
      graft.plans.VecCatalog.screen(spark, emb.filter(col("vec_id") >= nEmb - 1000), cat)
        .count())
    println(s"[skew] 5c. flagged: $flagged of 1000")
    graft.plans.LandedCatalog.drop(spark, cat)

    spark.stop()
  }
}
