package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.plans.LandedCatalog.{Handle, Spec}

/** Landed substring-dedup gram-stats catalog — the production shape
  * of [[graft.operators.Dedup.dupSpansIncrementalFrom]]'s history
  * side (closing the layout decision DESIGN §8 had deferred): the
  * ingested corpus's per-gram statistics live as ONE bucketed table
  *
  *  - `<name>_stats` (gram, df, gmin): bucketed by `gram`, partitioned
  *    by `ingest_id` (landing = partition 0, each accepted batch its
  *    own partition),
  *
  * and the key property making a single table suffice is that gram
  * stats are a MERGEABLE aggregate: each partition carries the stats
  * of its own disjoint ingest batch, so the catalog view is
  * `SUM(df), MIN(gmin) GROUP BY gram` across partitions — read
  * co-partitioned from the bucketed layout, so the merge aggregate
  * needs no Exchange (pinned in spec). Appends are per-batch stats,
  * never recomputed history. The lifecycle (reattach, floors,
  * compaction, retention) is [[LandedCatalog]]'s; compaction is
  * verdict-invisible here because SUM and MIN are associative over
  * the folded rows (pinned in GramCatalogSpec), and retention makes
  * aged grams stop counting toward duplication.
  *
  * Contract shared with the other catalogs: ingest batches carry
  * DISJOINT doc sets (df sums assume it), and k is fixed per catalog
  * (stored in the `_LANDED` marker — mixing gram widths would merge
  * apples with oranges).
  */
object GramCatalog {

  val Tag = "graft_gramcat"

  private val specs =
    Seq(Spec("stats", "gram STRING, df BIGINT, gmin BIGINT, ingest_id BIGINT",
      "gram", Seq("gram")))

  /** The catalog's fixed gram width (from the `_LANDED` marker). */
  private def kOf(spark: SparkSession, h: Handle): Int =
    LandedCatalog.marker(spark, h).get("k").map(_.toInt).getOrElse(Dedup.ShingleN)

  /** Land `histDocs` as catalog `name`, ingest partition 0. */
  def land(spark: SparkSession, histDocs: DataFrame, name: String,
      k: Int = Dedup.ShingleN, nBuckets: Int = 8,
      base: String = LandedCatalog.defaultBase(Tag)): Handle =
    LandedCatalog.land(spark, LandedCatalog.handle(Tag, name, base, specs),
      nBuckets, Seq("k" -> k))(Seq(Dedup.gramStats(histDocs, k)))

  /** Record an accepted batch's gram stats as ingest partition
    * `ingestId`.
    */
  def append(spark: SparkSession, docs: DataFrame, h: Handle,
      ingestId: Long): Unit =
    LandedCatalog.append(spark, h, ingestId)(
      Seq(Dedup.gramStats(docs, kOf(spark, h))))

  /** The merged catalog view ≤ `maxIngestId`: SUM(df) / MIN(gmin) per
    * gram across ingest partitions — co-partitioned on the bucket key,
    * so no Exchange feeds the merge aggregate (pinned in spec).
    */
  def stats(spark: SparkSession, h: Handle,
      maxIngestId: Option[Long] = None): DataFrame = {
    val Seq(t) = LandedCatalog.history(spark, h, maxIngestId)
    t.groupBy("gram").agg(sum("df").as("df"), min("gmin").as("gmin"))
  }

  /** Screen a batch against the landed catalog — the per-ingest-batch
    * substring-dedup operator. `maxIngestId` bounds visible history
    * (see [[LandedCatalog.history]]).
    */
  def screen(spark: SparkSession, batchDocs: DataFrame, h: Handle,
      minDocs: Int = 2, maxIngestId: Option[Long] = None): DataFrame =
    Dedup.dupSpansIncrementalFrom(batchDocs, stats(spark, h, maxIngestId),
      kOf(spark, h), minDocs)
}
