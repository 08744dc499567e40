package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** Conf scoped to one piece of work instead of to the caller's
  * session. [[withConf]] runs a body on a fresh clone of the caller's
  * session with the given values set on the clone only, so a query
  * running concurrently on the caller's session never plans under
  * them. A clone shares the SparkContext, the cache manager and the
  * external catalog with its parent, and carries the parent's conf,
  * temp views, temp functions and query execution listeners.
  * [[rebind]] moves a frame from one session to the other: the
  * analyzed plan is kept as it is, so a scan resolved on a clone keeps
  * reading with the clone's reader settings.
  *
  * Lives under `org.apache.spark.sql` because `cloneSession()` and
  * `Dataset.ofRows` are `private[sql]`; no Spark internals are
  * modified.
  */
object SessionClone {

  def withConf[A](spark: SparkSession, conf: (String, String)*)(
      body: SparkSession => A): A = {
    val clone = classicOf(spark).cloneSession()
    conf.foreach { case (k, v) => clone.conf.set(k, v) }
    body(clone)
  }

  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(classicOf(spark),
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)

  private def classicOf(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]
}
