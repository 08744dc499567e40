package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The shared plumbing of every streaming driver-gate REPLAY
  * (GramScreen / SigScreen / ClsScreen / VecScreen):
  *
  *  - the gate's "arriving" rows land once per (prefix, scale dir,
  *    content fingerprint) as two mtime-ordered parquet files
  *    ([250, 375) then ≥ 375 — the house slicing convention), through
  *    [[graft.Shared.landOnce]];
  *  - sink/checkpoint live under a per-(prefix, dir, process) base,
  *    recreated per invocation, with >2h-stale sibling bases from
  *    dead processes GC'd ([[graft.Shared.gcStaleSiblings]]).
  */
private[streaming] object ReplayGate {

  /** Land `arriving` (already filtered to the gate's ≥ 250 slice) as
    * the two mtime-ordered source files under `prefix` and return the
    * source dir.
    */
  def slicedSource(spark: SparkSession, dir: String, prefix: String,
      arriving: DataFrame, idCol: String): String =
    graft.Shared.landOnce(spark, dir, prefix)(writeSlices(arriving, idCol))

  /** Write `arriving` to `srcDir` as the two slices, the later one a
    * second after the first so the file stream replays them in order.
    */
  def writeSlices(arriving: DataFrame, idCol: String)(srcDir: String): Unit = {
    arriving.filter(col(idCol) < 375)
      .coalesce(1).write.mode("append").parquet(srcDir)
    Thread.sleep(1100) // distinct mtimes -> deterministic batch order
    arriving.filter(col(idCol) >= 375)
      .coalesce(1).write.mode("append").parquet(srcDir)
  }

  /** Fresh per-(prefix, dir, process) sink/checkpoint base. */
  def gateBase(spark: SparkSession, dir: String, prefix: String): String = {
    val stem = graft.Shared.keyPrefix(dir, prefix)
    val name = stem + ProcessHandle.current().pid()
    val base = new org.apache.hadoop.fs.Path(sys.props("java.io.tmpdir"), name)
    graft.Shared.gcStaleSiblings(spark, sys.props("java.io.tmpdir"), stem, name,
      keyShape = "[0-9]+")
    base.getFileSystem(spark.sessionState.newHadoopConf()).delete(base, true)
    base.toString
  }
}
