package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The shared plumbing of every streaming driver-gate REPLAY
  * (GramScreen / SigScreen / ClsScreen / VecScreen) — ONE copy of the
  * slice/prune/sleep/_SLICED/gc/pid-base discipline those gates grew
  * by duplication:
  *
  *  - the gate's "arriving" rows land once per (prefix, scale dir,
  *    content fingerprint) as two mtime-ordered parquet files
  *    ([250, 375) then ≥ 375 — the house slicing convention), so a
  *    driver-side testdata regeneration can never pair stale slices
  *    with fresh source parquet, and stale-fingerprint siblings are
  *    pruned instead of stranding corpus copies in tmp;
  *  - sink/checkpoint live under a per-(prefix, dir, process) base,
  *    recreated per invocation, with >2h-stale sibling bases from
  *    dead processes GC'd (mtime judged recursively — see
  *    [[graft.Shared.gcStaleSiblings]]).
  */
private[streaming] object ReplayGate {

  /** Land `arriving` (already filtered to the gate's ≥ 250 slice) as
    * the two mtime-ordered source files; `alsoLand` runs inside the
    * same `_SLICED`-guarded block for artifacts that must share the
    * slices' lifetime (e.g. ClsScreen's pinned model). Returns the
    * source dir; its basename keys any catalog landed for the gate.
    */
  def slicedSource(spark: SparkSession, dir: String, prefix: String,
      arriving: DataFrame, idCol: String,
      alsoLand: String => Unit = _ => ()): String = {
    val dirPart = dir.replaceAll("[^A-Za-z0-9]", "_")
    val srcName = s"${prefix}_${dirPart}_${graft.Shared.srcFingerprint(spark, dir)}"
    val srcDir = s"${sys.props("java.io.tmpdir")}/$srcName"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    if (!new java.io.File(s"$srcDir/_SLICED").exists) {
      graft.Shared.pruneSiblings(spark, sys.props("java.io.tmpdir"),
        s"${prefix}_${dirPart}_", srcName)
      fs.delete(new org.apache.hadoop.fs.Path(srcDir), true)
      arriving.filter(col(idCol) < 375)
        .coalesce(1).write.mode("append").parquet(srcDir)
      Thread.sleep(1100) // distinct mtimes -> deterministic batch order
      arriving.filter(col(idCol) >= 375)
        .coalesce(1).write.mode("append").parquet(srcDir)
      alsoLand(srcDir)
      graft.plans.LandedCatalog.writeFile(fs,
        new org.apache.hadoop.fs.Path(s"$srcDir/_SLICED"), "ok")
    }
    srcDir
  }

  /** The logical name a gate lands its catalog under — keyed by the
    * source slices' own (prefix, dir, fingerprint) name so catalog
    * and slices regenerate together.
    */
  def catalogName(srcDir: String): String =
    s"stream_gate_${new org.apache.hadoop.fs.Path(srcDir).getName}"

  /** The prune prefix pairing [[catalogName]]: pins the gate AND the
    * scale dir but not the content fingerprint (the src name's last
    * `_`-segment), so a testdata regen drops exactly the stale
    * incarnations of THIS gate's catalog — never another scale's.
    */
  def catalogNamePrefix(srcDir: String): String = {
    val n = new org.apache.hadoop.fs.Path(srcDir).getName
    s"stream_gate_${n.substring(0, n.lastIndexOf('_') + 1)}"
  }

  /** Fresh per-(prefix, dir, process) sink/checkpoint base. */
  def gateBase(spark: SparkSession, dir: String, prefix: String): String = {
    val dirPart = dir.replaceAll("[^A-Za-z0-9]", "_")
    val base = s"${sys.props("java.io.tmpdir")}/${prefix}_${dirPart}_" +
      ProcessHandle.current().pid()
    graft.Shared.gcStaleSiblings(spark, sys.props("java.io.tmpdir"),
      s"${prefix}_", new org.apache.hadoop.fs.Path(base).getName)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    base
  }
}
