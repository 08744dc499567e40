package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Command-session replay (SURVEY §3.2): the 9-opcode session state
  * machine (`server/client_session.c:456-575`) folded over ordered
  * command streams — per session, running byte accounting per
  * direction, termination on EXIT/SHUTDOWN, unknown opcodes ignored
  * (the reference's `default: continue`).
  *
  * Batch realization: groupByKey + sorted in-group fold (mapGroups) —
  * one shuffle on session_id, state O(1) per session.
  */
object Sessions {

  // opcodes (client_session.h:64-72)
  val Upload = 1; val Execute = 2; val Download = 4; val Delete = 5
  val Shutdown = 6; val Shell = 8; val Exit = 10

  case class Command(session_id: String, seq: Int, opcode: Int, path: String, size: Long)

  case class SessionSummary(
      session_id: String,
      n_commands: Int,
      n_ignored: Int,       // unknown opcodes skipped, not fatal
      bytes_up: Long,       // UPLOAD accounting (received += ..., client_session.c:157-181)
      bytes_down: Long,     // DOWNLOAD accounting
      executed: Int,
      deleted: Int,
      terminated: Boolean,  // EXIT/SHUTDOWN seen
      last_seq: Int)        // commands after termination are not applied

  /** Fold one ordered command stream into its summary. */
  def replayOne(sessionId: String, cmds: Iterator[Command]): SessionSummary = {
    var n = 0; var ignored = 0; var up = 0L; var down = 0L
    var exec = 0; var del = 0; var term = false; var lastSeq = -1
    cmds.toSeq.sortBy(_.seq).foreach { c =>
      n += 1
      if (!term) {
        lastSeq = c.seq
        c.opcode match {
          case Upload   => up += c.size
          case Download => down += c.size
          case Execute | Shell => exec += 1
          case Delete   => del += 1
          case Shutdown | Exit => term = true
          case _        => ignored += 1 // unknown → ignored (continue)
        }
      }
    }
    SessionSummary(sessionId, n, ignored, up, down, exec, del, term, lastSeq)
  }

  def replay(commands: Dataset[Command]): Dataset[SessionSummary] = {
    val spark = commands.sparkSession
    import spark.implicits._
    commands.groupByKey(_.session_id).mapGroups((id, it) => replayOne(id, it))
  }

  /** Gap sessionization, DAY-SHARDED for hot keys — the scale path
    * the skew rehearsal left as a design note: the plain event-level
    * window (`Window.partitionBy(user).orderBy(ts)`) serializes each
    * key into ONE task, so a hot implant owning 30% of a 100 TB
    * corpus sorts 30 TB in a single task. Sharding by day bounds the
    * per-task sort at (key × day) granularity; sessions that span a
    * shard boundary are split by construction and then MERGED by a
    * second gap-sessionization over the LOCAL SESSIONS themselves —
    * a per-key pass again, but over session-level rows (orders of
    * magnitude fewer than events; the contraction is what makes the
    * per-key step affordable). Result is row-identical to the
    * unsharded operator: sharding only cuts gap-chains at boundaries,
    * and the merge re-links exactly the cut chains (prev session's
    * end and next session's start are the boundary-adjacent event
    * times the unsharded chain would have compared).
    *
    * Aggregates merge losslessly: counts and DECIMAL byte sums add,
    * bounds min/max; the final round-to-double happens once, after
    * the merge, so values match the unsharded operator bit-for-bit.
    *
    * @return (user_id, session_no, n_cmds, bytes, started, ended) —
    *   the ig_session_stats schema; `session_no` numbers a user's
    *   merged sessions in time order.
    */
  def gapSessionsSharded(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", valueCol: String = "value",
      idCol: String = "event_id", gapMs: Long = 3600L * 1000,
      shardMs: Long = 24L * 3600 * 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = gapMs * 1000
    val us = unix_micros(col(tsCol))
    // pass 1: sessionize WITHIN each (key, day) shard — the event-level
    // sort runs at shard granularity, never the whole key
    val w1 = Window.partitionBy(userCol, "_shard").orderBy(tsCol, idCol)
    val local = events
      .withColumn("_shard", floor(us / lit(shardMs * 1000)).cast("long"))
      .withColumn("_prev", lag(us, 1).over(w1))
      .withColumn("_new",
        when(col("_prev").isNull || us - col("_prev") > gapUs, 1).otherwise(0))
      .withColumn("_sno", sum(col("_new")).over(
        w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("_shard"), col("_sno"))
      .agg(count(lit(1)).as("n_cmds"),
        sum(col(valueCol).cast("decimal(18,6)")).as("_bytes"),
        min(us).as("started"), max(us).as("ended"))
    // pass 2: merge boundary-spanning sessions — gap-sessionize the
    // local sessions per key (session-level rows)
    val w2 = Window.partitionBy(userCol).orderBy("started", "ended")
    local
      .withColumn("_pend", lag(col("ended"), 1).over(w2))
      .withColumn("_new",
        when(col("_pend").isNull || col("started") - col("_pend") > gapUs, 1)
          .otherwise(0))
      .withColumn("session_no", sum(col("_new")).over(
        w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("session_no"))
      .agg(sum(col("n_cmds")).as("n_cmds"),
        round(sum(col("_bytes")), 2).cast("double").as("bytes"),
        min(col("started")).as("started"), max(col("ended")).as("ended"))
      .orderBy(userCol, "session_no")
  }

  /** Deterministic command corpus derived from the events table (for
    * specs and the gate query): session per user, seq per event,
    * opcode cycling through the reference set plus an unknown code.
    */
  def syntheticCommands(spark: SparkSession, dir: String): Dataset[Command] = {
    import spark.implicits._
    val ops = Seq(Upload, Execute, Download, Delete, Shell, 7 /*unknown*/, Upload, Exit)
    graft.Tables.events(spark, dir)
      .select(
        concat(lit("sess-"), col("user_id")).as("session_id"),
        col("event_id").cast("int").as("seq"),
        element_at(typedLit(ops), (pmod(col("event_id"), lit(ops.size)) + 1).cast("int"))
          .as("opcode"),
        concat(lit("/path/"), col("event_id")).as("path"),
        (col("user_id") % 4096).as("size"))
      .as[Command]
  }
}
