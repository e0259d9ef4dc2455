package graft.feat

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** North-rule transcript feature pack (BASELINE.json:north_star): lag/lead,
  * per-role rolling aggregates, tool-usage counts over TTL windows, and
  * sessionization by inactivity gap. The reference has no lag/lead/session
  * operators (SURVEY §2.5) — these are the Catalyst Window idioms its users
  * would need on transcript data.
  *
  * All windows partition by conv_id (and role for per-role), so the only
  * shuffle is a hash partition on the conversation key — the natural
  * distribution key at 10^12 turns. Range frames order by epoch
  * microseconds (a long) so frames are exact and codegen-friendly.
  *
  * [[withToolUsage]] and [[withSessions]] append their columns to the whole
  * input row instead of selecting (conv_id, turn_idx) and features, so a
  * caller chains them over one shuffle with no join back on the keys
  * ([[graft.engine.Backfill.dailyFeatureJob]]); [[toolUsage]] and
  * [[sessionize]] are their projections.
  */
object TranscriptFeatures {

  private def us(c: String) = unix_micros(col(c).cast("timestamp"))

  /** lag/lead features per turn: previous role, previous ts gap, next gap.
    * Gaps in exact epoch microseconds.
    */
  def lagLead(transcript: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    transcript.select(
      col("conv_id"), col("turn_idx"), col("role"),
      lag(col("role"), 1).over(w).as("prev_role"),
      lead(col("role"), 1).over(w).as("next_role"),
      (us("ts") - lag(us("ts"), 1).over(w)).as("gap_prev_us"),
      (lead(us("ts"), 1).over(w) - us("ts")).as("gap_next_us"))
  }

  /** Per-role rolling aggregate: avg/count of `valueCol` over the trailing
    * `windowSec` seconds *within the same (conv_id, role)* stream.
    */
  def rollingPerRole(transcript: DataFrame, valueCol: String, windowSec: Long): DataFrame = {
    val w = Window.partitionBy(col("conv_id"), col("role"))
      .orderBy(us("ts"))
      .rangeBetween(-windowSec * 1000000L, 0L)
    transcript.select(
      col("conv_id"), col("turn_idx"), col("role"),
      count(col(valueCol)).over(w).as("role_cnt_w"),
      sum(col(valueCol)).over(w).as("role_sum_w"),
      avg(col(valueCol)).over(w).as("role_avg_w"))
  }

  /** Tool-usage count over a trailing TTL window per conversation:
    * count(tool) skips non-tool turns (tool is null there).
    */
  def toolUsage(transcript: DataFrame, windowSec: Long): DataFrame =
    withToolUsage(transcript, windowSec)
      .select("conv_id", "turn_idx", "tool_cnt_w", "turn_cnt_w")

  /** [[toolUsage]]'s counts appended to every column of `transcript`: one
    * window sorted on (conv_id, ts), no narrowing select.
    */
  def withToolUsage(transcript: DataFrame, windowSec: Long): DataFrame = {
    val w = Window.partitionBy(col("conv_id"))
      .orderBy(us("ts"))
      .rangeBetween(-windowSec * 1000000L, 0L)
    transcript.select(col("*"),
      count(col("tool")).over(w).as("tool_cnt_w"),
      count(lit(1)).over(w).as("turn_cnt_w"))
  }

  /** Sessionization by inactivity gap: session_id = running count of gaps
    * greater than `gapSec` (cumulative-sum-of-gap-flags; SURVEY §2.5 last
    * row), plus the turn's 1-based position inside its session.
    */
  def sessionize(transcript: DataFrame, gapSec: Long): DataFrame =
    withSessions(transcript, gapSec)
      .select("conv_id", "turn_idx", "session_id", "turn_in_session")

  /** [[sessionize]]'s columns appended to every column of `transcript`.
    * Every window orders by (conv_id, turn_idx), so they share one sort: a
    * session is a contiguous run of that order (session_id never falls), so
    * the position inside it is the conversation row number minus the row
    * number at the session's start, plus one — no second window keyed by
    * (conv_id, session_id) and no second sort.
    */
  def withSessions(transcript: DataFrame, gapSec: Long): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val upToHere = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    transcript
      .select(col("*"),
        row_number().over(w).as("__rn"),
        when(us("ts") - lag(us("ts"), 1).over(w) > gapSec * 1000000L, 1L)
          .otherwise(0L).as("__new_session"))
      .select(col("*"),
        sum(col("__new_session")).over(upToHere).as("session_id"),
        max(when(col("__new_session") === 1L, col("__rn")).otherwise(1))
          .over(upToHere).as("__session_start"))
      .withColumn("turn_in_session", col("__rn") - col("__session_start") + 1)
      .drop("__rn", "__new_session", "__session_start")
  }
}
