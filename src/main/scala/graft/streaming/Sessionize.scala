package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Sessionization: group a user's events into sessions separated by a gap.
 * Two equivalent batch forms:
 *
 *  - a lag/cumulative-sum window (one shuffle on user_id, pure
 *    Catalyst, any scale);
 *  - Spark's built-in `session_window` aggregation.
 */
object Sessionize {

  /**
   * Batch sessionization over (user_id, ts, event_id): a session breaks
   * when the gap to the previous event exceeds `gap`. `ts` must be an
   * integral epoch column; the time UNIT is the caller's — `gap` is
   * interpreted in the same unit as `ts` (callers on the epoch-micros
   * contract pass a micros gap; see core.EventTime). Deterministic
   * ordering tiebreak on event_id.
   */
  def sessionizeBatch(events: DataFrame, gap: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val newSession = when(
      col("ts") - lag(col("ts"), 1).over(w) > gap, 1).otherwise(0)
    events
      .withColumn("_new", newSession)
      .withColumn("session_id",
        sum(col("_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
  }

  // ---- built-in session_window form ----------------------------------

  /**
   * Spark-first sessionization via the native `session_window` operator —
   * the form to prefer when the per-session output is an aggregate.
   *
   * Gap-boundary semantics differ from [[sessionizeBatch]] by design of
   * the built-in: `session_window` merges an event at strictly LESS than
   * gap after the previous one, while the lag form merges at <=. Pass
   * `gapMicros + 1` here to reproduce `sessionizeBatch(gapMicros)`
   * exactly (pinned in StreamingSpec).
   *
   * Input contract: `ts` is epoch-micros BIGINT (core.EventTime). Output
   * (user_id, start_us, end_us, n_events), session bounds as observed
   * event times (min/max ts), not the padded window struct — matching
   * the batch form and the q14 oracle.
   */
  def sessionizeWindows(events: DataFrame, gapMicros: Long): DataFrame = {
    require(gapMicros >= 1, "gapMicros must be >= 1")
    events.withColumn("_event_time", timestamp_micros(col("ts")))
      .groupBy(col("user_id"),
        session_window(col("_event_time"), s"$gapMicros microseconds"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("start_us"), max(col("ts")).as("end_us"))
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
  }
}
