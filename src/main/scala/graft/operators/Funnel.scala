package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * First-touch funnel analysis over an event stream — the product-analytics
 * staple (signup→activation→purchase conversion) and, for training-data
 * pipelines, the canonical "ordered-sequence-within-window" shape (e.g.
 * crawl→parse→dedup-survive per document lineage).
 *
 * Semantics (the deterministic first-touch form): stage 1 matches each
 * user's EARLIEST stage-1 event at time t1; stage i>1 matches the earliest
 * stage-i event at-or-after the stage-(i-1) match, and the whole chain
 * must complete within `windowMicros` of t1. A user missing stage i has
 * t_i..t_k null. One output row per user that entered the funnel.
 *
 * Scale shape: stage i is one equi-join on the user key with the time
 * bounds as a residual predicate, followed by a min() aggregation — the
 * left side is the (monotonically shrinking) entrant set, the right side
 * a type-filtered scan whose `event_type = stage` predicate pushes down
 * to parquet. k stages cost k-1 joins, each shuffling only entrants +
 * one event type — never the full event log at once, no per-user
 * collect_list state, no window-function sort over the whole log.
 */
object Funnel {

  /**
   * @param events  event frame; `tsCol` must be epoch-micros BIGINT
   *                (normalize via [[graft.core.EventTime]])
   * @param stages  ordered distinct event-type names, length >= 1
   * @return one row per user with stage-1: (userCol, t1..tk, stages_reached)
   */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, stages: Seq[String], windowMicros: Long): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(stages.distinct.size == stages.size, "funnel stages must be distinct")
    require(windowMicros > 0, "windowMicros must be positive")
    var acc = events.filter(col(typeCol) === stages.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("t1"))
    for (i <- 2 to stages.size) {
      val si = events.filter(col(typeCol) === stages(i - 1))
        .select(col(userCol).as("_u"), col(tsCol).as("_ts"))
      val carried = acc.columns.toSeq
      // left join keeps users who stall at stage i-1 (their t_{i-1} is
      // null -> the join condition is null -> min over no rows -> null,
      // so nulls propagate through later stages for free)
      acc = acc.join(si,
          acc(userCol) === si("_u") && col("_ts") >= col(s"t${i - 1}") &&
            col("_ts") <= col("t1") + lit(windowMicros), "left")
        .groupBy(carried.map(col): _*)
        .agg(min(col("_ts")).as(s"t$i"))
    }
    val reached = stages.indices.map(i =>
      when(col(s"t${i + 1}").isNotNull, 1).otherwise(0)).reduce(_ + _)
    acc.withColumn("stages_reached", reached.cast(LongType))
  }
}
