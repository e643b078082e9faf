package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Time-series downsampling to fixed buckets — the OHLC ("bars") shape a
 * metrics/telemetry pipeline rolls raw events into before retention
 * tiers: per key and bucket, the chronologically first (open) and last
 * (close) values plus extremes and volume.
 *
 * One map-side-combinable aggregation: open/close ride on `min_by`/
 * `max_by` over the event-time column, so the whole bar reduces
 * per-partition before the exchange — no window, no sort, the shuffle
 * carries one row per (key, bucket) per partition at any event volume.
 */
object Resample {

  /**
   * @param tsUsCol  epoch-micros BIGINT event time (see
   *                 [[graft.core.EventTime]]). Determinism of open/close
   *                 requires it to be unique per (key, bucket) — pass a
   *                 uniquified expression column if raw times can tie.
   *                 Must be NON-NEGATIVE (post-1970): bucketing uses
   *                 Spark `div` (truncation toward zero) while SQL
   *                 engines' `//` floors, so pre-1970 micros would put
   *                 the two engines in different buckets AND label the
   *                 bucket above the value. Pre-1970 data needs a
   *                 floor-division bucket expression on both sides.
   * @return (keyCols..., bucket_us, open, close, high, low, n, sum_value)
   */
  def ohlcBars(events: DataFrame, keyCols: Seq[String], tsUsCol: String,
      valueCol: String, bucketMicros: Long): DataFrame = {
    require(bucketMicros > 0, s"bucketMicros must be positive: $bucketMicros")
    events
      .withColumn("bucket_us",
        expr(s"`$tsUsCol` div ${bucketMicros}L") * bucketMicros)
      .groupBy(keyCols.map(col) :+ col("bucket_us"): _*)
      .agg(
        min_by(col(valueCol), col(tsUsCol)).as("open"),
        max_by(col(valueCol), col(tsUsCol)).as("close"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        count(lit(1)).as("n"),
        round(sum(col(valueCol)), 2).as("sum_value"))
  }
}
