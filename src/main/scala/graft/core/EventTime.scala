package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Schema-adaptive event-time normalization.
 *
 * The `events` testdata carries its `ts` column differently depending on
 * the writer/runtime pairing: older rounds read the nanosecond parquet
 * column as epoch-nanos BIGINT (via the since-removed
 * `spark.sql.legacy.parquet.nanosAsLong` conf), while current Spark reads
 * a `timestamp[us]`/`timestamp[ns]` parquet column as TIMESTAMP_NTZ.
 * Every query and every DuckDB oracle agrees on ONE contract: event time
 * as **epoch-microsecond BIGINT** (`epoch_us(ts)` on the oracle side).
 * This helper produces that contract whatever physical type the scan
 * yields, so no query depends on removed legacy confs or on which Spark
 * minor version mounted the data.
 *
 * The TIMESTAMP_NTZ branch decomposes the wall-clock value directly
 * (exact day count from the epoch DATE + hour/minute/fractional-second
 * parts) — genuinely timezone-free, deterministic regardless of
 * `spark.sql.session.timeZone`. A `timestampdiff`/`unix_micros` form
 * would NOT be: Catalyst coerces NTZ operands to TIMESTAMP via the
 * session zone, which shifts epochs by the 1970-vs-event offset delta
 * under a DST zone. All parts stay inside whole-stage codegen.
 */
object EventTime {

  /** Adds `outCol` = epoch-micros BIGINT derived from `tsCol`, keeping all
    * other columns. */
  def withTsUs(df: DataFrame, tsCol: String = "ts",
      outCol: String = "ts_us"): DataFrame = {
    // backquote the spliced name: an unquoted `expr()` splice would break
    // (or worse, misparse) on column names that aren't bare identifiers
    val q = "`" + tsCol.replace("`", "``") + "`"
    val us = df.schema(tsCol).dataType match {
      case LongType =>
        // legacy read: epoch-nanos long. FLOOR division (div truncates
        // toward zero) so a pre-epoch sub-microsecond instant lands on
        // the same micro as the NTZ branch and DuckDB's epoch_us do.
        expr(s"($q div 1000) + (CASE WHEN $q % 1000 < 0 THEN -1 ELSE 0 END)")
      case TimestampNTZType =>
        // tz-free: the NTZ wall clock IS the UTC instant (the oracle's
        // epoch_us semantics). datediff on DATEs is an exact day count;
        // extract(SECOND) carries the sub-second fraction as DECIMAL.
        expr(s"""datediff(cast($q as date), DATE '1970-01-01') * 86400000000L
                |  + hour($q) * 3600000000L + minute($q) * 60000000L
                |  + cast(extract(SECOND FROM $q) * 1000000 AS BIGINT)""".stripMargin)
      case TimestampType =>
        expr(s"unix_micros($q)")
      case other =>
        throw new IllegalArgumentException(
          s"unsupported event-time type for column '$tsCol': $other")
    }
    df.withColumn(outCol, us.cast(LongType))
  }

  /** Reads the events table with `ts` REPLACED by its epoch-micros BIGINT
    * form — for call sites whose downstream (window math, sessionization)
    * wants a plain long named `ts`. */
  def readEventsTsUsAs(df: DataFrame, as: String): DataFrame =
    withTsUs(df).drop("ts").withColumnRenamed("ts_us", as)
}
