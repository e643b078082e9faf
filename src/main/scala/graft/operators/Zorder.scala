package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Z-order (space-filling-curve) clustering for multi-column data
 * skipping — what Delta's OPTIMIZE ZORDER BY and Iceberg's z-ordering do
 * for a lakehouse: sort/range-partition by the Morton-interleaved key
 * and every written file gets a TIGHT min/max range on every
 * participating column at once, so a predicate on ANY of them prunes
 * files — a plain sort serves only its leading column.
 *
 * Interleaving only localizes dimensions of comparable bit width, so
 * [[withZKey]] first scales each column to [0, 2^bits) from its
 * min/max (one tiny bounds aggregation; factors fold in as plan
 * literals — the Delta-style normalization), then applies the codegen'd
 * [[graft.functions.z_order]] kernel on the scan. The whole key
 * derivation is two scans (bounds + key) and zero extra shuffles; the
 * write's range partitioning is the one paid shuffle, amortized over
 * every pruned read after it, exactly like [[Bucketing]].
 */
object Zorder {

  /** Order-preserving numeric proxy used for z-interleaving only (stats
    * and residual predicates stay in the column's NATIVE type): numerics
    * cast to double, dates to epoch days, timestamps to epoch micros,
    * strings to their first-7-UTF8-bytes big-endian integer. UTF-8 byte
    * order equals Spark's binary string order, so the string proxy
    * preserves lexicographic order through the 7-byte prefix — longer
    * shared prefixes collapse into one z-cell, which only costs
    * clustering sharpness, never read correctness. TIMESTAMP_NTZ routes
    * through the session zone (monotone for a fixed zone; Verify/Bench
    * pin UTC), again clustering-only. */
  private[operators] def zProxy(df: DataFrame, c: String): Column = {
    val q = "`" + c.replace("`", "``") + "`"
    df.schema(c).dataType match {
      case _: NumericType => col(c).cast(DoubleType)
      case DateType => unix_date(col(c)).cast(DoubleType)
      case TimestampType => unix_micros(col(c)).cast(DoubleType)
      case TimestampNTZType =>
        unix_micros(col(c).cast(TimestampType)).cast(DoubleType)
      case StringType =>
        expr(s"conv(hex(rpad(encode($q, 'UTF-8'), 7, x'00')), 16, 10)")
          .cast(DoubleType)
      case dt => throw new IllegalArgumentException(
        s"z-order: unsupported type $dt for column '$c' — numeric, " +
          "date, timestamp, and string columns can be clustered")
    }
  }

  /** Adds `outCol` = the z-order key of `cols`, each min/max-scaled to
    * `bits` bits. A constant column scales to 0 (no information, no
    * divide-by-zero). */
  def withZKey(df: DataFrame, cols: Seq[String], outCol: String = "z",
      bits: Int = 16): DataFrame = {
    require(cols.size >= 2 && cols.size <= 6,
      s"z-order needs 2..6 columns, got ${cols.size}")
    require(bits >= 1 && bits * cols.size <= 62,
      s"bits=$bits x ${cols.size} dims must fit 62 bits")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(zProxy(df, c)).as(s"lo$i"), max(zProxy(df, c)).as(s"hi$i"))
    }
    val bounds = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.foreach { case (c, i) =>
      require(!bounds.isNullAt(2 * i) && !bounds.isNullAt(2 * i + 1),
        s"z-order: column '$c' has no non-null values (empty input?) — " +
          "cannot derive scaling bounds")
    }
    val top = (1L << bits) - 1
    val scaled: Seq[Column] = cols.zipWithIndex.map { case (c, i) =>
      val lo = bounds.getDouble(2 * i)
      val hi = bounds.getDouble(2 * i + 1)
      if (hi == lo) lit(0L)
      else floor((zProxy(df, c) - lit(lo)) * lit(top.toDouble / (hi - lo)))
        .cast(LongType)
    }
    df.withColumn(outCol, graft.functions.z_order(scaled: _*))
  }

  /** Writes `df` z-clustered on `cols`: range-partitioned into `files`
    * z-ranges, sorted by z within each — every output file covers a
    * contiguous curve segment, i.e. a tight hyper-rectangle in all
    * `cols`. The key column itself is dropped from the output. */
  def writeZOrdered(df: DataFrame, cols: Seq[String], path: String,
      files: Int, bits: Int = 16): Unit = {
    require(files > 0, s"files must be positive: $files")
    withZKey(df, cols, "_z", bits)
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }
}
