package graft.operators

import graft.core.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * Data-card column profiling — the per-column fact sheet (row counts,
 * null rates, cardinalities, ranges) a dataset release ships with and an
 * ingest gate alerts on. One row out per profiled column.
 *
 * Scale shape: counts/nulls/min/max for ALL columns come from ONE scan
 * (a single HashAggregate with k×3 expressions, melted afterwards from
 * the one aggregated row — never an unpivot of the input). Exact
 * distinct counts deliberately do NOT join that scan: k exact
 * count(DISTINCT) in one Aggregate makes Catalyst plan an Expand that
 * multiplies every input row k-fold through a SortAggregate (measured
 * 12s vs <1s at sf0.1). Instead each column gets its own pruned
 * single-column scan + two-phase distinct aggregate — on columnar
 * storage k column scans read the same bytes as one k-column scan, each
 * stays a HashAggregate, and the k tiny results assemble driver-free
 * via union + a k-row broadcast join. `exactDistinct = false` swaps in
 * approx_count_distinct (HLL++, no Expand, single scan) for the 100 TB
 * nightly where exactness isn't worth a per-column pass.
 */
object Profile {

  /**
   * @param numCols columns profiled numerically (min/max as round-4
   *                doubles; any numeric type)
   * @param strCols columns profiled lexically (min/max as strings)
   * @return (column, n_rows, n_nulls, n_distinct, min_num, max_num,
   *         min_str, max_str) — the num/str min-max pair not applicable
   *         to a column's kind is null
   */
  def profile(df: DataFrame, numCols: Seq[String], strCols: Seq[String],
      exactDistinct: Boolean = true): DataFrame = {
    require((numCols ++ strCols).nonEmpty, "profile needs at least one column")
    require(numCols.intersect(strCols).isEmpty,
      "a column cannot be profiled both numerically and lexically")
    val all = numCols ++ strCols
    val aggs =
      count(lit(1)).as("_rows") +:
        (all.map { c => count(col(c)).as(s"_nn_$c") } ++
          numCols.flatMap { c =>
            Seq(round(min(col(c)).cast("double"), 4).as(s"_min_$c"),
              round(max(col(c)).cast("double"), 4).as(s"_max_$c"))
          } ++
          strCols.flatMap { c =>
            Seq(min(col(c)).as(s"_min_$c"), max(col(c)).as(s"_max_$c"))
          } ++
          (if (exactDistinct) Nil
           else all.map { c =>
             approx_count_distinct(col(c)).cast(LongType).as(s"_nd_$c")
           }))
    val one = df.agg(aggs.head, aggs.tail: _*)
    // melt the single aggregated row: one struct per profiled column,
    // exploded — cheap (k structs), type-unified up front
    val entries = all.map { c =>
      val isNum = numCols.contains(c)
      struct(
        lit(c).as("column"),
        col("_rows").as("n_rows"),
        (col("_rows") - col(s"_nn_$c")).as("n_nulls"),
        (if (exactDistinct) lit(null).cast(LongType) else col(s"_nd_$c"))
          .as("n_distinct"),
        (if (isNum) col(s"_min_$c") else lit(null).cast("double")).as("min_num"),
        (if (isNum) col(s"_max_$c") else lit(null).cast("double")).as("max_num"),
        (if (isNum) lit(null).cast("string") else col(s"_min_$c")).as("min_str"),
        (if (isNum) lit(null).cast("string") else col(s"_max_$c")).as("max_str"))
    }
    val base = one.select(explode(array(entries: _*)).as("p")).select(col("p.*"))
    if (!exactDistinct) base
    else {
      // one pruned-column scan + two-phase HashAggregate per column; the
      // k one-row results union into a tiny frame the melt joins against
      val nds = all.map { c =>
        df.select(col(c)).agg(countDistinct(col(c)).as("_nd"))
          .select(lit(c).as("column"), col("_nd"))
      }.reduce(_.unionByName(_))
      base.drop("n_distinct").join(broadcast(nds), Seq("column"))
        .withColumnRenamed("_nd", "n_distinct")
        .select("column", "n_rows", "n_nulls", "n_distinct",
          "min_num", "max_num", "min_str", "max_str")
    }
  }
  /**
   * Equi-width histogram of a numeric column over [lo, hi): `bins`
   * buckets of width (hi-lo)/bins, plus bucket -1 for underflow and
   * bucket `bins` for overflow; nulls are dropped. One map-side-
   * combinable aggregation over a scan-stage bucket expression — the
   * numeric-distribution half of a data card, at any corpus size one
   * shuffle of at most bins+2 rows per partition. Empty buckets emit no
   * row (both engines agree by construction).
   *
   * Bucket assignment is `floor((x-lo)/w)` on doubles: both engines
   * compute the identical IEEE expression, so boundary values land
   * identically. Choose lo/hi/bins so w is binary-exact (e.g. 5000)
   * when hash-identical bounds matter. The in-range bin is clamped to
   * bins-1: with an inexact w, a value one ulp below hi can round its
   * quotient UP to exactly `bins`, which would silently merge it into
   * the overflow bucket — the clamp keeps in-range values in-range
   * (mirrored in the oracle SQL).
   */
  def histogram(df: DataFrame, valueCol: String, lo: Double, hi: Double,
      bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive: $bins")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    val w = (hi - lo) / bins
    val v = col(valueCol).cast("double")
    val bin = when(v < lo, lit(-1))
      .when(v >= hi, lit(bins))
      .otherwise(least(floor((v - lo) / w), lit((bins - 1).toDouble)).cast("int"))
    df.filter(v.isNotNull)
      .select(bin.as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("bin"), col("n"),
        round(lit(lo) + col("bin") * w, 6).as("bin_lo"),
        round(lit(lo) + (col("bin") + 1) * w, 6).as("bin_hi"))
  }
  /**
   * Equi-height (quantile) histogram: `bins` buckets holding ~equal row
   * counts. Boundaries come from one EXACT percentile aggregation,
   * rounded to `roundTo` decimals — the hash-stable contract both
   * engines share (exact percentile matches quantile_cont at the
   * rounding precision; see q20_percentiles) — and fold into the
   * bucketing scan as plan literals. Bucket b covers
   * (q_b, q_{b+1}]; the last bucket is open above. `hi_bound` is the
   * bucket's upper boundary (null for the last). Nulls drop. Two scans
   * total; boundaries come from [[exactQuantiles]] — the distributed
   * value-at-rank form — so no task holds the full distinct-value state
   * the `percentile` aggregate's single reducer kept (still O(distinct
   * values) total work; [[equiHeightHistogramSampled]] remains the form
   * that bounds even that).
   */
  def equiHeightHistogram(df: DataFrame, valueCol: String, bins: Int = 4,
      roundTo: Int = 2): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    val v = col(valueCol).cast("double")
    val d = df.filter(v.isNotNull)
    val ps = (1 until bins).map(i => i.toDouble / bins)
    val bounds = exactQuantiles(d, valueCol, ps).map(x =>
      BigDecimal(x).setScale(roundTo, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // duplicate rounded boundaries would make the when-chain skip a bin
    // entirely — a data card silently missing buckets. Fail loudly: the
    // caller should lower `bins` or raise `roundTo` for this distribution.
    require(bounds.distinct.size == bounds.size,
      s"equi-height histogram: percentile boundaries collide after " +
        s"rounding to $roundTo decimals (${bounds.mkString(", ")}) — " +
        "reduce bins or increase roundTo")
    val bin = bounds.zipWithIndex.foldRight(lit(bins - 1)) {
      case ((b, i), acc) => when(v <= b, lit(i)).otherwise(acc)
    }
    val hi = bounds.zipWithIndex.foldLeft(lit(null).cast("double")) {
      case (acc, (b, i)) => when(col("bin") === i, lit(b)).otherwise(acc)
    }
    d.select(bin.as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .withColumn("hi_bound", hi)
  }

  /**
   * Exact quantiles with Spark `percentile` semantics (linear
   * interpolation at rank p*(N-1) over the ascending multiset), computed
   * DISTRIBUTED instead of through the aggregate's single-reducer
   * value→count map: (1) one map-side-combinable groupBy(value) count,
   * (2) a range repartition of the DISTINCT values, (3) a two-phase
   * prefix sum (per-partition masses → driver offsets → straddling-value
   * pick), so no single task ever holds or sorts the full distinct-value
   * state — the scaling hazard the old boundary pass documented. Driver
   * state is #partitions longs + 2·|ps| picked values (the same
   * bounded-collect contract as the bulk sink's manifest gathers).
   * Interpolation reproduces Percentile.getPercentile arithmetic exactly
   * (pinned ulp-for-ulp against the aggregate in OperatorsSpec).
   */
  private[graft] def exactQuantiles(df: DataFrame, valueCol: String,
      ps: Seq[Double]): Seq[Double] = {
    require(ps.nonEmpty, "exactQuantiles needs at least one percentage")
    val spark = df.sparkSession
    val v = col(valueCol).cast("double")
    val cnt = df.filter(v.isNotNull).select(v.as("_v"))
      .groupBy(col("_v")).agg(count(lit(1)).as("_c"))
    val parts = math.max(2, spark.sparkContext.defaultParallelism)
    // ONE cached RDD instance serves both passes (mass, pick) — the
    // packBlocks pattern: the mass pass materializes the cache in ITS
    // job (one fewer driver-sequenced job than the r20 eager-checkpoint
    // form), the pick pass reads blocks, and the cache is released
    // deterministically in the finally instead of pinning checkpoint
    // blocks for the session. A single RDD instance also guarantees both
    // passes see the SAME range-partition boundaries (they come from
    // sampling). Materialize.Level spills: an evicted partition is
    // re-read, not re-sorted.
    Materialize.cached(cnt.repartitionByRange(parts, col("_v"))
      .sortWithinPartitions(col("_v"))
      .rdd) { sorted =>
      val masses = sorted.mapPartitionsWithIndex { (pid, it) =>
        var s = 0L
        it.foreach(r => s += r.getLong(1))
        Iterator((pid, s))
      }.collect().sortBy(_._1).map(_._2)
      val total = masses.sum
      require(total > 0,
        s"equi-height histogram: column '$valueCol' has no non-null values")
      val offsets = masses.scanLeft(0L)(_ + _)
      val positions = ps.map(_ * (total - 1)) // Percentile's 0-based rank
      val needed = positions
        .flatMap(p => Seq(math.floor(p).toLong, math.ceil(p).toLong))
        .distinct.sorted.toArray
      val found = sorted.mapPartitionsWithIndex { (pid, it) =>
        var cum = offsets(pid)
        var k = {
          val s = java.util.Arrays.binarySearch(needed, cum)
          if (s >= 0) s else -s - 1
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
        while (it.hasNext && k < needed.length) {
          val r = it.next()
          val c = r.getLong(1)
          while (k < needed.length && needed(k) < cum + c) {
            out += ((needed(k), r.getDouble(0)))
            k += 1
          }
          cum += c
        }
        out.iterator
      }.collect().toMap
      positions.map { pos =>
        val lower = math.floor(pos).toLong
        val higher = math.ceil(pos).toLong
        if (higher == lower) found(lower)
        // Percentile.getPercentile's exact expression (term order matters
        // only in the last ulp — and the spec pins even that)
        else (higher - pos) * found(lower) + (pos - lower) * found(higher)
      }
    }
  }

  /** The boundary pass of [[equiHeightHistogramSampled]], exposed so
    * PlanSpec can pin its shape: a scan-stage md5 filter into ONE
    * percentile aggregate whose state is sample-sized — no SortAggregate,
    * no full-corpus sorted state. */
  private[graft] def sampledBoundaries(d: DataFrame, valueCol: String,
      idCol: String, bins: Int, keepPerMille: Int): DataFrame = {
    val sampled = d.filter(
      (conv(substring(md5(concat(lit("ehist:"), col(idCol).cast("string"))),
        1, 8), 16, 10).cast("long") % 1000) < keepPerMille)
    val ps = (1 until bins).map(i => i.toDouble / bins)
    sampled.agg(expr(s"percentile(`$valueCol`, array(${ps.mkString(", ")}))"))
  }

  /**
   * The 100 TB form of [[equiHeightHistogram]]: boundaries come from a
   * DETERMINISTIC md5-keyed row sample (`keepPerMille`/1000 of rows, by
   * the first 8 hex chars of md5("ehist:" + id) — the same
   * engine-portable bucket scheme as [[Curate]]'s splits), so the exact
   * percentile's value->count state is bounded by the SAMPLE size, not
   * the corpus: at any data volume the boundary pass is a pruned
   * two-column scan plus a sample-sized aggregate, never a full-corpus
   * sorted/keyed state (the scaling hazard the exact form documents).
   *
   * Unlike `approx_percentile` (whose GK-sketch output is
   * engine-specific and therefore only boolean-checkable, the q20b
   * trade), the md5 sample is bit-reproducible in ANY engine with md5 —
   * the oracle recomputes the same sample, the same quantile_cont
   * boundaries, the same buckets, and the whole histogram hash-matches.
   * Boundaries drift O(1/sqrt(sample)) from the true quantiles;
   * bucket counts are exact counts of the full data against those
   * sampled boundaries.
   *
   * @param idCol sampling key — any stable id column; rows are sampled
   *              by md5 of its string form, so the sample (and thus the
   *              histogram) is identical across runs, engines, and
   *              cluster sizes
   */
  def equiHeightHistogramSampled(df: DataFrame, valueCol: String,
      idCol: String, bins: Int = 4, roundTo: Int = 2,
      keepPerMille: Int = 50): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    require(keepPerMille > 0 && keepPerMille <= 1000,
      s"keepPerMille must be in (0, 1000]: $keepPerMille")
    val v = col(valueCol).cast("double")
    val d = df.filter(v.isNotNull)
    val row = sampledBoundaries(d, valueCol, idCol, bins, keepPerMille).head()
    require(!row.isNullAt(0),
      s"sampled equi-height histogram: the md5 sample of '$valueCol' is " +
        "empty — raise keepPerMille or check the input")
    val bounds = row.getSeq[Double](0).map(x =>
      BigDecimal(x).setScale(roundTo, BigDecimal.RoundingMode.HALF_UP).toDouble)
    require(bounds.distinct.size == bounds.size,
      s"sampled equi-height histogram: boundaries collide after rounding " +
        s"to $roundTo decimals (${bounds.mkString(", ")}) — reduce bins " +
        "or increase roundTo")
    val bin = bounds.zipWithIndex.foldRight(lit(bins - 1)) {
      case ((b, i), acc) => when(v <= b, lit(i)).otherwise(acc)
    }
    val hi = bounds.zipWithIndex.foldLeft(lit(null).cast("double")) {
      case (acc, (b, i)) => when(col("bin") === i, lit(b)).otherwise(acc)
    }
    d.select(bin.as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .withColumn("hi_bound", hi)
  }
}
