package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.VecOuterAgg.vec_outer_agg
import graft.functions.vec_dot

/**
 * Distributed second-moment statistics over embedding columns:
 * covariance matrices and fixed-iteration PCA — the whitening /
 * dimension-reduction / drift-analysis primitives an embedding pipeline
 * runs before ANN indexing or quantization.
 *
 * Everything reduces to ONE corpus scan through [[graft.functions.VecOuterAgg]]
 * (bounded d+d² state per partition, merged map-side); the d×d result is
 * a driver-side matrix small enough to eigensolve locally (d=64 → 32 KB)
 * — the same "aggregate distributed, solve tiny problem on driver,
 * broadcast back" shape as k-means in [[Similarity.semanticDedup]].
 */
object Stats {

  /**
   * Population covariance upper triangle as rows `(i, j, cov)`, 1-based,
   * `i <= j`, rounded to `roundTo` decimals (the rounding is part of the
   * contract: downstream fixed-iteration solvers on BOTH engines iterate
   * on identical matrices, so float-summation-order noise cannot leak
   * into compared results).
   *
   * cov(i,j) = Σxᵢxⱼ/n − (Σxᵢ/n)(Σxⱼ/n), computed from one
   * vec_outer_agg pass; the d² explode happens on the single aggregated
   * row, never per input vector.
   */
  def covariance(embs: DataFrame, vecCol: String, roundTo: Int = 6): DataFrame =
    embs.agg(vec_outer_agg(col(vecCol)).as("_o"))
      .select(col("_o.n").as("_n"), col("_o.sums").as("_s"),
        posexplode(col("_o.outer")).as(Seq("_idx", "_xy")))
      .withColumn("_d", size(col("_s")))
      .withColumn("_i", expr("_idx div _d"))
      .withColumn("_j", expr("_idx % _d"))
      .filter(col("_i") <= col("_j"))
      .select((col("_i") + 1).cast(LongType).as("i"),
        (col("_j") + 1).cast(LongType).as("j"),
        // + 0.0 normalizes IEEE -0.0 to +0.0 (x + 0.0 is the identity on
        // every other double): Spark's BigDecimal-backed round already
        // yields +0.0 but DuckDB's C round keeps the sign, so both engines
        // pin the same canonical zero for hash comparison
        (round(col("_xy") / col("_n") -
          (element_at(col("_s"), (col("_i") + 1).cast("int")) / col("_n")) *
          (element_at(col("_s"), (col("_j") + 1).cast("int")) / col("_n")),
          roundTo) + lit(0.0)).as("cov"))

  /**
   * Per-group ordinary-least-squares trend of `yCol` over `xCol` — the
   * "is this metric drifting" readout: slope/intercept/r² per group from
   * ONE map-side-combinable moment aggregation (n, Σx, Σy, Σxy, Σx²,
   * Σy²), closed form, no iteration:
   *
   *   slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
   *   intercept = (Σy − slope·Σx) / n
   *   r² = (nΣxy − ΣxΣy)² / ((nΣx² − (Σx)²)(nΣy² − (Σy)²))
   *
   * Pre-scale x to O(1)-O(1e3) magnitudes (e.g. days since corpus start,
   * not raw epoch micros) — the moment cancellations stay far above the
   * round-6 output quantum there. Degenerate groups (n < 2, zero x
   * variance) yield null; zero y variance yields slope 0 with null r².
   */
  def olsTrend(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val xc = col(xCol).cast("double")
    val yc = col(yCol).cast("double")
    val m = df.filter(xc.isNotNull && yc.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(xc).as("sx"), sum(yc).as("sy"),
        sum(xc * yc).as("sxy"), sum(xc * xc).as("sxx"),
        sum(yc * yc).as("syy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    val slope = num / dx
    val defined = col("n") >= 2 && dx > 0
    m.select(col(groupCol), col("n"),
      when(defined, round(slope, 6) + lit(0.0)).as("slope"),
      when(defined,
        round((col("sy") - slope * col("sx")) / col("n"), 6) + lit(0.0))
        .as("intercept"),
      when(defined && dy > 0,
        round(num * num / (dx * dy), 6)).as("r2"))
  }

  /**
   * Pearson correlation matrix of k numeric columns from the SAME single
   * [[covariance]] pass (columns pack into one array, so the corpus is
   * scanned once whatever k is): upper triangle `(col_i, col_j, corr)`
   * with corr = cov/sqrt(var_i*var_j) derived from the round-6
   * covariances — a pure function of already-hash-stable values, so the
   * matrix reproduces cross-engine. The d² normalization joins touch
   * k(k+1)/2 rows, never the corpus.
   *
   * Columns should be pre-scaled to O(1)-O(100) magnitudes (correlation
   * is scale-invariant, and round-6 covariances of ~1e9-magnitude values
   * would carry summation-order noise past the rounding quantum).
   * Constant columns (variance 0) yield null corr rather than ±Inf.
   */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need >= 2 columns, got ${cols.size}")
    val packed = df.select(
      array(cols.map(c => col(c).cast("double")): _*).as("_v"))
    val cov = covariance(packed, "_v")
    val diag = cov.filter(col("i") === col("j"))
      .select(col("i").as("_d"), col("cov").as("_var"))
    val names = typedLit(cols)
    cov
      .join(diag.withColumnRenamed("_d", "i").withColumnRenamed("_var", "_vi"), "i")
      .join(diag.withColumnRenamed("_d", "j").withColumnRenamed("_var", "_vj"), "j")
      .select(
        element_at(names, col("i").cast("int")).as("col_i"),
        element_at(names, col("j").cast("int")).as("col_j"),
        when(col("_vi") > 0 && col("_vj") > 0,
          round(col("cov") / sqrt(col("_vi") * col("_vj")), 6) + lit(0.0))
          .as("corr"))
  }

  /**
   * Welch's unequal-variance t-test per metric group — the A/B experiment
   * readout: for each `metricCol` group, compare `valueCol` between the
   * two `variantCol` populations. One map-side-combinable aggregation
   * computes (n, Σx, Σx²) per (metric, variant); mean/variance/t/df
   * derive in closed form from those three moments — the same textbook
   * formulas an independent engine reproduces, with the final statistics
   * rounded for cross-engine hashing. No sampling, no iteration: the
   * whole test is one shuffle of six numbers per (metric, variant) per
   * partition at any event volume.
   *
   *   t  = (m_a - m_b) / sqrt(v_a/n_a + v_b/n_b)
   *   df = (v_a/n_a + v_b/n_b)² / ((v_a/n_a)²/(n_a-1) + (v_b/n_b)²/(n_b-1))
   *
   * Variance uses the moment form (Σx² - n·m²)/(n-1) — catastrophic
   * cancellation is bounded by the round-4 output contract for metric
   * scales up to ~1e6. Groups where either variant has n < 2 or both
   * variances are 0 yield null t/df rather than ±Inf/NaN.
   */
  def welchTTest(df: DataFrame, metricCol: String, variantCol: String,
      valueCol: String, variantA: String, variantB: String): DataFrame = {
    val x = col(valueCol).cast("double")
    def side(v: String, tag: String) = Seq(
      sum(when(col(variantCol) === v, lit(1L)).otherwise(lit(0L))).as(s"n_$tag"),
      sum(when(col(variantCol) === v, x).otherwise(lit(0.0))).as(s"s_$tag"),
      sum(when(col(variantCol) === v, x * x).otherwise(lit(0.0))).as(s"q_$tag"))
    val aggs = side(variantA, "a") ++ side(variantB, "b")
    val m = df.filter(col(variantCol).isin(variantA, variantB) && x.isNotNull)
      .groupBy(col(metricCol))
      .agg(aggs.head, aggs.tail: _*)
    def mean(t: String) = col(s"s_$t") / col(s"n_$t")
    def vr(t: String) =
      (col(s"q_$t") - col(s"n_$t") * mean(t) * mean(t)) / (col(s"n_$t") - 1)
    val se2 = vr("a") / col("n_a") + vr("b") / col("n_b")
    val tStat = (mean("a") - mean("b")) / sqrt(se2)
    val dfW = (se2 * se2) /
      ((vr("a") / col("n_a")) * (vr("a") / col("n_a")) / (col("n_a") - 1) +
        (vr("b") / col("n_b")) * (vr("b") / col("n_b")) / (col("n_b") - 1))
    val defined = col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0
    m.select(col(metricCol),
      col("n_a"), col("n_b"),
      round(mean("a"), 4).as("mean_a"), round(mean("b"), 4).as("mean_b"),
      when(defined, round(tStat, 4)).as("t"),
      when(defined, round(dfW, 4)).as("df"))
  }

  /**
   * Top-k principal components by the power method + Hotelling
   * deflation. Each component takes exactly `iterations` unnormalized
   * multiplies v ← Cv from the uniform start 1/√d, one final L2
   * normalization, rounded to 8 decimals, sign fixed so the
   * largest-|·| entry (lowest index on ties) is positive. Deterministic
   * by construction — fixed iteration count (like [[Graph.pageRank]]'s
   * fixed 5), covariance pre-rounded by [[covariance]]'s contract, and
   * the driver loop sums in index order. After extracting component v
   * with Rayleigh eigenvalue λ = vᵀCv (rounded to 8), the matrix
   * deflates to C − λ·vvᵀ and is RE-ROUNDED to [[covariance]]'s 6
   * decimals before the next component's iterations — every matrix any
   * engine iterates on is a pure function of already-rounded values, so
   * the whole decomposition reproduces bit-for-bit at the rounding
   * precision (deflation arithmetic is kept left-associative
   * `λ·vᵢ·vⱼ`, matching the SQL oracle's evaluation order).
   *
   * The d×d collect is the legitimate driver step (2080 upper-triangle
   * rows at d=64), mirrored to a full matrix locally.
   */
  private[graft] def topComponents(embs: DataFrame, vecCol: String, k: Int,
      iterations: Int = 16): Seq[Array[Double]] =
    topComponentsWithValues(embs, vecCol, k, iterations).map(_._1)

  /** [[topComponents]] plus each component's Rayleigh eigenvalue
    * (round-8, computed against the matrix the component was extracted
    * FROM — the original covariance for v1, the deflated remainder for
    * v2, ...). The same quantity the oracle's `lamK` CTEs compute, so
    * variance-explained summaries hash-check cross-engine. */
  private def topComponentsWithValues(embs: DataFrame, vecCol: String, k: Int,
      iterations: Int = 16): Seq[(Array[Double], Double)] =
    solveComponents(collectCov(embs, vecCol), k, iterations)

  /** ONE covariance collect feeding every driver-side solve — callers
    * that need both components and the trace must not scan twice. */
  private def collectCov(embs: DataFrame, vecCol: String) = {
    val tri = covariance(embs, vecCol).collect()
    require(tri.nonEmpty, "topComponents: no vectors")
    tri
  }

  private def solveComponents(
      tri: Array[org.apache.spark.sql.Row], k: Int,
      iterations: Int): Seq[(Array[Double], Double)] = {
    require(k >= 1, "k must be >= 1")
    require(iterations >= 1, "iterations must be >= 1")
    val d = tri.iterator.map(_.getLong(1)).max.toInt
    val c = Array.ofDim[Double](d, d)
    tri.foreach { r =>
      val (i, j, v) = (r.getLong(0).toInt - 1, r.getLong(1).toInt - 1, r.getDouble(2))
      c(i)(j) = v; c(j)(i) = v
    }
    def round(x: Double, scale: Int): Double =
      BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
    def power(): Array[Double] = {
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      for (_ <- 1 to iterations) {
        val w = new Array[Double](d)
        var i = 0
        while (i < d) {
          var s = 0.0
          var j = 0
          while (j < d) { s += c(i)(j) * v(j); j += 1 }
          w(i) = s
          i += 1
        }
        v = w
      }
      val norm = math.sqrt(v.map(x => x * x).sum)
      require(norm > 0, "topComponents: power iteration collapsed to zero " +
        "(rank-deficient rounded covariance orthogonal to the start vector)")
      val vr = v.map(x => round(x / norm, 8))
      val lead = vr.indices.maxBy(i => (math.abs(vr(i)), -i))
      if (vr(lead) < 0) vr.map(-_) else vr
    }
    (1 to k).map { ki =>
      val v = power()
      // Rayleigh quotient Σᵢⱼ vᵢ·c(i,j)·vⱼ, rounded like the oracle's
      var lam = 0.0
      for (i <- 0 until d; j <- 0 until d) lam += v(i) * c(i)(j) * v(j)
      val lamR = round(lam, 8)
      if (ki < k) {
        for (i <- 0 until d; j <- 0 until d)
          c(i)(j) = round(c(i)(j) - lamR * v(i) * v(j), 6)
      }
      (v, lamR)
    }
  }

  /**
   * k-component variance decomposition as a tiny summary frame
   * `(component, lambda, trace, explained)` — the "how many components
   * carry this corpus" report. ONE covariance collect serves both the
   * eigensolve and the trace (round-6 sum of the already-round-6
   * diagonal; the quantum dwarfs summation-order ulps so the value is
   * engine- and order-stable). `explained = round(lambda/trace, 6)`.
   */
  def pcaSummary(embs: DataFrame, vecCol: String, k: Int,
      iterations: Int = 16): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val tri = collectCov(embs, vecCol)
    val comps = solveComponents(tri, k, iterations)
    var tr = 0.0
    tri.foreach { r => if (r.getLong(0) == r.getLong(1)) tr += r.getDouble(2) }
    val trace = BigDecimal(tr)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    comps.zipWithIndex.map { case ((_, lam), i) =>
      (i + 1L, lam, trace, BigDecimal(lam / trace)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("component", "lambda", "trace", "explained")
  }

  /**
   * Projects every vector onto the top principal direction:
   * `(carryCols..., pc1)` with pc1 rounded to 4 decimals. One aggregate
   * pass to learn the component, one codegen'd vec_dot scan to apply it
   * — the corpus never shuffles.
   */
  def pcaProject(embs: DataFrame, carryCols: Seq[String], vecCol: String,
      iterations: Int = 16): DataFrame =
    pcaProjectK(embs, carryCols, vecCol, k = 1, iterations)

  /** [[pcaProject]] for the top `k` deflated components: one codegen'd
    * vec_dot per component (`pc1..pck`), still a single corpus scan. */
  def pcaProjectK(embs: DataFrame, carryCols: Seq[String], vecCol: String,
      k: Int, iterations: Int = 16): DataFrame = {
    val comps = topComponents(embs, vecCol, k, iterations)
    embs.select(carryCols.map(col) ++ comps.zipWithIndex.map { case (v, i) =>
      // + 0.0: canonicalize -0.0 (see covariance) — a zero projection must
      // hash identically whichever engine's round produced it
      (round(vec_dot(col(vecCol), typedLit(v.toSeq)), 4) + lit(0.0))
        .as(s"pc${i + 1}")
    }: _*)
  }
}
