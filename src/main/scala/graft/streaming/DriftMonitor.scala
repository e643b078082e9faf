package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/**
 * Embedding drift monitoring: per-label centroid direction of incoming
 * data compared against a frozen baseline — the production guardrail
 * that catches an upstream encoder change, a mislabeled ingest, or a
 * shifted data mix BEFORE a training run consumes the batch. Completes
 * the embedding-ops arc: [[graft.operators.Similarity.labelCentroids]]
 * profiles a corpus, `centroidOutliers` screens rows, this watches the
 * profile move over time.
 *
 * drift(label) = round(1 - cosine(Σ batch vectors, Σ baseline vectors), 4)
 *
 * Cosine is scale-invariant, so both sides use UN-normalized
 * [[graft.functions.VecSumAgg]] sum vectors (the `centroidOutliers`
 * trick): no division, and any engine reproduces the arithmetic from
 * its own per-position sums. 0 = same direction, 1 = orthogonal,
 * 2 = anti-parallel.
 *
 * Scale shape: each side is ONE bounded-state aggregation (a dim-double
 * sum per label, merged map-side); the #labels-row baseline joins
 * broadcast. Corpus rows never shuffle — per batch the exchange
 * carries kilobytes of sums, so the monitor costs a scan regardless of
 * batch size.
 */
object DriftMonitor {

  /** Per-label sum vectors (labelCol, _sums, n) — compute ONCE over the
    * frozen baseline and cache; a lazy frame re-evaluates per batch. */
  def labelSums(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.groupBy(col(labelCol))
      .agg(graft.functions.VecSumAgg.vec_sum_agg(col(vecCol)).as("_vs"))
      .select(col(labelCol), col("_vs.sums").as("_sums"), col("_vs.n").as("n"))

  /**
   * Per-label drift of `batch` against `baselineSums` (a
   * [[labelSums]] output). Labels absent from either side are omitted —
   * a new label has no baseline direction to drift FROM (pair this with
   * a label-set diff when taxonomy changes matter).
   * Output: (labelCol, n_batch, drift).
   */
  def centroidDrift(batch: DataFrame, baselineSums: DataFrame,
      labelCol: String, vecCol: String): DataFrame =
    labelSums(batch, labelCol, vecCol)
      .select(col(labelCol), col("_sums").as("_bsums"), col("n").as("n_batch"))
      .join(broadcast(baselineSums.select(col(labelCol), col("_sums").as("_base"))),
        labelCol)
      .select(col(labelCol), col("n_batch"),
        round(lit(1.0) - Similarity.cosine(col("_bsums"), col("_base")), 4)
          .as("drift"))
}
