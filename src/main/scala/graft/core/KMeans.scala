package graft.core

import scala.collection.immutable.ArraySeq

/**
 * The engine's one k-means, run on the driver over a bounded sample
 * (IVF cells, PQ codebooks, semantic-dedup clusters). The sample is small
 * by contract, so training is plain loops: the distributed work is the one
 * pass that draws the sample and the one pass that assigns cells.
 *
 *  - At most `k` distinct points: those points ARE the centroids, in
 *    lexicographic order — PQ's exact mode (zero quantization error) and
 *    the answer for inputs smaller than `k`.
 *  - Otherwise: seeded k-means++ initialization, then exactly
 *    [[LloydSteps]] Lloyd steps with no convergence test (a fixed round
 *    count keeps the result a pure function of sample and seed). An empty
 *    cell keeps its previous centroid.
 *
 * Signed zeros fold to +0.0 first, as Spark's `distinct` does. Assignment
 * is [[VecMath.nearest]] (squared L2, first index on ties), the same rule
 * the executors' `pq_encode` kernel applies, so a training point and an
 * identical corpus row always land in the same cell.
 */
object KMeans {

  /** Lexicographic order of vectors, `java.lang.Double.compare` per
    * element, then length: the exact-mode centroid order (Spark's array
    * order once signed zeros are folded). */
  val lexicographic: Ordering[Array[Double]] = (a, b) => {
    var i = 0
    while (i < a.length && i < b.length && java.lang.Double.compare(a(i), b(i)) == 0) i += 1
    if (i < a.length && i < b.length) java.lang.Double.compare(a(i), b(i))
    else Integer.compare(a.length, b.length)
  }

  /** Lloyd steps after initialization: cells only gate candidate sets or
    * quantize subspaces, so a few rounds suffice. */
  private val LloydSteps = 5

  def train(points: Array[Array[Double]], k: Int, seed: Long): Array[Array[Double]] = {
    require(k >= 1, s"need k >= 1: $k")
    require(points.nonEmpty, "k-means: no training points")
    val dim = points(0).length
    require(points.forall(_.length == dim), "k-means: points of different lengths")
    // -0.0 + 0.0 == +0.0; only rows holding a negative zero are copied
    val pts = points.map(p => if (p.exists(isNegZero)) p.map(_ + 0.0) else p)
    val distinct = scala.collection.mutable.HashSet.empty[ArraySeq[Double]]
    val it = pts.iterator
    while (it.hasNext && distinct.size <= k) distinct += ArraySeq.unsafeWrapArray(it.next())
    if (distinct.size <= k) return distinct.toArray.map(_.toArray).sorted(lexicographic)

    val rnd = new java.util.Random(seed)
    val cents = new Array[Array[Double]](k)
    cents(0) = pts(rnd.nextInt(pts.length))
    val d2 = Array.fill(pts.length)(Double.PositiveInfinity)
    for (c <- 1 until k) {
      // k-means++: the next center is a point drawn with probability
      // proportional to its squared distance from the centers so far
      for (i <- pts.indices) d2(i) = math.min(d2(i), VecMath.sqDist(cents(c - 1), pts(i)(_), 0))
      val cum = d2.scanLeft(0.0)(_ + _)
      val r = rnd.nextDouble() * cum.last
      val pick = cum.indexWhere(_ > r) - 1 // -2 only if rounding lifts r to the total
      cents(c) = pts(if (pick >= 0) pick else d2.lastIndexWhere(_ > 0))
    }

    for (_ <- 0 until LloydSteps) {
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Long](k)
      for (p <- pts) {
        val j = VecMath.nearest(cents, p(_), 0)
        counts(j) += 1
        for (d <- 0 until dim) sums(j)(d) += p(d)
      }
      for (j <- 0 until k if counts(j) > 0) cents(j) = sums(j).map(_ / counts(j))
    }
    cents
  }

  private def isNegZero(x: Double): Boolean =
    x == 0.0 && java.lang.Double.doubleToRawLongBits(x) != 0L
}
