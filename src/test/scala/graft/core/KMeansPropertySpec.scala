package graft.core

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalacheck.{Gen, Prop, Properties}

/**
 * ScalaCheck properties for the driver-side [[KMeans]]: seeded
 * determinism, the exact mode for inputs with at most k distinct points,
 * consistent cells for identical points (through the executors'
 * `pq_encode` kernel, the rule corpus rows are assigned with), and finite
 * centroids.
 */
object KMeansPropertySpec extends Properties("KMeans") {

  // values from a small pool (signed zeros included) so duplicate points
  // are common, plus free doubles so the k-means mode runs too
  private val value: Gen[Double] = Gen.frequency(
    3 -> Gen.oneOf(-2.0, -0.0, 0.0, 0.5, 1.0, 3.0),
    1 -> Gen.choose(-10.0, 10.0))

  private val input: Gen[(Array[Array[Double]], Int, Long)] = for {
    dim <- Gen.choose(1, 4)
    n <- Gen.choose(1, 60)
    pts <- Gen.listOfN(n, Gen.listOfN(dim, value).map(_.toArray))
    k <- Gen.choose(1, 8)
    seed <- Gen.choose(0L, 1000L)
  } yield (pts.toArray, k, seed)

  private def fold(p: Array[Double]): Seq[Double] = p.toSeq.map(_ + 0.0)

  private def lexLess(a: Seq[Double], b: Seq[Double]): Boolean =
    a.zip(b).find { case (x, y) => x != y }.exists { case (x, y) => x < y }

  property("the same seed gives identical centroids") = Prop.forAll(input) {
    case (pts, k, seed) =>
      val a = KMeans.train(pts, k, seed)
      val b = KMeans.train(pts.map(_.clone()), k, seed)
      a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq
  }

  property("at most k distinct points come back as exactly those points, sorted") =
    Prop.forAll(input) { case (pts, k, seed) =>
      val distinct = pts.map(fold).distinct
      Prop.collect(if (distinct.length <= k) "exact" else "k-means") {
        distinct.length > k ||
          KMeans.train(pts, k, seed).map(_.toSeq).toSeq == distinct.sortWith(lexLess).toSeq
      }
    }

  property("identical points always land in the same cell") = Prop.forAll(input) {
    case (pts, k, seed) =>
      val cents = KMeans.train(pts, k, seed)
      // duplicates at their original positions, and at the end of the
      // input with their zeros' signs flipped
      val probes = pts ++ pts.map(_.map(x => if (x == 0.0) -x else x))
      val cells = probes.map { p =>
        fold(p) -> VecMath.pqEncodeD(new GenericArrayData(p), Array(cents)).getInt(0)
      }
      cells.groupBy(_._1).values.forall(_.map(_._2).distinct.length == 1)
  }

  property("no centroid is NaN, and k-means mode returns k of them") =
    Prop.forAll(input) { case (pts, k, seed) =>
      val cents = KMeans.train(pts, k, seed)
      val distinct = pts.map(fold).distinct.length
      cents.forall(c => c.length == pts(0).length && !c.exists(_.isNaN)) &&
        cents.length == math.min(k, distinct)
    }
}
