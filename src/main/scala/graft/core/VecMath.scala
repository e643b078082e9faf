package graft.core

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * Vector kernels called from generated code (static forwarders). All
 * accumulate sequentially left-to-right in double precision — bit-identical
 * to the zip_with/aggregate formulation they replace (and to a sequential
 * SQL reimplementation), so oracle parity is preserved.
 */
object VecMath {
  def dotFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  def dotFD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getDouble(i); i += 1 }
    s
  }

  def dotDF(a: ArrayData, b: ArrayData): Double = dotFD(b, a)

  def dotDD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /**
   * Product-quantization encode: for each of the `cb.length` subspaces,
   * the [[nearest]] codeword of the vector's slice `[j*dsub, (j+1)*dsub)`.
   * `cb(j)(k)` is codeword k of subspace j; subspaces may have different
   * codeword counts (the exact-mode codebook keeps one codeword per
   * distinct subvector). Returns the m codes as an int array. The vector
   * must be exactly as long as the codebook's subspaces together: the
   * unsafe array's bounds check is a Java assert (off by default), so a
   * short vector would read past its data and a long one would lose its
   * tail silently.
   */
  def pqEncodeF(v: ArrayData, cb: Array[Array[Array[Double]]]): ArrayData =
    pqEncode(cb, v.numElements(), (i: Int) => v.getFloat(i).toDouble)

  def pqEncodeD(v: ArrayData, cb: Array[Array[Array[Double]]]): ArrayData =
    pqEncode(cb, v.numElements(), (i: Int) => v.getDouble(i))

  private def pqEncode(cb: Array[Array[Array[Double]]], n: Int,
      at: Int => Double): ArrayData = {
    val m = cb.length
    val codes = new Array[Int](m)
    var dim = 0
    var j = 0
    while (j < m) { dim += cb(j)(0).length; j += 1 }
    if (n != dim) throw new IllegalArgumentException(
      s"pq_encode: vector has $n elements, the codebook expects $dim")
    var off = 0
    j = 0
    while (j < m) {
      codes(j) = nearest(cb(j), at, off)
      off += cb(j)(0).length
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  /** Index of the word nearest to `at(off) .. at(off + dsub - 1)`, dsub
    * the words' length: squared L2 accumulated left to right, the FIRST
    * index on ties. The one assignment rule of the engine — PQ codes,
    * IVF and semantic-dedup cells, and [[KMeans]] training all use it. */
  def nearest(words: Array[Array[Double]], at: Int => Double, off: Int): Int = {
    var best = 0
    var bestD = Double.PositiveInfinity
    var k = 0
    while (k < words.length) {
      val d = sqDist(words(k), at, off)
      if (d < bestD) { bestD = d; best = k }
      k += 1
    }
    best
  }

  /** Squared L2 distance from `w` to `at(off) .. at(off + w.length - 1)`. */
  def sqDist(w: Array[Double], at: Int => Double, off: Int): Double = {
    var d = 0.0
    var i = 0
    while (i < w.length) {
      val diff = at(off + i) - w(i)
      d += diff * diff
      i += 1
    }
    d
  }
}
