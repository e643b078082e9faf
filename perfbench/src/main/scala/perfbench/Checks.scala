package perfbench

import java.io.File
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

import graft.sinks.BulkSink.PartitionManifest

/** One output check: its name, whether it held, and what was seen. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What one replica accepted for one run. */
final case class Recv(host: String, dataFile: String, rows: Long, bytes: Long,
    sortedOk: Boolean)

/** Order-independent fold of a set of rows: count, value bytes, xor of
  * Spark's `xxhash64(pk, value)`. */
final case class Fold(rows: Long, valueBytes: Long, xor: Long) {
  def +(o: Fold): Fold = Fold(rows + o.rows, valueBytes + o.valueBytes, xor ^ o.xor)
}

object Fold {
  val Zero: Fold = Fold(0L, 0L, 0L)

  /** Spark's `xxhash64(pk, value)` on two binary columns (seed 42). */
  def hash(pk: Array[Byte], value: Array[Byte]): Long = {
    val h = XXH64.hashUnsafeBytes(pk, Platform.BYTE_ARRAY_OFFSET, pk.length, 42L)
    XXH64.hashUnsafeBytes(value, Platform.BYTE_ARRAY_OFFSET, value.length, h)
  }
}

/**
 * The benchmark's output checks. They recompute what the engine should
 * have produced from the generator's files and the ring alone, with their
 * own encoder and replica walk, and never call the layer they check.
 */
object Checks {

  /** Manifest, plan and replica checks of one load. `ring` is (host,
    * vnode tokens); `received` is everything the replicas accepted. */
  def load(expectedRows: Long, manifests: Seq[PartitionManifest],
      plan: Map[String, Set[String]], received: Seq[Recv],
      ring: Seq[(String, Seq[Long])], rf: Int): Seq[Check] = {
    val manRows = manifests.map(_.rows).sum
    val unsorted = manifests.filterNot(_.sorted).map(_.dataFile)
    val expectedPlan = manifests.filter(_.rows > 0)
      .map(m => m.dataFile -> replicasOf(m.minToken, m.maxToken, ring, rf)).toMap
    val planPairs = plan.toSeq.flatMap { case (f, hs) => hs.map(h => (h, f)) }.toSet
    val recvPairs = received.map(r => (r.host, r.dataFile))
    val byFile = manifests.map(m => m.dataFile -> m).toMap
    val badCounts = received.filter(r => byFile.get(r.dataFile)
      .forall(m => m.rows != r.rows || m.bytes != r.bytes))
    val unsortedStreams = received.filterNot(_.sortedOk)
    Seq(
      Check("manifest_rows", manRows == expectedRows,
        s"manifests hold $manRows rows, input has $expectedRows"),
      Check("manifests_sorted", unsorted.isEmpty,
        s"unsorted runs: ${unsorted.mkString(",")}"),
      Check("plan_matches_ring", plan == expectedPlan,
        s"plan ${sortedPlan(plan)} vs ring replicas ${sortedPlan(expectedPlan)}"),
      Check("streams_sorted", received.nonEmpty && unsortedStreams.isEmpty,
        s"${received.size} streams received, ${unsortedStreams.size} out of order"),
      Check("streams_reach_plan", recvPairs.toSet == planPairs && recvPairs.size == planPairs.size,
        s"received ${recvPairs.size} (host, run) pairs, plan names ${planPairs.size}; " +
          s"missing ${(planPairs -- recvPairs).toSeq.sorted.take(5)}, " +
          s"extra ${(recvPairs.toSet -- planPairs).toSeq.sorted.take(5)}"),
      Check("stream_counts", badCounts.isEmpty,
        s"streams whose rows/bytes differ from the manifest: ${badCounts.take(5)}"))
  }

  private def sortedPlan(p: Map[String, Set[String]]): String =
    p.toSeq.sortBy(_._1).map { case (f, hs) => s"$f->${hs.toSeq.sorted.mkString("+")}" }
      .mkString("[", " ", "]")

  /** SimpleStrategy replicas of every ring range that [lo, hi] touches:
    * range (prev, t] belongs to t's host and the next rf-1 distinct hosts
    * clockwise. */
  def replicasOf(lo: Long, hi: Long, ring: Seq[(String, Seq[Long])], rf: Int): Set[String] = {
    val toks = ring.flatMap { case (h, ts) => ts.map(_ -> h) }.sortBy(_._1).toIndexedSeq
    val n = toks.length
    def owners(i: Int): Set[String] =
      Iterator.from(0).map(j => toks((i + j) % n)._2).take(n).toSeq.distinct.take(rf).toSet
    // range i is (toks(i-1), toks(i)]; range 0 also holds everything above
    // the last token (the ring wraps)
    toks.indices.filter { i =>
      val end = toks(i)._1
      val start = if (i == 0) toks(n - 1)._1 else toks(i - 1)._1
      if (i == 0) lo <= end || hi > start
      else !(hi <= start || lo > end)
    }.flatMap(owners).toSet
  }

  // ---- independent CQL encoding of the projected input ---------------------

  private def int32(v: Int): Array[Byte] = ByteBuffer.allocate(4).putInt(v).array()
  private def int64(v: Long): Array[Byte] = ByteBuffer.allocate(8).putLong(v).array()

  /** CQL wire bytes of one input cell, written from the protocol, not from
    * the engine's codec. */
  private def cell(dt: DataType, row: Row, i: Int): Array[Byte] =
    if (row.isNullAt(i)) Array.emptyByteArray
    else dt match {
      case StringType  => row.getString(i).getBytes(StandardCharsets.UTF_8)
      case IntegerType => int32(row.getInt(i))
      case LongType    => int64(row.getLong(i))
      case DoubleType  => int64(java.lang.Double.doubleToLongBits(row.getDouble(i)))
      case ArrayType(FloatType, _) =>
        // protocol-v2 list: ushort count, then ushort-length elements
        val xs = row.getSeq[Float](i)
        val bb = ByteBuffer.allocate(2 + xs.length * 6).putShort(xs.length.toShort)
        xs.foreach(x => bb.putShort(4.toShort).putInt(java.lang.Float.floatToIntBits(x)))
        bb.array()
      case other => throw new IllegalArgumentException(s"no test encoder for $other")
    }

  /**
   * The fold the read-back of a `cql://` load of `input` must produce:
   * the value is rowkey, every non-special column, writetime (from
   * `timestampField`) and ttl (from `ttlField`, else 0), each int32-length
   * prefixed; the partition key is the rowkey's bytes.
   */
  def expectedFold(input: DataFrame, rowkey: String, timestampField: String,
      ttlField: Option[String]): Fold = {
    val fields = input.schema.fields
    val keyIdx = input.schema.fieldIndex(rowkey)
    val tsIdx = input.schema.fieldIndex(timestampField)
    val ttlIdx = ttlField.map(input.schema.fieldIndex)
    val valueIdx = fields.indices.filterNot(i => i == tsIdx || ttlIdx.contains(i)).toArray
    input.rdd.mapPartitions { rows =>
      var acc = Fold.Zero
      rows.foreach { row =>
        val pk = cell(fields(keyIdx).dataType, row, keyIdx)
        val parts = (pk +: valueIdx.toSeq.map(i => cell(fields(i).dataType, row, i))) :+
          int64(row.getLong(tsIdx)) :+ int32(ttlIdx.map(row.getInt).getOrElse(0))
        val value = ByteBuffer.allocate(parts.map(4 + _.length).sum)
        parts.foreach(p => value.putInt(p.length).put(p))
        acc = acc + Fold(1L, value.capacity().toLong, Fold.hash(pk, value.array()))
      }
      Iterator.single(acc)
    }.fold(Fold.Zero)(_ + _)
  }

  /** Token-range scan of a graft-bulk directory, folded in the engine. */
  def scan(spark: SparkSession, dir: File, lo: Long, hi: Long): Fold = {
    val r = spark.read.format("graft-bulk").option("path", dir.getPath).load()
      .where(col("token").between(lo, hi))
      .agg(count(lit(1)), coalesce(sum(length(col("value"))), lit(0L)),
        coalesce(bit_xor(xxhash64(col("pk"), col("value"))), lit(0L)))
      .head()
    Fold(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Rows of a sorted token array inside [lo, hi]. */
  def countInRange(sortedTokens: Array[Long], lo: Long, hi: Long): Long = {
    def lowerBound(x: Long): Int = {
      var (a, b) = (0, sortedTokens.length)
      while (a < b) { val m = (a + b) >>> 1; if (sortedTokens(m) < x) a = m + 1 else b = m }
      a
    }
    val end = if (hi == Long.MaxValue) sortedTokens.length else lowerBound(hi + 1)
    (end - lowerBound(lo)).toLong
  }
}
