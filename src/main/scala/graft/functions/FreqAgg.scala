package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Mergeable heavy-hitters aggregate (Misra-Gries summary): the top-k most
 * frequent string items of a GROUP in bounded memory — the
 * frequent-boilerplate / hot-n-gram detector a training-data pipeline
 * runs over a corpus too large to `groupBy(item).count()` exactly.
 *
 * The buffer holds at most `capacity` (item, counter) pairs:
 *  - an unseen item over a full buffer decrements EVERY counter instead
 *    of inserting (the classic MG step, amortized O(1) — each decrement
 *    sweep is paid for by the `capacity` inserts before it);
 *  - partial buffers MERGE by pointwise sum, then subtracting the
 *    (capacity+1)-th largest counter and dropping non-positive entries —
 *    the mergeable-summaries form (Agarwal et al., PODS'12), which keeps
 *    the summary a valid MG sketch across any combine tree Spark plans.
 *
 * Guarantees: every item with true frequency > n/(capacity+1) survives,
 * and each reported estimate undercounts by at most n/(capacity+1).
 * When a group's DISTINCT item count never exceeds `capacity`, no
 * decrement ever fires anywhere in the tree and all counts are EXACT —
 * which is what makes the operator oracle-checkable at test scale while
 * staying sublinear at 100 TB.
 *
 * eval() returns the top `k` entries as array<struct<item, est>>, ordered
 * (est DESC, item ASC) — deterministic under retries and expressible as
 * an `ORDER BY n DESC, item LIMIT k` oracle.
 */
case class FreqAgg(
    child: Expression,
    capacity: Int,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]]
  // declares the string input contract: SQL topk_freq over a non-string
  // column gets an implicit cast (or a clean analysis error) instead of
  // dying at execution with a raw ClassCastException
  with org.apache.spark.sql.graft.StringInputTypes {

  require(capacity > 0, "capacity must be positive")
  require(k > 0 && k <= capacity, "k must be in 1..capacity")

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  // sketch semantics live in graft.core.MisraGries

  override def update(buf: mutable.HashMap[String, Long],
      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    graft.core.MisraGries.add(buf, v.asInstanceOf[UTF8String].toString, capacity)
    buf
  }

  override def merge(b1: mutable.HashMap[String, Long],
      b2: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] =
    graft.core.MisraGries.mergeInto(b1, b2, capacity)

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val top = graft.core.MisraGries.topK(buf, k)
      .map { case (s, c) => InternalRow(UTF8String.fromString(s), c) }
      .toArray
    new GenericArrayData(top.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (s, c) =>
      val bytes = s.getBytes("UTF-8")
      out.writeInt(bytes.length); out.write(bytes); out.writeLong(c)
    }
    out.close()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len); in.readFully(b)
      buf.update(new String(b, "UTF-8"), in.readLong())
      i += 1
    }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("est", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "topk_freq"

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object FreqAgg {
  /** Column API: Misra-Gries top-k frequent items of a string column. */
  def topk_freq(item: Column, capacity: Int, k: Int): Column =
    Bridge.column(FreqAgg(Bridge.expression(item), capacity, k).toAggregateExpression())
}
