package graft.core

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/**
 * Serialization of column values to Cassandra wire bytes — the rebuild of the
 * reference's polymorphic value -> ByteBuffer kernel. Semantics studied from
 * /root/reference/src/main/java/com/spotify/hdfs2cass/cassandra/utils/
 * CassandraRecordUtils.java:80-209 (behavior only; this is a fresh
 * implementation against the public Cassandra native-protocol spec):
 *
 *  - null -> empty buffer (NOT a null marker; Cassandra bulk writers treat
 *    an empty buffer as an unset/empty value);
 *  - String/CharSequence -> UTF-8 bytes;
 *  - Int/Long/Float/Double -> fixed-width big-endian;
 *  - Boolean -> single byte 0/1;
 *  - UUID -> 16 bytes (msb, lsb big-endian);
 *  - binary -> pass-through copy (defensive, buffers may be reused upstream);
 *  - List/Set -> [unsigned short count][unsigned short len + bytes]* — the
 *    protocol-v2 collection layout the reference's Cassandra 2.0 serializers
 *    emit;
 *  - Map -> [unsigned short count]([ushort klen + k][ushort vlen + v])*;
 *  - Struct (composite) -> CompositeType layout, see [[composite]].
 *
 * Kept OUT of the query plan until the sink or an explicit serialization
 * expression — values stay typed (Tungsten-friendly) as long as possible.
 * At the sink, [[encoder]] and [[rowEncoder]] are the one mapping from
 * Catalyst's internal values to these bytes; every bulk sink uses them.
 */
object CqlValueCodec {

  val Empty: Array[Byte] = Array.emptyByteArray

  def serializeString(s: String): Array[Byte] =
    if (s == null) Empty else s.getBytes(StandardCharsets.UTF_8)

  def serializeLong(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).putLong(v).array()

  def serializeInt(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).putInt(v).array()

  def serializeShort(v: Short): Array[Byte] =
    ByteBuffer.allocate(2).putShort(v).array()

  def serializeDouble(v: Double): Array[Byte] =
    ByteBuffer.allocate(8).putDouble(v).array()

  def serializeFloat(v: Float): Array[Byte] =
    ByteBuffer.allocate(4).putFloat(v).array()

  def serializeBoolean(v: Boolean): Array[Byte] = Array(if (v) 1.toByte else 0.toByte)

  /** Cassandra decimal layout: 4-byte BE scale + unscaled big-endian bytes. */
  private[graft] def serializeDecimal(d: java.math.BigDecimal): Array[Byte] = {
    val unscaled = d.unscaledValue.toByteArray
    val bb = ByteBuffer.allocate(4 + unscaled.length)
    bb.putInt(d.scale).put(unscaled)
    bb.array()
  }

  def serializeUuid(u: java.util.UUID): Array[Byte] =
    ByteBuffer.allocate(16).putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits).array()

  /** Protocol-v2 collection: unsigned-short count, then ushort-length-prefixed elements. */
  private[graft] def serializeCollection(elements: Iterable[Array[Byte]]): Array[Byte] = {
    val n = elements.size
    require(n <= 0xffff, s"collection too large for protocol-v2 layout: $n")
    var total = 2
    elements.foreach(e => total += 2 + e.length)
    val bb = ByteBuffer.allocate(total)
    bb.putShort((n & 0xffff).toShort)
    elements.foreach { e =>
      require(e.length <= 0xffff, s"collection element too large: ${e.length}")
      bb.putShort((e.length & 0xffff).toShort)
      bb.put(e)
    }
    bb.array()
  }

  /** Protocol-v2 map: ushort count, then (ushort klen, k, ushort vlen, v)*. */
  private[graft] def serializeMap(entries: Iterable[(Array[Byte], Array[Byte])]): Array[Byte] = {
    val n = entries.size
    require(n <= 0xffff, s"map too large for protocol-v2 layout: $n")
    var total = 2
    entries.foreach { case (k, v) => total += 4 + k.length + v.length }
    val bb = ByteBuffer.allocate(total)
    bb.putShort((n & 0xffff).toShort)
    entries.foreach { case (k, v) =>
      bb.putShort((k.length & 0xffff).toShort); bb.put(k)
      bb.putShort((v.length & 0xffff).toShort); bb.put(v)
    }
    bb.array()
  }

  /**
   * CompositeType layout: for each component, a 2-byte big-endian length,
   * the component bytes, then a 0x00 end-of-component byte. Used both for
   * struct-valued columns and for multi-column partition keys.
   */
  def composite(components: Array[Array[Byte]]): Array[Byte] = {
    var total = 0
    components.foreach(c => total += 2 + c.length + 1)
    val bb = ByteBuffer.allocate(total)
    components.foreach { c =>
      require(c.length <= 0xffff, s"composite component too large: ${c.length}")
      bb.putShort((c.length & 0xffff).toShort)
      bb.put(c)
      bb.put(0.toByte)
    }
    bb.array()
  }

  /**
   * Partition key bytes from an ordered value list: single key column
   * passes through raw; 2+ key columns use the composite layout.
   */
  def partitionKey(values: IndexedSeq[Array[Byte]], keyIndexes: Array[Int]): Array[Byte] = {
    if (keyIndexes.length == 1) values(keyIndexes(0))
    else composite(keyIndexes.map(values(_)))
  }

  /** CQL bytes of the value at ordinal `i` of an internal row, array or
    * struct. */
  type Encoder = (SpecializedGetters, Int) => Array[Byte]

  /**
   * The CQL encoder for one Catalyst type, over internal values (no
   * external Row conversion): null -> [[Empty]] at every level; scalars
   * as above; date -> int days; timestamp and timestamp_ntz -> epoch
   * millis, FLOORED from micros (the java.sql.Timestamp.getTime rule, so
   * pre-1970 sub-millisecond values round toward the past); decimal ->
   * [[serializeDecimal]]; array -> [[serializeCollection]], map ->
   * [[serializeMap]] in the map's entry order, struct -> [[composite]],
   * recursively. Every returned array is fresh (UnsafeRow hands out
   * copies) or owned by an immutable value, so it may outlive a reused
   * row. Unsupported types fail when the encoder is built.
   */
  def encoder(dt: DataType): Encoder = {
    val enc: Encoder = dt match {
      case StringType  => (g, i) => serializeString(g.getUTF8String(i).toString)
      case LongType    => (g, i) => serializeLong(g.getLong(i))
      case IntegerType => (g, i) => serializeInt(g.getInt(i))
      case ShortType   => (g, i) => serializeShort(g.getShort(i))
      case DoubleType  => (g, i) => serializeDouble(g.getDouble(i))
      case FloatType   => (g, i) => serializeFloat(g.getFloat(i))
      case BooleanType => (g, i) => serializeBoolean(g.getBoolean(i))
      case BinaryType  => (g, i) => g.getBinary(i)
      case DateType    => (g, i) => serializeInt(g.getInt(i))
      case TimestampType | TimestampNTZType =>
        (g, i) => serializeLong(Math.floorDiv(g.getLong(i), 1000L))
      case d: DecimalType =>
        (g, i) => serializeDecimal(g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal)
      case ArrayType(et, _) =>
        val e = encoder(et)
        (g, i) => {
          val a = g.getArray(i)
          serializeCollection(Array.tabulate(a.numElements())(j => e(a, j)))
        }
      case MapType(kt, vt, _) =>
        val (ke, ve) = (encoder(kt), encoder(vt))
        (g, i) => {
          val m = g.getMap(i)
          val (ks, vs) = (m.keyArray(), m.valueArray())
          serializeMap(Array.tabulate(m.numElements())(j => (ke(ks, j), ve(vs, j))))
        }
      case st: StructType =>
        val es = st.fields.map(f => encoder(f.dataType))
        (g, i) => {
          val r = g.getStruct(i, es.length)
          composite(Array.tabulate(es.length)(j => es(j)(r, j)))
        }
      case other => throw new IllegalArgumentException(
        s"cannot serialize type ${other.simpleString} to Cassandra wire bytes")
    }
    (g, i) => if (g.isNullAt(i)) Empty else enc(g, i)
  }

  /** A sorted-run record value: the CQL bytes of each `(ordinal, type)`
    * column of a row, each behind a 4-byte big-endian length. */
  def rowEncoder(columns: Seq[(Int, DataType)]): InternalRow => Array[Byte] = {
    val ordinals = columns.map(_._1).toArray
    val encoders = columns.map(c => encoder(c._2)).toArray
    row => {
      val parts = new Array[Array[Byte]](encoders.length)
      var total = 0
      var i = 0
      while (i < encoders.length) {
        parts(i) = encoders(i)(row, ordinals(i))
        total += 4 + parts(i).length
        i += 1
      }
      val bb = ByteBuffer.allocate(total)
      parts.foreach(p => bb.putInt(p.length).put(p))
      bb.array()
    }
  }

  private val HexDigits = "0123456789ABCDEF".toCharArray

  def toHex(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      sb.append(HexDigits((bytes(i) >> 4) & 0xf)).append(HexDigits(bytes(i) & 0xf))
      i += 1
    }
    sb.toString
  }
}
