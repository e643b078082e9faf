package graft.sinks

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException, File, FileInputStream, FileOutputStream, InputStream, OutputStream}

import graft.core.CassandraTokens

/**
 * The GRFT sorted-run format, owned by this one module: the class is its
 * only writer, the companion its only reader — [[SortedRunWriter.RecordCursor]]
 * parses the record frame, [[SortedRunWriter.ChunkedInputStream]] chains
 * compressed chunks, [[SortedRunWriter.openLogical]] opens a run at a
 * logical offset. [[BulkSink]], the one bulk writer, appends records
 * whose values [[graft.core.CqlValueCodec.rowEncoder]] encoded:
 * `graft-<pid>-Data.db` (2-byte key len + key + 4-byte value len + value)
 * plus a sparse `Index.db` (token, logical offset every `indexInterval`
 * rows). Enforces the decorated-key sorted-input contract.
 *
 * `compression` takes the reference's `compressionclass` URI option
 * (CassandraParams.java:103-105 — short or fully-qualified Cassandra
 * compressor name). Compressed runs are CHUNKED, mirroring Cassandra's
 * CompressedSequentialWriter + CompressionInfo.db: the logical record
 * stream is cut into fixed-size chunks, each compressed INDEPENDENTLY and
 * appended to Data.db, and `graft-<pid>-Chunks.db` records one
 * (logicalOffset, physicalOffset) pair per chunk. Independent chunks make
 * logical offsets seekable again — binary-search the chunk map, start
 * decompressing at the chunk's physical offset — so compressed runs now
 * carry the same sparse Index.db as uncompressed ones, and both the
 * graft-bulk read path and the stream loader can serve a token band of a
 * compressed run without inflating it from byte zero. The manifest
 * records both logical `bytes` (record stream size, what a re-parse
 * produces) and `physicalBytes` (on-disk size, what a transfer costs).
 *
 * `randomTokens = true` switches the writer to RandomPartitioner mode
 * (the reference serves both partitioners through one writer,
 * CassandraPartitioner.java:46-47): rows arrive keyed by canonical
 * 16-byte md5 tokens via `addRandom`, order is checked in md5
 * decorated-key order, and the manifest carries the token range as hex
 * (`minTokenHex`/`maxTokenHex` — md5 tokens reach 2^127 and overflow the
 * Long fields, which are pinned to the full Murmur3 range so Long-token
 * pruning never wrongly drops a random run). No Index.db is written:
 * the sparse-index format speaks Long tokens and no reader can seek by
 * md5 token yet — an unusable index would be a trap.
 */
final class SortedRunWriter(outDir: String, pid: Int, indexInterval: Int = 128,
    compression: Option[String] = None, randomTokens: Boolean = false,
    chunkSize: Int = SortedRunWriter.DefaultChunkSize) {
  require(chunkSize >= 1024, s"chunk size must be >= 1 KiB, got $chunkSize")
  /** Normalized codec id ("none"/"deflate"/"lz4"/"snappy"/"zstd"); fails
    * fast on an unknown compressionclass before any file is created. */
  val codec: String = compression.map(SortedRunWriter.normalizeCodec).getOrElse("none")
  val dataName = f"graft-$pid%05d-Data.db"
  /** Empty for random-token runs — the index format speaks Long tokens,
    * which md5 tokens overflow. Compressed runs DO carry an index: the
    * chunk map makes its logical offsets seekable. */
  val indexName: String = if (!randomTokens) f"graft-$pid%05d-Index.db" else ""
  /** Chunk-map sidecar, compressed runs only (CompressionInfo.db analog). */
  val chunksName: String = if (codec != "none") f"graft-$pid%05d-Chunks.db" else ""
  private val dataFile = new File(outDir, dataName)
  private val indexFile = if (indexName.nonEmpty) new File(outDir, indexName) else null
  private val chunksFile = if (chunksName.nonEmpty) new File(outDir, chunksName) else null

  // codec == none: records append straight to the data stream.
  // otherwise: records accumulate in chunkBuf; every `chunkSize` logical
  // bytes the buffer compresses INDEPENDENTLY and flushes to the file,
  // with its (logical, physical) start recorded for the chunk map.
  private val rawOut = new FileOutputStream(dataFile)
  private val directOut =
    if (codec == "none") new DataOutputStream(new BufferedOutputStream(rawOut, 1 << 16))
    else null
  private val chunkBuf = if (codec == "none") null else new ByteArrayOutputStream(chunkSize + 4096)
  private val chunkDataOut = if (chunkBuf == null) null else new DataOutputStream(chunkBuf)
  private val chunkPairs = if (codec == "none") null else scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  private var physicalOffset = 0L
  private var chunkLogicalStart = 0L

  private val idx = if (indexFile == null) null
    else new DataOutputStream(new BufferedOutputStream(new FileOutputStream(indexFile), 1 << 14))

  private var rows = 0L
  private var offset = 0L
  private var minToken = Long.MaxValue
  private var maxToken = Long.MinValue
  private var prevToken = Long.MinValue
  private var prevKey: Array[Byte] = _
  // random-token mode state: canonical 16-byte md5 tokens
  private var minTokenB: Array[Byte] = _
  private var maxTokenB: Array[Byte] = _
  private var prevTokenB: Array[Byte] = _

  def add(token: Long, key: Array[Byte], value: Array[Byte]): Unit = {
    require(!randomTokens, "random-token writer: use addRandom(tokenBytes, ...)")
    if (prevKey != null &&
        CassandraTokens.compareDecorated(prevToken, prevKey, token, key) > 0)
      throw new IllegalStateException(
        s"partition $pid input not in decorated-key order at row $rows")
    if (idx != null && rows % indexInterval == 0) { idx.writeLong(token); idx.writeLong(offset) }
    writeRecord(key, value)
    if (token < minToken) minToken = token
    if (token > maxToken) maxToken = token
    prevToken = token; prevKey = key
    rows += 1
  }

  /** RandomPartitioner-mode append: `token` is the canonical 16-byte
    * big-endian md5 token (CassandraTokens.md5TokenBytes). */
  def addRandom(token: Array[Byte], key: Array[Byte], value: Array[Byte]): Unit = {
    require(randomTokens, "Murmur3 writer: use add(token, ...)")
    require(token.length == 16, s"md5 token must be 16 bytes, got ${token.length}")
    if (prevKey != null && {
        val c = CassandraTokens.compareUnsigned(prevTokenB, token)
        c > 0 || (c == 0 && CassandraTokens.compareUnsigned(prevKey, key) > 0)
      })
      throw new IllegalStateException(
        s"partition $pid input not in md5 decorated-key order at row $rows")
    writeRecord(key, value)
    if (minTokenB == null || CassandraTokens.compareUnsigned(token, minTokenB) < 0)
      minTokenB = token
    if (maxTokenB == null || CassandraTokens.compareUnsigned(token, maxTokenB) > 0)
      maxTokenB = token
    prevTokenB = token; prevKey = key
    rows += 1
  }

  private def writeRecord(key: Array[Byte], value: Array[Byte]): Unit = {
    val out = if (directOut != null) directOut else chunkDataOut
    out.writeShort(key.length)
    out.write(key)
    out.writeInt(value.length)
    out.write(value)
    offset += 2 + key.length + 4 + value.length
    if (chunkBuf != null && chunkBuf.size() >= chunkSize) flushChunk()
  }

  /** Compress the buffered logical chunk independently and append it. */
  private def flushChunk(): Unit = {
    if (chunkBuf.size() == 0) return
    chunkPairs += ((chunkLogicalStart, physicalOffset))
    val compressed = new ByteArrayOutputStream(chunkBuf.size() / 2 + 64)
    val cs = SortedRunWriter.compress(codec, compressed)
    chunkBuf.writeTo(cs)
    cs.close()
    val bytes = compressed.toByteArray
    rawOut.write(bytes)
    physicalOffset += bytes.length
    chunkLogicalStart += chunkBuf.size()
    chunkBuf.reset()
  }

  /** Chunk-map entry count recorded in the manifest: 0 for uncompressed
    * runs, the number of independently-compressed chunks otherwise —
    * readers use a positive count to REQUIRE the Chunks.db sidecar. */
  private def chunkCount: Int = if (chunkPairs == null) 0 else chunkPairs.length

  def close(): BulkSink.PartitionManifest = {
    if (directOut != null) directOut.close()
    else {
      flushChunk()
      rawOut.close()
      val cm = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(chunksFile), 1 << 14))
      chunkPairs.foreach { case (lo, po) => cm.writeLong(lo); cm.writeLong(po) }
      cm.close()
    }
    if (idx != null) idx.close()
    if (randomTokens) {
      // Long token fields span the full Murmur3 range so a Long-token
      // consumer treats the run as "could contain anything" (conservative);
      // the real md5 range rides in hex
      def hex(b: Array[Byte]): String =
        if (b == null) "" else b.map(x => f"$x%02x").mkString
      BulkSink.PartitionManifest(pid, rows, offset,
        Long.MinValue, Long.MaxValue,
        sorted = true, dataName, indexName, codec,
        physicalBytes = dataFile.length(),
        minTokenHex = hex(minTokenB), maxTokenHex = hex(maxTokenB),
        chunks = chunkCount)
    } else
      BulkSink.PartitionManifest(pid, rows, offset, minToken, maxToken,
        sorted = true, dataName, indexName, codec,
        physicalBytes = dataFile.length(), chunks = chunkCount)
  }

  def abort(): Unit = {
    try {
      if (directOut != null) directOut.close() else rawOut.close()
      if (idx != null) idx.close()
    } catch { case _: Throwable => () }
    dataFile.delete()
    if (indexFile != null) indexFile.delete()
    if (chunksFile != null) chunksFile.delete()
    ()
  }
}

object SortedRunWriter {

  /** Logical chunk size for compressed runs — Cassandra's default
    * chunk_length (64 KiB) order of magnitude: big enough to compress
    * well, small enough that a token-band seek skips most of a run. */
  val DefaultChunkSize: Int = 64 * 1024

  /** Reference compressor names -> codec id; rejects anything else LOUDLY
    * (a typo'd compressionclass must not silently write uncompressed). */
  def normalizeCodec(name: String): String =
    name.substring(name.lastIndexOf('.') + 1) match {
      case "DeflateCompressor" | "deflate" => "deflate"
      case "LZ4Compressor" | "lz4"         => "lz4"
      case "SnappyCompressor" | "snappy"   => "snappy"
      case "ZstdCompressor" | "zstd"       => "zstd"
      case "none"                          => "none"
      case _ => throw new IllegalArgumentException(
        s"unsupported compressionclass '$name' (supported: DeflateCompressor, " +
          "LZ4Compressor, SnappyCompressor, ZstdCompressor)")
    }

  /** Wrap a raw stream in the codec's compressor (lz4/snappy/zstd
    * ship in Spark's own jars; deflate is java.util.zip). */
  private[graft] def compress(codec: String, os: OutputStream): OutputStream = codec match {
    case "none"    => os
    case "deflate" => new java.util.zip.DeflaterOutputStream(
      os, new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION), 1 << 16)
    case "lz4"     => new net.jpountz.lz4.LZ4BlockOutputStream(os, 1 << 16)
    case "snappy"  => new org.xerial.snappy.SnappyOutputStream(os, 1 << 16)
    case "zstd"    => new com.github.luben.zstd.ZstdOutputStream(os)
    case other     => throw new IllegalArgumentException(s"unknown codec id '$other'")
  }

  /** Matching reader side, for run consumers and round-trip tests. */
  private def decompress(codec: String, is: InputStream): InputStream = codec match {
    case "none"    => is
    case "deflate" => new java.util.zip.InflaterInputStream(is)
    case "lz4"     => new net.jpountz.lz4.LZ4BlockInputStream(is)
    case "snappy"  => new org.xerial.snappy.SnappyInputStream(is)
    case "zstd"    => new com.github.luben.zstd.ZstdInputStream(is)
    case other     => throw new IllegalArgumentException(s"unknown codec id '$other'")
  }

  /** Chunk map of a compressed run: (logicalOffset, physicalOffset) per
    * chunk, ascending. Empty for a missing file (not-chunked legacy). */
  def readChunks(chunksFile: File): Array[(Long, Long)] = {
    if (!chunksFile.exists()) return Array.empty
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(chunksFile), 1 << 14))
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var done = false
      while (!done) {
        try buf += ((in.readLong(), in.readLong()))
        catch { case _: EOFException => done = true }
      }
      buf.toArray
    } finally in.close()
  }

  /** Conventional chunk-map sidecar for a Data.db path. */
  def chunksFileFor(dataFile: File): File =
    new File(dataFile.getParentFile, dataFile.getName.replace("-Data.db", "-Chunks.db"))

  /**
   * Shared framing rules for a chunk map against its physical byte
   * count — ONE implementation serving both the disk path
   * (validateChunks, throws) and StreamLoader's wire path (protocol
   * error reply), so the two can never silently diverge. Returns the
   * first violation, or None for a well-framed map. An empty map is a
   * violation whenever physical bytes exist: compressed payload with no
   * chunk boundaries cannot be framed.
   */
  def chunkFramingError(chunks: Array[(Long, Long)], physTotal: Long): Option[String] = {
    val maxChunk = 1L << 30 // no sane chunk compresses to > 1 GiB
    if (physTotal < 0) return Some(s"negative physical total $physTotal")
    if (chunks.isEmpty)
      return if (physTotal == 0) None
      else Some(s"empty chunk map for $physTotal physical bytes")
    if (chunks(0)._1 != 0) return Some(s"first logical offset ${chunks(0)._1} != 0")
    if (chunks(0)._2 < 0) return Some(s"negative first physical offset ${chunks(0)._2}")
    var k = 0
    while (k < chunks.length) {
      val physEnd = if (k + 1 < chunks.length) chunks(k + 1)._2 else physTotal
      val len = physEnd - chunks(k)._2
      if (len <= 0 || len > maxChunk)
        return Some(s"chunk $k has physical extent $len " +
          s"(offsets ${chunks(k)._2} -> $physEnd)")
      if (k > 0 && chunks(k)._1 <= chunks(k - 1)._1)
        return Some(s"chunk $k logical offset ${chunks(k)._1} not ascending")
      k += 1
    }
    None
  }

  /**
   * Validate a disk-loaded chunk map against its data file's physical
   * length — a corrupt, foreign, or empty-but-bytes-present sidecar must
   * fail as LOUDLY as a missing one (naming the file), not mis-frame
   * chunk boundaries into a huge allocation or a silently garbled
   * decompress.
   */
  def validateChunks(chunksFile: File, chunks: Array[(Long, Long)],
      physTotal: Long): Unit =
    chunkFramingError(chunks, physTotal).foreach { msg =>
      throw new IllegalStateException(
        s"corrupt chunk sidecar $chunksFile: $msg — restore the sidecar or " +
          "rewrite the run")
    }

  /**
   * Open a chunked compressed run as its LOGICAL stream starting at the
   * last chunk whose logical offset is <= `startLogical` — the caller
   * still skips `startLogical - <returned logical start>` bytes. Reads
   * only the physical bytes from the seek point on.
   */
  private[graft] def openChunked(dataFile: File, codec: String, chunks: Array[(Long, Long)],
      startLogical: Long): (InputStream, Long) = {
    require(chunks.nonEmpty, s"no chunk map for $dataFile")
    var k = 0
    while (k + 1 < chunks.length && chunks(k + 1)._1 <= startLogical) k += 1
    val raw = new FileInputStream(dataFile)
    raw.getChannel.position(chunks(k)._2)
    (new ChunkedInputStream(new BufferedInputStream(raw, 1 << 16), codec, chunks,
      dataFile.length(), k, dataFile.toString), chunks(k)._1)
  }

  /**
   * A run's logical record stream, positioned at logical `offset`.
   * Uncompressed runs seek straight to it. Compressed runs with a chunk
   * map open at the chunk holding it (only the physical bytes from there
   * on are read); a corrupt map fails like a missing one. Compressed runs
   * without a chunk map are two distinct cases: the manifest says the run
   * IS chunked (`chunked`) -> the sidecar was LOST (partial copy) and a
   * sequential decompressor would stop at the first chunk boundary,
   * silently returning ~one chunk of rows — fail loudly instead; the
   * manifest predates the chunks field -> a legacy sequential run, which
   * really is one compressed stream, read from byte zero.
   */
  def openLogical(dataFile: File, codec: String, chunked: Boolean,
      offset: Long): InputStream = {
    val chunksFile = chunksFileFor(dataFile)
    val (in, start) =
      if (codec != "none" && chunksFile.exists()) {
        val chunks = readChunks(chunksFile)
        validateChunks(chunksFile, chunks, dataFile.length())
        openChunked(dataFile, codec, chunks, offset)
      } else {
        if (codec != "none" && chunked)
          throw new IllegalStateException(
            s"$dataFile is a chunked $codec run (manifest records a chunk map) but its " +
              s"sidecar ${chunksFile.getName} is missing — refusing to decode " +
              "sequentially, which would silently truncate to the first chunk; " +
              "restore the sidecar or rewrite the run")
        (new BufferedInputStream(decompress(codec, new FileInputStream(dataFile)), 1 << 16), 0L)
      }
    in.skipNBytes(offset - start)
    in
  }

  /**
   * The logical record stream of a chunked compressed run, read from
   * `src` positioned at chunk `from`'s physical offset. Each chunk's
   * physical extent (up to the next chunk's physical offset, `physEnd`
   * for the last) is read whole and decompressed independently, and the
   * chunks chain transparently. Serves run files ([[openChunked]]) and
   * the stream receiver's socket alike; callers validate the map first
   * ([[chunkFramingError]]), which bounds every extent.
   */
  final class ChunkedInputStream(src: InputStream, codec: String,
      chunks: Array[(Long, Long)], physEnd: Long, from: Int, source: String)
      extends InputStream {
    private var cur: InputStream = _
    private var k = from
    private def nextChunk(): Boolean = {
      if (k >= chunks.length) return false
      val end = if (k + 1 < chunks.length) chunks(k + 1)._2 else physEnd
      val len = (end - chunks(k)._2).toInt
      val buf = new Array[Byte](len)
      if (src.readNBytes(buf, 0, len) < len)
        throw new EOFException(s"truncated chunk $k in $source")
      cur = decompress(codec, new ByteArrayInputStream(buf))
      k += 1
      true
    }
    private val one = new Array[Byte](1)
    override def read(): Int = if (read(one, 0, 1) < 0) -1 else one(0) & 0xff
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      while (true) {
        if (cur == null && !nextChunk()) return -1
        val n = cur.read(b, off, len)
        if (n > 0) return n
        cur.close(); cur = null
      }
      -1 // unreachable
    }
    override def close(): Unit = { if (cur != null) cur.close(); src.close() }
  }

  /**
   * The one reader of the record frame (`u16 keylen, key, i32 vallen,
   * value`) over a logical stream positioned at logical `startOffset`.
   * `next()` returns false only at a clean end of stream on a record
   * boundary. It throws on an end inside a record (a torn run must never
   * read as a shorter valid one), on a negative value length, and — when
   * `declaredBytes >= 0` — on a clean end at any other logical byte count
   * than declared (short = truncated, long = records a stale manifest
   * never promised). With `readValues = false` value payloads are skipped,
   * never allocated, and `value` stays null.
   */
  final class RecordCursor(in: InputStream, source: String,
      readValues: Boolean = true, declaredBytes: Long = -1L, startOffset: Long = 0L) {
    private val data = new DataInputStream(in)
    private lazy val scratch = new Array[Byte](8192)
    var key: Array[Byte] = _
    var value: Array[Byte] = _
    /** Logical offset just past the last complete record. */
    var consumed: Long = startOffset

    def next(): Boolean = {
      // the key-length prefix is read byte-wise: only an end BEFORE its
      // first byte is a record boundary
      val b0 = data.read()
      if (b0 < 0) {
        if (declaredBytes >= 0 && consumed != declaredBytes) throw refuse("ended", null)
        return false
      }
      var part = "key-length prefix"
      try {
        val b1 = data.read()
        if (b1 < 0) throw new EOFException()
        val klen = (b0 << 8) | b1
        part = "key"
        key = new Array[Byte](klen)
        data.readFully(key)
        part = "value-length prefix"
        val vlen = data.readInt()
        if (vlen < 0) throw new IllegalStateException(
          s"$source has a negative value length $vlen after $consumed logical bytes")
        part = "value"
        if (readValues) { value = new Array[Byte](vlen); data.readFully(value) }
        else skipFully(vlen)
        consumed += 6L + klen + vlen
        true
      } catch {
        case e: EOFException =>
          throw refuse(s"is truncated mid-record (EOF inside the $part)", e)
      }
    }

    // skip by reading: FileInputStream.skip succeeds past end of file, so
    // a skipped value torn at the end would otherwise pass as complete
    private def skipFully(n: Int): Unit = {
      var left = n
      while (left > 0) {
        val r = data.read(scratch, 0, math.min(left, scratch.length))
        if (r < 0) throw new EOFException()
        left -= r
      }
    }

    private def refuse(what: String, cause: Throwable) = new IllegalStateException(
      s"$source $what after $consumed logical bytes" +
        (if (declaredBytes >= 0) s", $declaredBytes declared — truncated or stale-manifest run"
         else "") + "; refusing a partial read", cause)

    def close(): Unit = data.close()
  }
}
