package graft.sinks

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, File, FileInputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.core.CassandraTokens

/**
 * Offline SSTable-streaming skeleton: the network boundary the reference
 * crosses on task close (CrunchCqlBulkRecordWriter.java:153-181 — build
 * SSTables, then `loader.stream(...)`, warn on partially-failed sessions,
 * fail the task when streaming fails outright; behavior studied, not
 * copied). A live Cassandra cluster is out of reach offline, so the
 * receiving side is an in-process socket "cluster" that performs the
 * checks a real node's stream-in path enforces: decorated-key order,
 * declared row/byte counts, and per-replica fan-out.
 *
 * Framing (one session per (run file, replica)):
 *   int32  magic 0x47524654 ("GRFT")
 *   UTF    data file name
 *   int64  rows declared   int64 bytes declared (LOGICAL record bytes)
 *   UTF    codec id ("none"/"deflate"/"lz4"/"snappy"/"zstd")
 *   if codec != none (chunked compressed run, Cassandra streams compressed
 *   sections + CompressionInfo the same way):
 *     int32 chunk count, per chunk (int64 logicalOffset, int64 physicalOffset),
 *     int64 physical bytes total
 *   <payload: raw file bytes — the logical record stream when codec=none,
 *    the compressed chunk bytes otherwise; the receiver reads it through
 *    SortedRunWriter's ChunkedInputStream and RecordCursor>
 *   reply: uint8 status (0 ok), UTF message, int64 rows received
 *
 * In a cluster deployment `streamRun` is invoked from each task's commit
 * (the file is local to the task, like the reference's per-reducer close);
 * the driver-side `stream` here walks the manifests of a directory-mode
 * load, which is equivalent on local[*].
 */
object StreamLoader {

  val Magic = 0x47524654

  final case class SessionResult(dataFile: String, host: String,
      ok: Boolean, message: String, rows: Long)

  final case class StreamSummary(sessions: Seq[SessionResult]) {
    def failed: Seq[SessionResult] = sessions.filterNot(_.ok)
    def failedHosts: Set[String] = failed.map(_.host).toSet
  }

  /**
   * Stream every non-empty run to all replicas in its plan — a file's
   * replica sessions run CONCURRENTLY (the reference's loader opens a
   * stream session per endpoint at once), files sequentially. Mirrors the
   * reference's failure contract: sessions that fail are collected and
   * WARNed (StreamState.hasFailedSession branch); a run whose sessions ALL
   * fail means the data is on no replica — job failure (the
   * ExecutionException branch rethrown as CrunchRuntimeException).
   */
  def stream(outDir: String, plan: Map[String, Set[String]],
      endpoints: Map[String, (String, Int)],
      manifests: Seq[BulkSink.PartitionManifest],
      parallelism: Int = 4,
      throttleMBits: Option[Int] = None): StreamSummary = {
    val byFile = manifests.map(m => m.dataFile -> m).toMap
    // a compressed run streams its chunk map alongside; refuse up front if
    // the sidecar is missing (a pre-chunking compressed run cannot be
    // verified by the receiver without inflating the whole session blind)
    plan.keys.foreach { dataFile =>
      byFile.get(dataFile).filter(m => m.codec != "none" && m.rows > 0).foreach { m =>
        val cf = SortedRunWriter.chunksFileFor(new File(outDir, m.dataFile))
        require(cf.exists(),
          s"compressed run ${m.dataFile} has no chunk map ($cf missing): " +
            "rewrite it with a current writer to stream it")
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, parallelism))
    try {
      val sessions = plan.toSeq.sortBy(_._1).flatMap { case (dataFile, hosts) =>
        val man = byFile.getOrElse(dataFile,
          throw new IllegalArgumentException(s"no manifest for $dataFile"))
        // resolve every endpoint BEFORE submitting anything, so a lookup
        // failure cannot leave already-submitted sessions streaming
        // detached behind the thrown exception
        val resolved = hosts.toSeq.sorted.map { host =>
          val (addr, port) = endpoints.getOrElse(host,
            throw new IllegalArgumentException(s"no endpoint for replica $host"))
          (host, addr, port)
        }
        val futures = resolved.map { case (host, addr, port) =>
          pool.submit(new java.util.concurrent.Callable[SessionResult] {
            override def call(): SessionResult =
              streamRun(new File(outDir, dataFile), man, host, addr, port,
                throttleMBits)
          })
        }
        val results = futures.map(_.get())
        if (results.nonEmpty && results.forall(!_.ok))
          throw new IllegalStateException(
            s"Streaming to the following hosts failed: ${results.map(_.host).mkString(", ")}" +
              s" — no replica holds $dataFile")
        results
      }
      StreamSummary(sessions)
    } finally { pool.shutdown(); () }
  }

  /** One (file, replica) session; connection/protocol errors become a
    * failed session, not an exception (partial failures are survivable).
    * `host` is the logical replica name (reporting); `addr:port` is the
    * wire address it listens on. `throttleMBits` enforces the target
    * URI's `streamthrottlembits` per session (the reference hands it to
    * SSTableLoader as the stream rate cap,
    * CrunchBulkRecordWriter.java:98-101 / CassandraParams.java:96-101):
    * a pacing loop over the 64 KiB writes — after each chunk the sender
    * sleeps until wall-clock catches up with bytes/rate, so sustained
    * throughput never exceeds the cap while small files still finish in
    * one burst. */
  private[graft] def streamRun(file: File, man: BulkSink.PartitionManifest,
      host: String, addr: String, port: Int,
      throttleMBits: Option[Int] = None): SessionResult =
    try {
      val sock = new Socket()
      try {
        sock.connect(new InetSocketAddress(addr, port), 2000)
        sock.setSoTimeout(30000) // a wedged replica fails the session, not the job
        val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
        out.writeInt(Magic)
        out.writeUTF(man.dataFile)
        out.writeLong(man.rows)
        out.writeLong(man.bytes)
        out.writeUTF(man.codec)
        if (man.codec != "none") {
          // ship the chunk map so the receiver can bound and decompress
          // each chunk of the physical payload independently
          val chunks = SortedRunWriter.readChunks(SortedRunWriter.chunksFileFor(file))
          // fail on a corrupt local sidecar BEFORE streaming: the receiver
          // would reject the framing anyway — fail it here with the file name
          SortedRunWriter.validateChunks(SortedRunWriter.chunksFileFor(file),
            chunks, file.length())
          out.writeInt(chunks.length)
          chunks.foreach { case (lo, po) => out.writeLong(lo); out.writeLong(po) }
          out.writeLong(file.length())
        }
        val bytesPerSec = throttleMBits.map(_ * 1000000.0 / 8.0)
        val t0 = System.nanoTime()
        var sent = 0L
        val in = new FileInputStream(file)
        try {
          val buf = new Array[Byte](64 * 1024)
          var n = in.read(buf)
          while (n >= 0) {
            out.write(buf, 0, n)
            sent += n
            bytesPerSec.foreach { bps =>
              // sleep until this many bytes were "due" — a rate limiter
              // with no burst debt accumulation beyond one chunk
              val dueNanos = t0 + (sent / bps * 1e9).toLong
              val wait = dueNanos - System.nanoTime()
              if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
            }
            n = in.read(buf)
          }
        } finally in.close()
        out.flush()
        sock.shutdownOutput()
        val reply = new DataInputStream(sock.getInputStream)
        val status = reply.readUnsignedByte()
        val msg = reply.readUTF()
        val rows = reply.readLong()
        SessionResult(man.dataFile, host, status == 0, msg, rows)
      } finally sock.close()
    } catch {
      case e: Exception =>
        SessionResult(man.dataFile, host, ok = false, s"session failed: ${e.getMessage}", 0L)
    }
}

/**
 * In-process socket "cluster": one listener per logical node, each
 * verifying incoming streams the way a receiving node would — rows must
 * arrive in decorated-key order (token, then unsigned key bytes), and the
 * declared row/byte counts must match what is read off the wire. Received
 * streams are recorded per node so tests can assert replica fan-out.
 *
 * Every node also answers cluster-METADATA requests
 * (`CassandraParams.MetadataMagic`) with partitioner / ring / table
 * metadata — the peer of `StaticClusterInfo.fetch`, standing in for the
 * reference's seed-node metadata read (CassandraClusterInfo.java:61-109).
 */
final class InProcessCluster(hosts: Seq[String],
    ring: Map[String, Seq[Long]] = Map.empty,
    partitioner: String = graft.core.CassandraParams.Murmur3Partitioner,
    tableColumns: Seq[String] = Nil,
    keyIndexes: Seq[Int] = Seq(0),
    replicationFactor: Option[Int] = None) {

  final case class Received(host: String, dataFile: String, rows: Long,
      bytes: Long, sortedOk: Boolean)

  private val servers = new ConcurrentHashMap[String, ServerSocket]()
  private val threads = new ConcurrentHashMap[String, Thread]()
  private val received = new ConcurrentHashMap[String, Received]()

  /** Start all listeners; returns host -> (address, port). */
  def start(): Map[String, (String, Int)] = hosts.map { host =>
    val server = new ServerSocket(0, 16, java.net.InetAddress.getByName("127.0.0.1"))
    servers.put(host, server)
    val t = new Thread(() => acceptLoop(host, server), s"graft-node-$host")
    t.setDaemon(true)
    t.start()
    threads.put(host, t)
    host -> ("127.0.0.1" -> server.getLocalPort)
  }.toMap

  /** Kill one node (tests inject replica failure with this). */
  def stopNode(host: String): Unit =
    Option(servers.remove(host)).foreach(s => try s.close() catch { case _: Exception => })

  def stop(): Unit = hosts.foreach(stopNode)

  /** Everything this cluster accepted, keyed (host, dataFile). */
  def receivedStreams: Map[(String, String), Received] =
    received.asScala.map { case (k, v) => (v.host, v.dataFile) -> v }.toMap

  private def acceptLoop(host: String, server: ServerSocket): Unit =
    try {
      while (!server.isClosed) {
        val sock = server.accept()
        try handle(host, sock) finally sock.close()
      }
    } catch { case _: Exception => () } // closed socket ends the loop

  private def handle(host: String, sock: Socket): Unit = {
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new DataOutputStream(sock.getOutputStream)
    val magic = in.readInt()
    if (magic == graft.core.CassandraParams.MetadataMagic) {
      // magic echo + status + length-prefixed UTF-8 bytes (writeUTF caps
      // at 64 KB — a realistic ring's JSON is bigger); peer of
      // StaticClusterInfo.fetch
      val payload = metadataJson.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(graft.core.CassandraParams.MetadataMagic)
      out.writeByte(0)
      out.writeInt(payload.length)
      out.write(payload)
      out.flush(); return
    }
    if (magic != StreamLoader.Magic) { reply(out, 1, "bad magic", 0); return }
    val dataFile = in.readUTF()
    val declaredRows = in.readLong()
    val declaredBytes = in.readLong()
    val codec = in.readUTF()
    // compressed sessions carry their chunk map; the receiver rebuilds the
    // LOGICAL record stream chunk by chunk (each chunk decompresses
    // independently, bounded by the next chunk's physical offset) and
    // verifies order/counts on it — the wire carries only physical bytes
    val logical: java.io.InputStream =
      if (codec == "none") in
      else {
        val nChunks = in.readInt()
        if (nChunks < 0 || nChunks > 16 * 1024 * 1024) {
          reply(out, 1, s"unreasonable chunk count $nChunks", 0); return
        }
        val chunks = Array.fill(nChunks)((in.readLong(), in.readLong()))
        val physTotal = in.readLong()
        // the offsets are wire-supplied — validate BEFORE allocating from
        // them (a negative or overflowed extent must be a clean protocol
        // error, like the chunk-count check above, not an allocation
        // crash). SAME core as the disk-sidecar path (validateChunks):
        // the two framings can never silently diverge.
        SortedRunWriter.chunkFramingError(chunks, physTotal) match {
          case Some(msg) => reply(out, 1, s"bad chunk framing: $msg", 0); return
          case None      => ()
        }
        new SortedRunWriter.ChunkedInputStream(in, codec, chunks, physTotal, 0,
          s"session $dataFile")
      }
    // the socket stays open for the reply: the cursor is never closed here
    val records = new SortedRunWriter.RecordCursor(logical, s"session $dataFile",
      readValues = false, declaredBytes = declaredBytes)

    var rows = 0L
    var sortedOk = true
    // the order check dispatches on the node's declared partitioner —
    // a RandomPartitioner ring sorts by md5-token decorated keys, not
    // Murmur3 (compareRandomDecorated recomputes the md5 per row; the
    // verification path favors simplicity over caching the 16 bytes)
    val random =
      partitioner == graft.core.CassandraParams.RandomPartitioner
    var prevTok = Long.MinValue
    var prevKey: Array[Byte] = null
    try {
      while (records.next()) {
        val key = records.key
        if (random) {
          if (prevKey != null &&
              CassandraTokens.compareRandomDecorated(prevKey, key) > 0)
            sortedOk = false
        } else {
          val tok = CassandraTokens.token(key)
          if (prevKey != null &&
              CassandraTokens.compareDecorated(prevTok, prevKey, tok, key) > 0)
            sortedOk = false
          prevTok = tok
        }
        prevKey = key
        rows += 1
      }
    } catch {
      case e: Exception => reply(out, 1, s"stream parse error: ${e.getMessage}", rows); return
    }

    if (!sortedOk) reply(out, 1, "rows not in decorated-key order", rows)
    else if (rows != declaredRows) reply(out, 1, s"row count $rows != declared $declaredRows", rows)
    else {
      received.put(s"$host|$dataFile",
        Received(host, dataFile, rows, records.consumed, sortedOk))
      reply(out, 0, "ok", rows)
    }
  }

  private def reply(out: DataOutputStream, status: Int, msg: String, rows: Long): Unit = {
    out.writeByte(status); out.writeUTF(msg); out.writeLong(rows); out.flush()
  }

  /** The same JSON grammar `StaticClusterInfo.fromJsonString` parses. */
  private def metadataJson: String = {
    val nodesJson = hosts.map { h =>
      val toks = ring.getOrElse(h, Nil).mkString(", ")
      s"""{"host": "$h", "tokens": [$toks]}"""
    }.mkString("[", ", ", "]")
    val cols = tableColumns.map(c => s""""$c"""").mkString("[", ", ", "]")
    val rfField = replicationFactor.fold("")(n => s""", "rf": $n""")
    s"""{"partitioner": "$partitioner", "nodes": $nodesJson, """ +
      s""""columns": $cols, "key_indexes": [${keyIndexes.mkString(", ")}]$rfField}"""
  }
}

object InProcessCluster {
  /** The plan writer loader-side callers know; [[LoaderPlan.writePlanJson]]
    * owns the `_STREAM_PLAN.json` format. */
  def writePlanJson(outDir: String, plan: Map[String, Set[String]]): Unit =
    LoaderPlan.writePlanJson(outDir, plan)
}
