package graft.core

import java.net.URI

/**
 * Cluster metadata the planner needs from the target Cassandra cluster.
 * The reference fetches this live from a seed node at plan time
 * (/root/reference/src/main/java/com/spotify/hdfs2cass/cassandra/utils/
 * CassandraClusterInfo.java:61-109). Abstracted behind a trait so tests and
 * offline runs can plan without a cluster (risk item #4 in SURVEY.md §7.4).
 */
trait ClusterInfo extends Serializable {
  def partitionerClass: String
  def numClusterNodes: Int
  def allColumnNames: Seq[String]
  def partitionKeyIndexes: Array[Int]
}

/** Offline/static stand-in for a live metadata fetch.
  * `replicationFactor` is the target keyspace's rf as the cluster reports
  * it — the reference's loader learns per-range replica sets from the
  * cluster rather than assuming a constant
  * (ExternalSSTableLoaderClient.java:57-137: describe_ring returns
  * endpoint lists reflecting the keyspace's real replication). */
final case class StaticClusterInfo(
    partitionerClass: String = CassandraParams.Murmur3Partitioner,
    numClusterNodes: Int = 3,
    allColumnNames: Seq[String] = Nil,
    partitionKeyIndexes: Array[Int] = Array(0),
    ring: Seq[(String, Seq[Long])] = Nil, // (host, vnode tokens)
    replicationFactor: Option[Int] = None
) extends ClusterInfo

object StaticClusterInfo {
  /**
   * Load cluster metadata from a JSON file — the offline analog of the
   * reference's driver-side seed-node fetch (CassandraClusterInfo.java:
   * 61-109). Format:
   *   {"partitioner": "...Murmur3Partitioner",
   *    "nodes": [{"host": "h1", "tokens": [-9000000000000000000, 0]}, ...],
   *    "columns": ["rowkey", "c1"], "key_indexes": [0], "rf": 3}
   * (columns/key_indexes optional — the reference fetches them from the
   * table metadata the same way.) Parsed with a minimal hand-rolled reader
   * (no JSON library on the classpath beyond Spark's shaded ones).
   */
  def fromJsonFile(path: String): StaticClusterInfo =
    fromJsonString(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8))

  private[graft] def fromJsonString(text: String): StaticClusterInfo = {
    val partitioner = """"partitioner"\s*:\s*"([^"]+)"""".r
      .findFirstMatchIn(text).map(_.group(1))
      .getOrElse(CassandraParams.Murmur3Partitioner)
    val nodeRe = """\{\s*"host"\s*:\s*"([^"]+)"\s*,\s*"tokens"\s*:\s*\[([^\]]*)\]\s*\}""".r
    val nodes = nodeRe.findAllMatchIn(text).map { m =>
      val host = m.group(1)
      val tokens = m.group(2).split(",").iterator
        .map(_.trim).filter(_.nonEmpty).toSeq
      host -> tokens
    }.toSeq
    require(nodes.nonEmpty, "no nodes parsed from cluster metadata")
    // Ring tokens are carried as Longs (Murmur3's domain). A
    // RandomPartitioner ring's 2^127 md5 tokens overflow Long — refuse with
    // the SAME guidance as DriverClusterInfo.fromSystemRows instead of
    // dying in toLong mid-parse (this parser also backs the socket fetch,
    // so one check covers both offline metadata paths). Ring-LESS
    // RandomPartitioner metadata stays valid: alignToRing(
    // partitionerClass=RandomPartitioner) plans evenly-split ranges and
    // needs no ring.
    if (!partitioner.endsWith("Murmur3Partitioner") && nodes.exists(_._2.nonEmpty))
      throw new IllegalArgumentException(
        s"unsupported partitioner for ring metadata: $partitioner " +
          "(ring tokens are Murmur3 longs; RandomPartitioner rings use " +
          "2^127 md5 tokens — plan with alignToRing(partitionerClass=" +
          "RandomPartitioner) instead, which needs no ring)")
    val ringNodes = nodes.map { case (h, ts) => h -> ts.map(_.toLong) }
    val columns = """"columns"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(text)
      .map(_.group(1).split(",").iterator.map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val keyIdx = """"key_indexes"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(text)
      .map(_.group(1).split(",").iterator.map(_.trim).filter(_.nonEmpty).map(_.toInt).toArray)
      .getOrElse(Array(0))
    // keyspace replication factor as the cluster reports it; absent in older
    // ring files -> None, and stream planning must then be told (replication=)
    // or warn about its fallback
    val rf = """"rf"\s*:\s*(\d+)""".r.findFirstMatchIn(text).map(_.group(1).toInt)
    rf.foreach(n => require(n >= 1, s"rf must be >= 1, got $n"))
    StaticClusterInfo(partitionerClass = partitioner,
      numClusterNodes = nodes.length, allColumnNames = columns,
      partitionKeyIndexes = keyIdx, ring = ringNodes, replicationFactor = rf)
  }

  /**
   * Live metadata fetch from a seed node at plan time — the reference's
   * CassandraClusterInfo.init() boundary (connect to the seed host from
   * the target URI, read partitioner / ring / table metadata). The wire
   * peer offline is `graft.sinks.InProcessCluster`, which answers the
   * same request; a real driver-based fetch plugs in behind the same
   * `ClusterInfo` trait.
   */
  def fetch(host: String, port: Int): StaticClusterInfo = {
    val sock = new java.net.Socket()
    try {
      sock.connect(new java.net.InetSocketAddress(host, port), 2000)
      sock.setSoTimeout(5000) // a wedged seed must fail the plan, not hang it
      val out = new java.io.DataOutputStream(sock.getOutputStream)
      out.writeInt(CassandraParams.MetadataMagic)
      out.flush()
      val in = new java.io.DataInputStream(sock.getInputStream)
      // reply: int32 magic echo, uint8 status, int32 len, UTF-8 JSON bytes.
      // Length-prefixed raw bytes, NOT writeUTF — modified-UTF-8 caps the
      // payload at 64 KB, which a realistic ring (hundreds of vnodes x many
      // nodes) exceeds. The magic echo rejects talking to a non-metadata
      // port; the status byte lets the server signal failure explicitly.
      val magic = in.readInt()
      require(magic == CassandraParams.MetadataMagic,
        f"bad metadata reply magic 0x$magic%08x from $host:$port")
      val status = in.readUnsignedByte()
      require(status == 0, s"metadata fetch failed with status $status from $host:$port")
      val len = in.readInt()
      require(len >= 0 && len <= 64 * 1024 * 1024,
        s"unreasonable metadata length $len from $host:$port")
      val buf = new Array[Byte](len)
      in.readFully(buf)
      fromJsonString(new String(buf, java.nio.charset.StandardCharsets.UTF_8))
    } finally sock.close()
  }
}

/**
 * Target-URI grammar of the reference CLI, e.g.
 *   cql://host:9160/keyspace/table?reducers=8&distributerandomly&streamthrottlembits=100
 * Grammar studied from /root/reference/src/main/java/com/spotify/hdfs2cass/
 * cassandra/utils/CassandraParams.java:60-155 and README.md:80-96.
 */
final case class CassandraParams(
    scheme: String,
    seedNodeHost: String,
    seedNodePort: Int,
    keyspace: String,
    columnFamily: String,
    columnNames: Option[Seq[String]],
    reducers: Int,
    distributeRandomly: Boolean,
    streamThrottleMBits: Option[Int],
    compressionClass: Option[String],
    rpcPort: Option[Int],
    replication: Option[Int],
    clusterInfo: ClusterInfo,
    /** Hot-range salting (`saltbuckets=auto` URI param, beyond the
      * reference's grammar): hot ranges are found from a sample at write
      * time. The reference's only skew escape, `distributerandomly`,
      * forfeits ring alignment for every range; salting splits just the
      * hot ones and the sink k-way-merges them back to one sorted run per
      * range. */
    saltAuto: Boolean = false
) {
  def buildInsertStatement(cols: Seq[String]): String = {
    val qs = cols.map(_ => "?").mkString(", ")
    s"INSERT INTO $keyspace.$columnFamily (${cols.mkString(", ")}) " +
      s"VALUES ($qs) USING TIMESTAMP ? AND TTL ?"
  }
}

object CassandraParams {
  val Murmur3Partitioner = "org.apache.cassandra.dht.Murmur3Partitioner"
  val RandomPartitioner = "org.apache.cassandra.dht.RandomPartitioner"

  /** Wire magic for a cluster-metadata request ("GRFM"). */
  val MetadataMagic = 0x4752464d

  /**
   * Query-string parse: `k=v&flag` -> map, a bare key means "true", empty
   * pairs are skipped, the value may itself contain '='.
   */
  def parseQuery(query: String): Map[String, String] = {
    if (query == null || query.isEmpty) return Map.empty
    query.split("&").iterator.filter(_.nonEmpty).map { pair =>
      val idx = pair.indexOf('=')
      if (idx > -1) pair.substring(0, idx) -> pair.substring(idx + 1)
      else pair -> "true"
    }.toMap
  }

  /** Parse a target URI; `clusterInfo` supplies what a live fetch would. */
  def parse(uri: String, clusterInfo: ClusterInfo = StaticClusterInfo()): CassandraParams = {
    val u = new URI(uri)
    val q = parseQuery(Option(u.getQuery).getOrElse(""))
    val path = Option(u.getPath).getOrElse("").split("/")
    require(path.length >= 3, s"target URI path must be /<keyspace>/<table>: $uri")
    // reference parity: copiers= and mappers= are accepted but DEPRECATED-
    // AND-IGNORED with a warning (CassandraParams.java:107-109,117-119 —
    // MR1 shuffle/map-task knobs with no v2 meaning; Spark has no analog)
    for (knob <- Seq("copiers", "mappers") if q.contains(knob))
      System.err.println(
        s"[graft] URI param '$knob' is deprecated and ignored (reference parity)")
    // reference parity: thrift targets still work but warn at parse time
    // (CassandraParams.java:129-131)
    if ("thrift".equalsIgnoreCase(u.getScheme))
      Console.err.println(
        "[graft] Thrift support is deprecated, please use CQL instead")
    val distributeRandomly = q.get("distributerandomly").exists(_.toBoolean)
    // a typo or a hand-written salt map must not silently write an
    // unsalted layout, and a contradiction fails before the sample job
    val saltAuto = q.get("saltbuckets").exists { v =>
      require(v == "auto", s"saltbuckets= takes only 'auto' (hot ranges " +
        s"are found from a sample), got '$v'")
      require(!distributeRandomly &&
        clusterInfo.partitionerClass == Murmur3Partitioner,
        "saltbuckets=auto needs the Murmur3 partitioner and no " +
          "distributerandomly — salting IS the ring-preserving alternative " +
          "to distributerandomly")
      true
    }
    CassandraParams(
      scheme = u.getScheme,
      seedNodeHost = u.getHost,
      seedNodePort = u.getPort,
      keyspace = path(1),
      columnFamily = path(2),
      columnNames = q.get("columnnames").map(_.split(",").toSeq),
      reducers = q.get("reducers").map(_.toInt).getOrElse(clusterInfo.numClusterNodes),
      distributeRandomly = distributeRandomly,
      streamThrottleMBits = q.get("streamthrottlembits").map(_.toInt),
      compressionClass = q.get("compressionclass"),
      rpcPort = q.get("rpcport").map(_.toInt),
      // replication= overrides the cluster-reported rf for stream planning
      // (the reference has no such knob because it always asks the cluster;
      // offline ring files may predate the rf field, so the override keeps
      // those loadable without editing metadata)
      replication = q.get("replication").map { v =>
        val n = v.toInt
        require(n >= 1, s"replication= must be >= 1, got $v")
        n
      },
      clusterInfo = clusterInfo,
      saltAuto = saltAuto
    )
  }
}

/**
 * Legacy TSV line, the reference's original input format:
 *   HdfsToCassandra\t<version>\t<rowkey>\t<colname>\t[<ts>]\t[<ttl>]\t<value>
 * version 1 = no ts/ttl, 2 = ts only, 3 = both. Malformed lines fail the job
 * with a descriptive error. Semantics studied from /root/reference/src/main/
 * java/com/spotify/hdfs2cass/LegacyInputFormat.java:57-129.
 */
final case class LegacyLine(rowkey: String, colname: String, value: String, timestamp: Long, ttl: Long)

object LegacyLine {
  val Prefix = "HdfsToCassandra"

  def parse(row: String, defaultTimestampMillis: Long): LegacyLine = {
    val parts = row.split("\t")
    if (parts.length < 4 || parts(0) != Prefix)
      throw new IllegalArgumentException(
        s"Found malformed row. The rows must start with '$Prefix'")
    val version =
      try parts(1).toInt
      catch { case _: NumberFormatException => throw new IllegalArgumentException("Unknown format version") }
    version match {
      case 1 =>
        checkArity(parts, 5)
        LegacyLine(parts(2), parts(3), parts(4), defaultTimestampMillis, 0L)
      case 2 =>
        checkArity(parts, 6)
        LegacyLine(parts(2), parts(3), parts(5), num(parts(4)), 0L)
      case 3 =>
        checkArity(parts, 7)
        LegacyLine(parts(2), parts(3), parts(6), num(parts(4)), num(parts(5)))
      case _ =>
        throw new IllegalArgumentException("Unknown format version")
    }
  }

  private def checkArity(parts: Array[String], n: Int): Unit =
    if (parts.length != n)
      throw new IllegalArgumentException("Found malformed row. Check correct row format.")

  private def num(s: String): Long =
    try s.toInt.toLong
    catch { case e: NumberFormatException => throw new IllegalArgumentException(e) }
}
