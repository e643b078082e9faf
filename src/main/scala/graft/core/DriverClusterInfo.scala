package graft.core

/**
 * Live cluster-metadata fetch through the DataStax java driver, behind the
 * same `ClusterInfo` trait as the socket/JSON paths — the reference's
 * plan-time seed-node read (CassandraClusterInfo.java:61-109: connect to
 * the target URI's host, read partitioner, ring, and table metadata before
 * the job is planned).
 *
 * The driver jar is NOT on this build's (offline) classpath, so every
 * driver touch goes through reflection: `available` probes for the class,
 * `fetch` raises UnsupportedOperationException with guidance when it is
 * absent, and CI keeps exercising the socket path. The metadata itself
 * comes from the system tables (`system.local`, `system.peers`,
 * `system_schema.columns`) — the same data `describe_ring`/driver metadata
 * expose, but reachable with only `execute(String)` + row getters, which
 * keeps the reflective surface to a handful of calls. All row-to-
 * ClusterInfo mapping is pure and unit-tested with stub rows.
 */
object DriverClusterInfo {

  val SessionClass = "com.datastax.oss.driver.api.core.CqlSession"

  /** Is the java driver on the classpath? */
  def available: Boolean =
    try { Class.forName(SessionClass); true }
    catch { case _: ClassNotFoundException => false }

  /** One node's ring entry as read from system.local / system.peers. */
  final case class NodeRow(host: String, tokens: Seq[String])
  /** One column entry as read from system_schema.columns. */
  final case class ColumnRow(name: String, kind: String, position: Int)

  /**
   * Pure mapping from system-table rows to ClusterInfo. Partition-key
   * indexes follow the reference's convention: the key columns in
   * key-position order, located by index within the full column list
   * (columns sorted by kind rank then position then name — partition key
   * first, matching the driver's metadata ordering).
   */
  private[graft] def fromSystemRows(partitioner: String, nodes: Seq[NodeRow],
      columns: Seq[ColumnRow],
      replication: Option[Map[String, String]] = None): StaticClusterInfo = {
    require(nodes.nonEmpty, "no nodes in system tables")
    // Ring tokens are carried as Longs (Murmur3's token domain).
    // RandomPartitioner tokens are md5 values up to 2^127-1 — they overflow
    // Long, and every downstream ring consumer (LoaderPlan, writeSorted)
    // speaks Murmur3 vnodes, so refuse explicitly rather than dying in
    // toLong with an opaque NumberFormatException mid-parse.
    if (!partitioner.endsWith("Murmur3Partitioner"))
      throw new IllegalArgumentException(
        s"unsupported partitioner for driver metadata fetch: $partitioner " +
          "(ring tokens are Murmur3 longs; RandomPartitioner rings use " +
          "2^127 md5 tokens — plan with alignToRing(partitionerClass=" +
          "RandomPartitioner) instead, which needs no ring)")
    val ring = nodes.map(n => n.host -> n.tokens.map(_.trim.toLong))
    def kindRank(k: String): Int = k.toLowerCase match {
      case "partition_key" => 0
      case "clustering"    => 1
      case _               => 2
    }
    val ordered = columns.sortBy(c => (kindRank(c.kind), c.position, c.name))
    val names = ordered.map(_.name)
    val keyIdx = ordered.zipWithIndex
      .collect { case (c, i) if c.kind.equalsIgnoreCase("partition_key") => i }
    StaticClusterInfo(
      partitionerClass = partitioner,
      numClusterNodes = nodes.length,
      allColumnNames = names,
      partitionKeyIndexes = if (keyIdx.nonEmpty) keyIdx.toArray else Array(0),
      ring = ring,
      replicationFactor = replication.flatMap(replicationFactorOf))
  }

  /**
   * Total replica count from a keyspace's replication options map
   * (system_schema.keyspaces.replication): SimpleStrategy carries
   * `replication_factor`; NetworkTopologyStrategy carries one factor per
   * datacenter — for stream planning against a flat ring the total is the
   * sum (every replica must receive the range's data). Non-numeric /
   * absent factors -> None, and the planner falls back loudly.
   */
  private[graft] def replicationFactorOf(options: Map[String, String]): Option[Int] = {
    val factors = options.collect {
      case (k, v) if k != "class" && v.forall(_.isDigit) && v.nonEmpty => v.toInt
    }
    if (factors.isEmpty) None else Some(factors.sum)
  }

  /**
   * Connect to `host:port` with the java driver (reflectively) and read
   * partitioner/ring/table metadata. `datacenter` is the driver-4 required
   * local DC for the default load-balancing policy.
   */
  def fetch(host: String, port: Int, keyspace: String, table: String,
      datacenter: String = "datacenter1"): StaticClusterInfo = {
    if (!available)
      throw new UnsupportedOperationException(
        s"$SessionClass not on the classpath — add the DataStax java driver " +
          "to use a live metadata fetch, or use --cluster-info socket://host:port " +
          "/ a ring JSON file (the offline paths)")
    val builder = Class.forName(SessionClass).getMethod("builder").invoke(null)
    val bCls = builder.getClass
    def call(target: AnyRef, name: String, sig: Array[Class[_]], args: AnyRef*): AnyRef = {
      val m = target.getClass.getMethods.find(m =>
        m.getName == name && m.getParameterTypes.sameElements(sig))
        .getOrElse(throw new NoSuchMethodException(s"${target.getClass.getName}.$name"))
      m.setAccessible(true)
      m.invoke(target, args: _*)
    }
    val withContact = call(builder, "addContactPoint",
      Array(classOf[java.net.InetSocketAddress]),
      new java.net.InetSocketAddress(host, port))
    val withDc = call(withContact, "withLocalDatacenter",
      Array(classOf[String]), datacenter)
    val session = call(withDc, "build", Array.empty[Class[_]])
    try {
      def rows(cql: String): Seq[AnyRef] = {
        val rs = call(session, "execute", Array(classOf[String]), cql)
        val it = rs.asInstanceOf[java.lang.Iterable[AnyRef]].iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
        while (it.hasNext) buf += it.next()
        buf.toSeq
      }
      def str(row: AnyRef, col: String): String =
        call(row, "getString", Array(classOf[String]), col).asInstanceOf[String]
      // inet-typed columns (system.local.broadcast_address, system.peers
      // .peer): driver 4 has no inet<->String codec, so getString throws
      // CodecNotFoundException. getObject returns the decoded
      // java.net.InetAddress; getHostAddress avoids the "/1.2.3.4"
      // InetAddress.toString form.
      def inet(row: AnyRef, col: String): String =
        call(row, "getObject", Array(classOf[String]), col) match {
          case a: java.net.InetAddress => a.getHostAddress
          case null => "null"
          case other => String.valueOf(other)
        }
      def int(row: AnyRef, col: String): Int =
        call(row, "getInt", Array(classOf[String]), col).asInstanceOf[java.lang.Integer].intValue()
      def strSet(row: AnyRef, col: String): Seq[String] = {
        val s = call(row, "getSet", Array(classOf[String], classOf[Class[_]]),
          col, classOf[String]).asInstanceOf[java.util.Set[String]]
        val it = s.iterator(); val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) buf += it.next()
        buf.toSeq
      }
      val local = rows("SELECT broadcast_address, partitioner, tokens FROM system.local").head
      val partitioner = str(local, "partitioner")
      val localNode = NodeRow(inet(local, "broadcast_address"),
        strSet(local, "tokens"))
      val peers = rows("SELECT peer, tokens FROM system.peers").map { r =>
        NodeRow(inet(r, "peer"), strSet(r, "tokens"))
      }
      val cols = rows(
        "SELECT column_name, kind, position FROM system_schema.columns " +
          s"WHERE keyspace_name = '$keyspace' AND table_name = '$table'").map { r =>
        ColumnRow(str(r, "column_name"), str(r, "kind"), int(r, "position"))
      }
      // the keyspace's replication options — the same data describe_ring
      // reflects into per-range endpoint lists in the reference
      // (ExternalSSTableLoaderClient.java:57-137)
      val repl = rows(
        "SELECT replication FROM system_schema.keyspaces " +
          s"WHERE keyspace_name = '$keyspace'").headOption.map { r =>
        val m = call(r, "getMap",
          Array(classOf[String], classOf[Class[_]], classOf[Class[_]]),
          "replication", classOf[String], classOf[String])
          .asInstanceOf[java.util.Map[String, String]]
        val it = m.entrySet().iterator()
        val buf = scala.collection.mutable.Map.empty[String, String]
        while (it.hasNext) { val e = it.next(); buf += (e.getKey -> e.getValue) }
        buf.toMap
      }
      fromSystemRows(partitioner, localNode +: peers, cols, repl)
    } finally {
      call(session, "close", Array.empty[Class[_]])
      ()
    }
  }
}
