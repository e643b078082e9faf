package graft.sinks

import graft.core.CassandraTokens

/**
 * Stream planning — the SSTableLoader-client half of the reference's sink
 * (behavior studied from cassandra/thrift/ExternalSSTableLoaderClient.java:
 * 57-137 and cassandra/cql/CrunchExternalClient.java:37-64): discover the
 * ring's token ranges and their replica endpoints, then send each sorted
 * run to every endpoint owning a token it covers. The network transfer
 * itself needs a live cluster; this module computes the exact plan a
 * loader executes, so the offline sink's manifests are directly loadable.
 *
 * Replica placement is SimpleStrategy: a range (prev, tok] is owned by the
 * node holding `tok` plus the next rf-1 DISTINCT nodes walking the ring
 * clockwise (vnodes of the same host skip).
 */
object LoaderPlan {

  /** A node and its (vnode) tokens. */
  final case class RingNode(host: String, tokens: Seq[Long])

  /** One ring range: (start, end] owned by `replicas`. */
  final case class TokenRange(start: Long, end: Long, replicas: Seq[String])

  /** Full ring: sorted token ranges with SimpleStrategy replica sets. */
  def ranges(nodes: Seq[RingNode], rf: Int): Seq[TokenRange] = {
    require(nodes.nonEmpty && rf >= 1)
    require(rf <= nodes.length, s"rf=$rf exceeds ${nodes.length} nodes")
    val ring = nodes.flatMap(n => n.tokens.map(_ -> n.host)).sortBy(_._1)
    require(ring.nonEmpty, "ring has no tokens")
    val m = ring.length
    (0 until m).map { i =>
      val (tok, _) = ring(i)
      val prev = ring((i - 1 + m) % m)._1
      // walk clockwise from this token collecting rf distinct hosts
      val replicas = Iterator.from(0).map(j => ring((i + j) % m)._2)
        .take(m) // at most one lap
        .foldLeft(Vector.empty[String])((acc, h) =>
          if (acc.length < rf && !acc.contains(h)) acc :+ h else acc)
      TokenRange(prev, tok, replicas)
    }
  }

  /** Which hosts must receive a token (all replicas of its range).
    * The ring wraps: tokens above the highest vnode token belong to the
    * lowest token's range. */
  def replicasFor(token: Long, rs: Seq[TokenRange]): Seq[String] = {
    val sorted = rs.sortBy(_.end)
    sorted.find(r => token <= r.end && token > r.start)
      .orElse(sorted.find(r => r.start > r.end && (token > r.start || token <= r.end)))
      .getOrElse(sorted.head) // wrapped past the top -> first range
      .replicas
  }

  /** File -> endpoint set: a sorted run streams to every replica of every
    * range it intersects ([minToken, maxToken] of the manifest). */
  def planStreams(manifests: Seq[BulkSink.PartitionManifest],
      nodes: Seq[RingNode], rf: Int): Map[String, Set[String]] = {
    // compressed runs stream too: the session ships the chunk map and the
    // receiver verifies the reconstructed logical stream (the pre-r9
    // refusal predates chunked compression)
    val rs = ranges(nodes, rf)
    manifests.filter(_.rows > 0).map { man =>
      val targets = rs.filter(r => intersects(man.minToken, man.maxToken, r))
        .flatMap(_.replicas).toSet
      man.dataFile -> targets
    }.toMap
  }

  /** Persist a plan as `_STREAM_PLAN.json` in `outDir`, next to the
    * manifests. Files and each file's hosts are sorted, so equal plans
    * write equal bytes. */
  def writePlanJson(outDir: String, plan: Map[String, Set[String]]): Unit = {
    val json = plan.toSeq.sortBy(_._1).map { case (f, hosts) =>
      s""""$f": [${hosts.toSeq.sorted.map(h => s""""$h"""").mkString(", ")}]"""
    }.mkString("{", ", ", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(outDir, "_STREAM_PLAN.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def intersects(lo: Long, hi: Long, r: TokenRange): Boolean = {
    if (r.start < r.end) !(hi <= r.start || lo > r.end)
    else lo <= r.end || hi > r.start // wraparound range
  }
}
