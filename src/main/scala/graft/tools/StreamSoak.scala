package graft.tools

import org.apache.spark.sql.functions._

import graft.Sessions
import graft.operators.CqlPipeline
import graft.operators.CqlPipeline.Projection
import graft.sinks.{BulkSink, InProcessCluster, LoaderPlan, StreamLoader}

/**
 * Streaming-boundary soak: N synthetic rows through the full load path
 * INCLUDING the socket transfer — sorted bulk load, replica planning, then
 * StreamLoader pushing every run to rf in-process "nodes" that re-verify
 * decorated-key order and counts. Measures the transfer throughput the
 * offline loader skeleton sustains (each byte crosses a real TCP socket
 * rf times).
 *
 *   sbt "runMain graft.tools.StreamSoak 5000000 16 /tmp/graft-ssoak [throttleMBits] [rf] [codec]"
 *
 * The 4th argument caps per-session throughput the way the target URI's
 * `streamthrottlembits=` does (0 = unthrottled) — the soak's measured
 * wire_mb_per_sec must come out <= cap * sessions / 8. The 5th argument
 * is the replication factor the plan fans out to (default 2, max 3
 * nodes); the 6th a compressionclass codec — compressed runs stream
 * chunked, the receiver verifying the reconstructed logical stream.
 */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 5000000L
    val buckets = if (args.length > 1) args(1).toInt else 16
    val out = if (args.length > 2) args(2) else "/tmp/graft-ssoak"
    val throttleMBits = if (args.length > 3) Some(args(3).toInt).filter(_ > 0) else None
    val rf = if (args.length > 4) args(4).toInt else 2
    val codec = if (args.length > 5) Some(args(5)).filter(_ != "none") else None
    require(rf >= 1 && rf <= 3, s"rf must be 1..3 (3-node soak ring), got $rf")
    val spark = Sessions.local(Sessions.cpus)
      .config("spark.sql.shuffle.partitions", buckets)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val df = spark.range(n).select(
      concat(lit("user-"), col("id")).as("user_id"),
      (col("id") % 97).cast("int").as("score"),
      concat(lit("payload-"), col("id") % 1000).as("payload"))
    val projected = CqlPipeline.toCql(df, Projection(defaultTimestampMicros = 1L))
    val manifests = BulkSink.writeSorted(projected, Seq("rowkey"), buckets, out,
      compression = codec)

    // 3-node ring, evenly spaced vnodes
    val hosts = Seq("node-1", "node-2", "node-3")
    val step = java.lang.Long.divideUnsigned(-1L, 6L)
    val nodes = hosts.zipWithIndex.map { case (h, i) =>
      LoaderPlan.RingNode(h, Seq(Long.MinValue + (2L * i + 1L) * step,
        Long.MinValue + (2L * i + 2L) * step))
    }
    val plan = LoaderPlan.planStreams(manifests, nodes, rf)
    val cluster = new InProcessCluster(hosts,
      ring = nodes.map(nd => nd.host -> nd.tokens).toMap)
    val endpoints = cluster.start()
    try {
      val t0 = System.nanoTime()
      val summary = StreamLoader.stream(out, plan, endpoints, manifests,
        throttleMBits = throttleMBits)
      val sec = (System.nanoTime() - t0) / 1e9
      require(summary.failed.isEmpty, s"failed sessions: ${summary.failed}")
      val rows = manifests.map(_.rows).sum
      val fileBytes = manifests.map(_.bytes).sum
      // the wire carries the file's PHYSICAL bytes (compressed sessions
      // ship chunk bytes + chunk map; uncompressed physical == logical)
      val wireBytes = plan.map { case (f, hs) =>
        manifests.find(_.dataFile == f).map(m =>
          if (m.physicalBytes >= 0) m.physicalBytes else m.bytes).getOrElse(0L) * hs.size
      }.sum
      val verified = cluster.receivedStreams.values.count(_.sortedOk)
      val physBytes = manifests.map(m =>
        if (m.physicalBytes >= 0) m.physicalBytes else m.bytes).sum
      println(f"""{"rows":$rows,"sessions":${summary.sessions.length},""" +
        f""""verified_streams":$verified,"rf":$rf,"sec":$sec%.1f,""" +
        f""""file_mb":${fileBytes / 1e6}%.0f,"wire_mb":${wireBytes / 1e6}%.0f,""" +
        f""""physical_mb":${physBytes / 1e6}%.0f,""" +
        f""""wire_mb_per_sec":${wireBytes / 1e6 / sec}%.1f,""" +
        f""""codec":"${codec.map(graft.sinks.SortedRunWriter.normalizeCodec).getOrElse("none")}",""" +
        f""""throttle_mbits":${throttleMBits.getOrElse(0)}}""")
    } finally cluster.stop()
    spark.stop()
  }
}
