package graft.tools

import org.apache.spark.sql.functions._

import graft.Sessions
import graft.operators.CqlPipeline
import graft.operators.CqlPipeline.Projection
import graft.sinks.BulkSink

/**
 * Bulk-sink soak: N synthetic rows through the full pipeline (projection
 * -> partition-key/token -> ring shuffle+sort -> sorted runs) to measure
 * sustained sink throughput well beyond the test scale factors.
 *
 *   sbt "runMain graft.tools.Soak 10000000 32 /tmp/graft-soak"
 */
object Soak {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 10000000L
    val buckets = if (args.length > 1) args(1).toInt else 32
    val out = if (args.length > 2) args(2) else "/tmp/graft-soak"
    val spark = Sessions.local(Sessions.cpus)
      .config("spark.sql.shuffle.partitions", buckets)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val df = spark.range(n).select(
      concat(lit("user-"), col("id")).as("user_id"),
      (col("id") % 97).cast("int").as("score"),
      concat(lit("payload-"), col("id") % 1000).as("payload"))
    val projected = CqlPipeline.toCql(df, Projection(defaultTimestampMicros = 1L))

    val t0 = System.nanoTime()
    val manifests = BulkSink.writeSorted(projected, Seq("rowkey"), buckets, out)
    val sec = (System.nanoTime() - t0) / 1e9
    val rows = manifests.map(_.rows).sum
    val bytes = manifests.map(_.bytes).sum
    val skew = manifests.map(_.rows).max.toDouble / (rows.toDouble / manifests.length)

    // read-side pruning at the same scale: a narrow token predicate must
    // cost a fraction of the full re-scan (manifest range pruning + sparse
    // index seek + sorted early-stop)
    def scan() = spark.read.format("graft-bulk").option("path", out).load()
    val tFull0 = System.nanoTime()
    val fullRows = scan().count()
    val fullSec = (System.nanoTime() - tFull0) / 1e9
    val width = Long.MaxValue / 64 // ~1/32 of the ring, signed span
    val (lo, hi) = (-width, width)
    val tPr0 = System.nanoTime()
    val prunedRows = scan().filter(col("token") >= lo && col("token") <= hi).count()
    val prunedSec = (System.nanoTime() - tPr0) / 1e9

    println(f"""{"rows":$rows,"buckets":${manifests.length},"sec":$sec%.1f,""" +
      f""""rows_per_sec":${(rows / sec).toLong},"mb":${bytes / 1e6}%.0f,""" +
      f""""mb_per_sec":${bytes / 1e6 / sec}%.1f,"max_bucket_skew":$skew%.3f,""" +
      f""""full_scan_sec":$fullSec%.1f,"full_scan_rows":$fullRows,""" +
      f""""pruned_scan_sec":$prunedSec%.1f,"pruned_scan_rows":$prunedRows,""" +
      f""""pruned_speedup":${fullSec / prunedSec}%.1f}""")
    spark.stop()
  }
}
