package graft.tools

import org.apache.spark.sql.functions.col

import graft.Sessions

/**
 * No-shuffle rewrite of a graft-bulk directory — the compaction-style
 * maintenance operation a large deployment needs: change the compression
 * codec or chunk size of an existing load (or defragment a manifest-less
 * copy back to a manifested one) WITHOUT re-exchanging or re-sorting a
 * byte. The scan declares per-split ordering and placement, the write
 * runs `aligned=true` + `payload=raw`, so the plan is scan → project →
 * write: records land verbatim (the run writer still re-verifies
 * decorated order, so a corrupt source fails loudly instead of
 * propagating).
 *
 *   sbt "runMain graft.tools.Recompress IN_DIR OUT_DIR [codec] [chunkKiB]"
 *
 * codec: none | DeflateCompressor | LZ4Compressor | SnappyCompressor |
 * ZstdCompressor (reference compressionclass names). At 100 TB this is
 * one pass of sequential reads and writes, embarrassingly parallel over
 * runs, with zero network cost — exactly what a shuffle-based rewrite
 * would NOT be.
 */
object Recompress {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Recompress IN_DIR OUT_DIR [codec] [chunkKiB]")
    val in = args(0)
    val out = args(1)
    val codec = if (args.length > 2) Some(args(2)).filter(_ != "none") else None
    val chunkKiB = if (args.length > 3) args(3).toInt else 64
    val spark = Sessions.local(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    // partitioner-aware: a RandomPartitioner directory (hex token ranges
    // in its manifests) is md5-sorted, so the rewrite keys by the md5
    // token recomputed from the pk — feeding the reader's murmur3 `token`
    // to the writer would fail its decorated-order check on row two
    val srcManifests = graft.sinks.BulkSink.readManifests(new java.io.File(in))
    val randomSrc = srcManifests.exists(_.minTokenHex.nonEmpty)
    val tokenExpr =
      if (randomSrc) graft.functions.cassandra_random_token(col("pk"))
      else col("token")
    val w = spark.read.format("graft-bulk").option("path", in).load()
      .select(tokenExpr.as("_token"), col("pk").as("_pk"),
        col("value"), col("bucket").as("_bucket"))
      .write.format("graft-bulk")
      .option("path", out).option("aligned", "true").option("payload", "raw")
      .option("chunksize", (chunkKiB * 1024).toString)
    codec.fold(w)(c => w.option("compressionclass", c)).mode("append").save()
    val sec = (System.nanoTime() - t0) / 1e9

    val src = graft.sinks.BulkSink.readManifests(new java.io.File(in))
    val dst = graft.sinks.BulkSink.readManifests(new java.io.File(out))
    require(dst.map(_.rows).sum == src.map(_.rows).sum || src.isEmpty,
      s"row count drifted: ${src.map(_.rows).sum} -> ${dst.map(_.rows).sum}")
    val phys = dst.map(m => if (m.physicalBytes >= 0) m.physicalBytes else m.bytes).sum
    println(f"""{"rows":${dst.map(_.rows).sum},"runs":${dst.count(_.rows > 0)},""" +
      f""""logical_mb":${dst.map(_.bytes).sum / 1e6}%.1f,"physical_mb":${phys / 1e6}%.1f,""" +
      f""""codec":"${dst.map(_.codec).distinct.mkString(",")}","sec":$sec%.1f}""")
    spark.stop()
  }
}
