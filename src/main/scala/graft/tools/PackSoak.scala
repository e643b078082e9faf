package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.operators.Curate

/**
 * Sequence-packing soak: N synthetic docs through packBlocks to show the
 * two-phase prefix sum scales — driver state is one long per partition
 * regardless of corpus size, and the result is partition-count invariant
 * at soak scale (asserted by re-running with a different partition count
 * and fingerprinting both assignments).
 *
 *   sbt "runMain graft.tools.PackSoak 5000000"
 */
object PackSoak {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 5000000L
    val spark = Sessions.local(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // variable-length docs: 5-104 words, content irrelevant to packing
    def docs(s: SparkSession) = s.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", sequence(lit(0), pmod(col("id"), lit(100)) + 4)).as("text"))

    def fingerprint(s: SparkSession, parts: Int): (Long, Long, Double) = {
      val sess = s.newSession()
      sess.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val t0 = System.nanoTime()
      val packed = Curate.packBlocks(
        sess.createDataFrame(docs(sess).rdd, docs(sess).schema),
        "doc_id", "text", blockTokens = 2048L)
      // order-insensitive fingerprint of the full assignment + total
      // tokens (hash masked to 32 bits: the sum of N x 2^32 values stays
      // inside a signed long under ANSI arithmetic)
      val r = packed.agg(
        sum(xxhash64(col("doc_id"), col("n_tokens"), col("token_offset"),
          col("block_id")).bitwiseAND(lit(0xFFFFFFFFL))).as("fp"),
        sum(col("n_tokens")).as("toks")).head()
      (r.getLong(0), r.getLong(1), (System.nanoTime() - t0) / 1e9)
    }

    val (fp32, toks, sec) = fingerprint(spark, 32)
    val (fp7, toks7, _) = fingerprint(spark, 7)
    require(fp32 == fp7 && toks == toks7,
      s"partition-count variance: 32 parts -> $fp32/$toks, 7 parts -> $fp7/$toks7")
    println(s"""{"docs":$n,"tokens":$toks,"sec":${f"$sec%.1f"},""" +
      s""""docs_per_sec":${(n / sec).toLong},"partition_invariant":true}""")
    spark.stop()
  }
}
