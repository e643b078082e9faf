package graft.tools

import org.apache.spark.sql.functions._

import graft.Sessions
import graft.operators.Similarity

/**
 * ANN soak: 1M synthetic 64-dim vectors, 10 queries; brute-force cosine
 * top-k (the exact baseline, codegen'd dot kernel) vs random-hyperplane
 * LSH (the scale path). Reports wall time for both and how much of the
 * corpus the LSH variant actually scored.
 *
 *   sbt "runMain graft.tools.AnnSoak 1000000"
 */
object AnnSoak {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 1000000L
    val spark = Sessions.local(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // clustered vectors: 1000 cluster centers, small per-vector noise —
    // true neighbors share a cluster (uniform random vectors have no
    // similarity structure and are adversarial for any ANN index)
    val cluster = pmod(col("id"), lit(1000))
    val vec = transform(sequence(lit(0), lit(63)), i =>
      ((pmod(xxhash64(cluster * 64 + i), lit(1000)).cast("double") / 1000.0 - 0.5) +
        pmod(xxhash64(col("id") * 64 + i), lit(100)).cast("double") / 2000.0)
        .cast("float"))
    val all = spark.range(n).select(col("id").as("vec_id"), vec.as("embedding"))
    val q = all.filter(col("vec_id") < 10)
    val c = all.filter(col("vec_id") >= 10)

    val t0 = System.nanoTime()
    val bf = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", k = 10).collect()
    val bfSec = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val lsh = Similarity.lshTopK(q, c, "vec_id", "embedding", dim = 64, k = 10,
      planes = 8).collect()
    val lshSec = (System.nanoTime() - t1) / 1e9

    // the PQ serving split: build the index once (the ingest-time cost a
    // deployment amortizes), then search the ~12-byte/vector codes table
    val t2 = System.nanoTime()
    val (codes, cbs) = Similarity.pqIndexFrames(c, "vec_id", "embedding",
      m = 8, ksub = 64)
    val codesC = graft.core.Materialize.truncate(codes) // materialize = the persisted index
    val pqBuildSec = (System.nanoTime() - t2) / 1e9
    // refine must cover the quantization blind spot: all ~n/1000 members
    // of a tight cluster share (nearly) one code, so the coarse cut must
    // keep a cluster's worth of candidates for the float re-rank to see
    // the true neighbors — 2000 here is still a 500x scan reduction
    val t3 = System.nanoTime()
    val pq = Similarity.pqSearchIndex(q, codesC, cbs, c, "vec_id",
      "embedding", k = 10, refine = 2000).collect()
    val pqSec = (System.nanoTime() - t3) / 1e9

    val bfTop = bf.filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lshTop = lsh.filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pqTop = pq.filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agree = lshTop.count { case (qid, cid) => bfTop.get(qid).contains(cid) }
    val pqAgree = pqTop.count { case (qid, cid) => bfTop.get(qid).contains(cid) }

    println(f"""{"corpus":$n,"bf_sec":$bfSec%.1f,"lsh_sec":$lshSec%.1f,""" +
      f""""bf_pairs_scored":${n * 10},"lsh_results":${lsh.length},""" +
      f""""top1_agreement":$agree/${lshTop.size},""" +
      f""""pq_build_sec":$pqBuildSec%.1f,"pq_search_sec":$pqSec%.1f,""" +
      f""""pq_top1_agreement":$pqAgree/${pqTop.size}}""")
    spark.stop()
  }
}
