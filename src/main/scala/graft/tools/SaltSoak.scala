package graft.tools

import org.apache.spark.sql.functions._

import graft.Sessions
import graft.core.{CassandraTokens, CqlValueCodec}
import graft.operators.CqlPipeline
import graft.operators.CqlPipeline.Projection
import graft.sinks.BulkSink

/**
 * Hot-range salting soak (SURVEY §7.4 risk 5): plants a token
 * distribution where MOST rows land in one ring bucket — the shape
 * where the reference's one-range-one-reducer assignment
 * (CassandraPartitioner.java:57-72) turns one reducer into the job's
 * straggler — and runs the same load twice: plain [[BulkSink.writeSorted]]
 * (the straggler baseline) and the same call with the
 * [[BulkSink.planSalts]]-detected `salts`. Reports, as one JSON line:
 *
 *  - the unsalted max-bucket skew (how bad the straggler is),
 *  - the hot bucket's salt factor (how many reducers sorted the hot
 *    range in parallel; the sub-bucket balance is pinned on
 *    `BulkSink.RingPartitioner` in KernelSpec),
 *  - per-ring-bucket row counts proven EQUAL between the two layouts
 *    (the salt+merge round trip moves no row across ranges), and
 *  - both wall times.
 *
 * Global decorated-key order of every merged run is enforced by the
 * writer itself during the merge (any violation throws), and the
 * per-bucket counts come from re-read manifests.
 *
 *   sbt "runMain graft.tools.SaltSoak 5000000 16 /tmp/graft-salt-soak"
 */
object SaltSoak {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 5000000L
    val buckets = if (args.length > 1) args(1).toInt else 16
    val out = if (args.length > 2) args(2) else "/tmp/graft-salt-soak"
    val spark = Sessions.local(Sessions.cpus)
      .config("spark.sql.shuffle.partitions", buckets)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // the hot-key pool: distinct keys all landing in ONE ring bucket,
    // rejection-sampled driver-side with the same token kernel the sink
    // uses; ~70% of rows draw from the pool, the rest spread uniformly
    val hotBucket = 1
    val pool = Iterator.from(0).map(i => s"hot-$i").filter { k =>
      CassandraTokens.bucketOfToken(
        CassandraTokens.token(CqlValueCodec.serializeString(k)), buckets) ==
        hotBucket
    }.take(50000).toArray
    val poolCol = typedLit(pool.toSeq)
    val df = spark.range(n).select(
      when(col("id") % 10 < 7,
        element_at(poolCol, (col("id") % pool.length).cast("int") + 1))
        .otherwise(concat(lit("user-"), col("id"))).as("user_id"),
      (col("id") % 97).cast("int").as("score"))
    // both writes + the salt plan read the same rows
    val projected = graft.core.Materialize.truncate(
      CqlPipeline.toCql(df, Projection(defaultTimestampMicros = 1L)))

    val t0 = System.nanoTime()
    val plain = BulkSink.writeSorted(projected, Seq("rowkey"), buckets,
      s"$out/plain")
    val plainSec = (System.nanoTime() - t0) / 1e9
    val total = plain.map(_.rows).sum
    val plainSkew =
      plain.map(_.rows).max.toDouble / (total.toDouble / plain.length)

    val salts = BulkSink.planSalts(projected, Seq("rowkey"), buckets)
    val t1 = System.nanoTime()
    val salted = BulkSink.writeSorted(projected, Seq("rowkey"), buckets,
      s"$out/salted", salts = salts)
    val saltedSec = (System.nanoTime() - t1) / 1e9

    // the salt+merge round trip moves no row across ring buckets: the
    // per-bucket (rows, bytes) of the two layouts must be identical;
    // both name a run by its ring bucket
    val mismatches = (0 until buckets).count { b =>
      val p = plain.find(_.partition == b)
      val s = salted.find(_.partition == b)
      p.map(m => (m.rows, m.bytes)) != s.map(m => (m.rows, m.bytes))
    }
    require(mismatches == 0,
      s"$mismatches ring buckets hold different rows/bytes between the " +
        "plain and salted layouts")
    require(salted.map(_.rows).sum == total, "row total drifted")

    println(f"""{"rows":$total,"buckets":$buckets,"hot_bucket":$hotBucket,""" +
      f""""salts":"${salts.toSeq.sorted.map(p => s"${p._1}:${p._2}").mkString(",")}",""" +
      f""""plain_sec":$plainSec%.1f,"plain_max_bucket_skew":$plainSkew%.2f,""" +
      f""""salted_sec":$saltedSec%.1f,"hot_salt":${salts.getOrElse(hotBucket, 1)},""" +
      f""""per_bucket_equal":true}""")
    spark.stop()
  }
}
