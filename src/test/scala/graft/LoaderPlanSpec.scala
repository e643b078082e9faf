package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.CassandraTokens
import graft.sinks.{BulkSink, LoaderPlan}
import graft.sinks.LoaderPlan.{RingNode, TokenRange}

class LoaderPlanSpec extends AnyFunSuite {

  val nodes = Seq(
    RingNode("host-a", Seq(-6000000000000000000L, 1000000000000000000L)),
    RingNode("host-b", Seq(-2000000000000000000L, 5000000000000000000L)),
    RingNode("host-c", Seq(-4000000000000000000L, 8000000000000000000L)))

  test("ranges cover the ring with rf distinct replicas each") {
    val rs = LoaderPlan.ranges(nodes, rf = 2)
    assert(rs.length === 6) // one per vnode token
    rs.foreach { r =>
      assert(r.replicas.length === 2)
      assert(r.replicas.distinct.length === 2, s"non-distinct replicas in $r")
    }
    // every token maps to exactly one range's replica set
    val probes = Seq(Long.MinValue, -5000000000000000000L, 0L,
      4999999999999999999L, 5000000000000000001L, Long.MaxValue)
    probes.foreach { t =>
      val owners = LoaderPlan.replicasFor(t, rs)
      assert(owners.length === 2, s"token $t -> $owners")
    }
  }

  test("rf=1 assigns the clockwise owner; wraparound tokens go to the lowest token's node") {
    val rs = LoaderPlan.ranges(nodes, rf = 1)
    // a token just above host-c's top vnode (8e18) wraps to the lowest
    // token (-6e18, host-a)
    assert(LoaderPlan.replicasFor(8500000000000000000L, rs) === Seq("host-a"))
    // a token below the lowest vnode also belongs to the lowest token's range
    assert(LoaderPlan.replicasFor(Long.MinValue + 1, rs) === Seq("host-a"))
    // interior: (1e18, 5e18] -> host-b
    assert(LoaderPlan.replicasFor(3000000000000000000L, rs) === Seq("host-b"))
  }

  test("planStreams sends each run to exactly the replicas of its token span") {
    val manifests = Seq(
      BulkSink.PartitionManifest(0, 10, 100, -5500000000000000000L,
        -4500000000000000000L, sorted = true, "f0", "i0"),
      BulkSink.PartitionManifest(1, 10, 100, 2000000000000000000L,
        4000000000000000000L, sorted = true, "f1", "i1"),
      BulkSink.PartitionManifest(2, 0, 0, Long.MaxValue, Long.MinValue,
        sorted = true, "f2-empty", "i2"))
    val plan = LoaderPlan.planStreams(manifests, nodes, rf = 1)
    assert(!plan.contains("f2-empty")) // empty runs don't stream
    // f0 spans only (-6e18, -4e18] -> host-c owns (-6e18,-4e18]
    assert(plan("f0") === Set("host-c"))
    // f1 spans (1e18, 5e18] -> host-b
    assert(plan("f1") === Set("host-b"))
    // rf=2 doubles every target set
    val plan2 = LoaderPlan.planStreams(manifests.take(2), nodes, rf = 2)
    assert(plan2.values.forall(_.size >= 2))
  }

  test("planStreams over a salted layout equals the unsalted plan (same ranges, same replicas)") {
    // a salted write's k-way merge restores one run per ring bucket
    // with the SAME token span the unsalted write produces, so stream
    // planning must be indistinguishable
    val spark = SparkSuite.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length}
    val keys = (0 until 4000).map(i => s"lp-$i")
    val df = keys.toDF("rowkey").withColumn("v", length(col("rowkey")).cast("long"))
    val plainDir = java.nio.file.Files.createTempDirectory("graft-lp-plain").toString
    val saltDir = java.nio.file.Files.createTempDirectory("graft-lp-salt").toString
    val plain = graft.sinks.BulkSink.writeSorted(df, Seq("rowkey"), 4, plainDir)
    val salted = graft.sinks.BulkSink.writeSorted(df, Seq("rowkey"), 4,
      saltDir, salts = Map(0 -> 3, 2 -> 2))
    val planPlain = LoaderPlan.planStreams(plain, nodes, rf = 2)
    val planSalt = LoaderPlan.planStreams(salted, nodes, rf = 2)
    // same number of planned runs, and the replica set of each salted
    // run equals the replica set of the unsalted run covering the same
    // ring bucket
    assert(planSalt.size === planPlain.size)
    salted.filter(_.rows > 0).foreach { s =>
      val p = plain.find(_.partition == s.partition).get
      assert(planSalt(s.dataFile) === planPlain(p.dataFile),
        s"bucket ${s.partition}: salted run streams to different replicas")
    }
  }

  test("planStreams plans compressed runs like any other (chunked format streams)") {
    // pre-r9 this was refused; chunked compression ships the chunk map in
    // the session so the receiver can verify the logical stream
    val compressed = Seq(BulkSink.PartitionManifest(0, 10, 100,
      -5500000000000000000L, -4500000000000000000L, sorted = true,
      "f0", "i0", codec = "lz4"))
    val plan = LoaderPlan.planStreams(compressed, nodes, rf = 1)
    assert(plan("f0").nonEmpty)
    // empty compressed runs never stream
    val empty = Seq(BulkSink.PartitionManifest(1, 0, 0, Long.MaxValue,
      Long.MinValue, sorted = true, "f1", "i1", codec = "zstd"))
    assert(LoaderPlan.planStreams(empty, nodes, rf = 1).isEmpty)
  }

  test("end-to-end: manifests from a real bulk load map to ring endpoints") {
    val spark = SparkSuite.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-loader").toString
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val projected = graft.operators.CqlPipeline.toCql(orders,
      graft.operators.CqlPipeline.Projection(defaultTimestampMicros = 1L))
    val manifests = BulkSink.writeSorted(projected, Seq("rowkey"), 4, dir)
    val plan = LoaderPlan.planStreams(manifests, nodes, rf = 2)
    assert(plan.nonEmpty)
    // every non-empty run has stream targets, and they're real hosts
    val hosts = nodes.map(_.host).toSet
    plan.values.foreach(ts => assert(ts.nonEmpty && ts.subsetOf(hosts)))
  }
}
