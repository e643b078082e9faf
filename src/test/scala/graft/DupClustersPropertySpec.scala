package graft

import graft.operators.Dedup
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.scalacheck.{Gen, Prop, Properties, Test}

/**
 * ScalaCheck properties for [[Dedup.dupClusters]]: over random pair
 * graphs, its labels equal each component's minimum id computed in plain
 * Scala, at the real driver cap (the driver finishes at once), at a
 * 40-edge cap (larger inputs run rounds, then the driver finishes or the
 * stars converge), and at a zero cap (rounds run until the stars converge;
 * only an empty graph fits).
 */
object DupClustersPropertySpec extends Properties("dupClusters") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = SparkSuite.spark

  /** Chains longer than any round count, stars, disjoint pairs and lone
    * self-pairs, each on its own nodes, over shuffled ids so a chain's
    * order is not its ids' order; then repeated and reversed pairs. */
  private val graph: Gen[Seq[(Long, Long)]] = {
    val chain = Gen.choose(2, 40).map(n => (0 until n - 1).map(i => (i, i + 1)))
    val star = Gen.choose(2, 12).map(n => (1 until n).map(i => (0, i)))
    val pair = Gen.oneOf(Seq(0 -> 1), Seq(0 -> 0))
    val shape = Gen.frequency(2 -> chain, 2 -> star, 1 -> pair)
    for {
      shapes <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, shape))
      seed <- Gen.long
      sizes = shapes.map(_.map { case (a, b) => math.max(a, b) }.max + 1)
      ids = new scala.util.Random(seed).shuffle((0L until sizes.sum.toLong).map(_ * 3))
      edges = sizes.scanLeft(0)(_ + _).zip(shapes).flatMap { case (off, s) =>
        s.map { case (a, b) => ids(off + a) -> ids(off + b) }
      }
      extra <- Gen.someOf(edges)
    } yield edges ++ extra.map(_.swap) ++ extra.take(3)
  }

  /** Each node's component minimum, by plain union-find over longs. */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (p, q) = (find(a), find(b))
      parent(math.max(p, q)) = math.min(p, q)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def clusters(edges: Seq[(Long, Long)], capBytes: Long): (String, Map[Long, Long]) = {
    import spark.implicits._
    val out = Dedup.dupClusters(edges.toDF("doc_a", "doc_b"), capBytes)
    val exit = out.queryExecution.logical match {
      case _: LocalRelation => "driver"
      case _: LogicalRDD => "stars"
      case p => s"unexpected plan $p"
    }
    (exit, out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  private def agrees(capBytes: Long, exits: Set[String]) = Prop.forAll(graph) { edges =>
    val (exit, got) = clusters(edges, capBytes)
    Prop.collect(exit)(exits(exit) && got == reference(edges))
  }

  property("equals the component minimum at the real cap") =
    agrees(Dedup.ClusterDriverCapBytes, Set("driver"))

  // 40 edges of 28 bytes
  property("equals the component minimum when rounds contract before the driver finishes") =
    agrees(40L * 28, Set("driver", "stars"))

  property("equals the component minimum when the stars converge") =
    agrees(0L, Set("driver", "stars"))
}
