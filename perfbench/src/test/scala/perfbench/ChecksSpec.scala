package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.BulkSink.PartitionManifest

class ChecksSpec extends AnyFunSuite {

  private val ring = Gen.Ring
  private val step = java.lang.Long.divideUnsigned(-1L, 4L)

  /** Four runs, one per quarter of the ring, 100 rows each. */
  private val manifests = (0 until 4).map { p =>
    val lo = Long.MinValue + p * step
    PartitionManifest(p, rows = 100, bytes = 1000 + p, minToken = lo + 1,
      maxToken = if (p == 3) Long.MaxValue else lo + step - 1, sorted = true,
      dataFile = f"graft-$p%05d-Data.db", indexFile = f"graft-$p%05d-Index.db")
  }
  private val plan = manifests.map(m =>
    m.dataFile -> Checks.replicasOf(m.minToken, m.maxToken, ring, 2)).toMap
  private val received = manifests.flatMap(m =>
    plan(m.dataFile).map(h => Recv(h, m.dataFile, m.rows, m.bytes, sortedOk = true)))

  private def failing(ms: Seq[PartitionManifest] = manifests,
      p: Map[String, Set[String]] = plan, r: Seq[Recv] = received): Set[String] =
    Checks.load(400, ms, p, r, ring, 2).filterNot(_.ok).map(_.name).toSet

  test("an untouched load passes every check") {
    assert(failing() == Set.empty)
  }

  test("a run spanning two ring ranges streams to the replicas of both") {
    // [min, max] crosses vnode boundaries: more than rf hosts
    assert(Checks.replicasOf(Long.MinValue, Long.MaxValue, ring, 2) == Gen.Hosts.toSet)
    val t = ring.head._2.head
    assert(Checks.replicasOf(t, t, ring, 2).size == 2)
  }

  test("tampered manifests fail the checker") {
    val lost = manifests.updated(1, manifests(1).copy(rows = 99))
    assert(failing(ms = lost, r = received.map(r =>
      if (r.dataFile == lost(1).dataFile) r.copy(rows = 99) else r)) == Set("manifest_rows"))
    assert(failing(ms = manifests.updated(2, manifests(2).copy(sorted = false))) ==
      Set("manifests_sorted"))
    // a manifest whose token range shrank to one ring range no longer
    // matches the plan entry its node-boundary crossing earned (3 hosts -> 2)
    val t = ring.head._2.head
    assert(plan(manifests(1).dataFile).size == 3)
    val moved = manifests.updated(1, manifests(1).copy(minToken = t, maxToken = t))
    assert(failing(ms = moved).contains("plan_matches_ring"))
    assert(failing(ms = manifests.updated(3, manifests(3).copy(bytes = 7))) ==
      Set("stream_counts"))
  }

  test("tampered received maps fail the checker") {
    assert(failing(r = received.tail) == Set("streams_reach_plan"))
    assert(failing(r = received :+ received.head) == Set("streams_reach_plan"))
    val wrongHost = received.updated(0, received.head.copy(host = "node-9"))
    assert(failing(r = wrongHost).contains("streams_reach_plan"))
    assert(failing(r = received.updated(1, received(1).copy(sortedOk = false))) ==
      Set("streams_sorted"))
    assert(failing(r = received.updated(1, received(1).copy(rows = 1))) == Set("stream_counts"))
    assert(failing(r = Nil) == Set("streams_sorted", "streams_reach_plan"))
  }

  test("a plan naming other hosts than the ring's replicas fails the checker") {
    val f = manifests.head.dataFile
    assert(failing(p = plan.updated(f, Set("node-1"))) ==
      Set("plan_matches_ring", "streams_reach_plan"))
  }

  test("range counts over the sorted token array are inclusive at both ends") {
    val toks = Array(Long.MinValue, -5L, 0L, 0L, 7L, Long.MaxValue)
    assert(Checks.countInRange(toks, Long.MinValue, Long.MaxValue) == 6)
    assert(Checks.countInRange(toks, 0L, 0L) == 2)
    assert(Checks.countInRange(toks, -5L, 7L) == 4)
    assert(Checks.countInRange(toks, 1L, 6L) == 0)
    assert(Checks.countInRange(toks, 8L, Long.MaxValue) == 1)
  }

  test("the corpus generator plants what its truth says") {
    val (docs, truth) = Gen.corpus(3L, 2000)
    assert(docs.size == 2000 && docs.map(_.doc_id).distinct.size == 2000)
    assert(truth.expectedKept.size ==
      2000 - truth.lowQuality - truth.nonEnglish - truth.exactDups - truth.nearDups -
        truth.semanticDups)
    assert(truth.nearDupLosers.size == truth.nearDups)
    assert(truth.nearDupLosers.intersect(truth.expectedKept).isEmpty)
    assert(Gen.corpus(3L, 2000)._2 == truth)
  }
}
