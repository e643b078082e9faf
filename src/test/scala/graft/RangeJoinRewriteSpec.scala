package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions

/**
 * RangeJoinRewrite: a pure range join plans as a bin equi-join (no
 * BroadcastNestedLoopJoin) when the bin width is configured, with results
 * identical to the nested-loop plan; everything else is left alone.
 */
class RangeJoinRewriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    Sessions.local(2)
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }
  import spark.implicits._

  override def afterAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private lazy val intervals = Seq((1L, 10L, 30L), (2L, 25L, 26L), (3L, 100L, 130L))
    .toDF("iid", "s", "e")
  private lazy val points = (0L to 200L).map(t => (t + 1000L, t)).toDF("pid", "t")

  private def joined = intervals.join(points,
    points("t") >= intervals("s") && points("t") <= intervals("e"))

  test("pure range join rewrites to a bin equi-join with identical results") {
    val expected = locally {
      // 'off' pins the untouched baseline (unset now means auto-derive)
      spark.conf.set(graft.plans.RangeJoinRewrite.BinWidthKey, "off")
      try {
        val df = joined
        assert(df.queryExecution.executedPlan.toString.contains("NestedLoop"),
          "baseline should nested-loop (else this spec tests nothing)")
        df.collect().map(r => (r.getLong(0), r.getLong(3))).toSet
      } finally spark.conf.unset(graft.plans.RangeJoinRewrite.BinWidthKey)
    }
    try {
      spark.conf.set(graft.plans.RangeJoinRewrite.BinWidthKey, "16")
      val df = joined
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop"), s"rewrite did not apply:\n${plan.take(2000)}")
      assert(plan.contains("Generate"), "no bin explode in the plan")
      val got = df.collect().map(r => (r.getLong(0), r.getLong(3))).toSet
      assert(got === expected, "bin equi-join changed the result")
      // sanity on content: interval 1 covers 21 points, 2 covers 2, 3 covers 31
      assert(got.count(_._1 == 1L) === 21)
      assert(got.count(_._1 == 2L) === 2)
      assert(got.count(_._1 == 3L) === 31)
    } finally spark.conf.unset(graft.plans.RangeJoinRewrite.BinWidthKey)
  }

  test("no binwidth conf: width derives from the sampled median span, equi-join still plans") {
    // spans here are 20/1/30 -> sampled median 20; no conf is set at all
    assert(spark.conf.getOption(graft.plans.RangeJoinRewrite.BinWidthKey).isEmpty)
    val expected = locally {
      spark.conf.set(graft.plans.RangeJoinRewrite.BinWidthKey, "off")
      try joined.collect().map(r => (r.getLong(0), r.getLong(3))).toSet
      finally spark.conf.unset(graft.plans.RangeJoinRewrite.BinWidthKey)
    }
    val df = joined
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"auto-derive did not rewrite:\n${plan.take(2000)}")
    assert(plan.contains("Generate"), "no bin explode in the auto-derived plan")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(3))).toSet === expected,
      "auto-derived bin width changed the result")
    // empty interval side: derivation has nothing to sample -> join is
    // left alone (and still returns nothing), never an error
    val empty = intervals.filter(col("iid") < 0L)
    val dfe = empty.join(points, points("t") >= empty("s") && points("t") <= empty("e"))
    assert(dfe.count() === 0)
    // non-scan-shaped interval side (aggregate): the probe's LIMIT would
    // not short-circuit, so auto mode must NOT probe — the join stays a
    // nested loop (correct, un-rewritten) rather than running the full
    // upstream shuffle at optimization time...
    val agged = intervals.groupBy(col("iid"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val dfa = agged.join(points, points("t") >= agged("s") && points("t") <= agged("e"))
    assert(dfa.queryExecution.executedPlan.toString.contains("NestedLoop"),
      "auto mode probed through an aggregate")
    assert(dfa.count() === joined.count())
    // ...while an explicit width still rewrites the same join
    spark.conf.set(graft.plans.RangeJoinRewrite.BinWidthKey, "16")
    try {
      val dfb = agged.join(points, points("t") >= agged("s") && points("t") <= agged("e"))
      assert(!dfb.queryExecution.executedPlan.toString.contains("NestedLoop"))
      assert(dfb.count() === joined.count())
    } finally spark.conf.unset(graft.plans.RangeJoinRewrite.BinWidthKey)
  }

  test("strict bounds, flipped operand order, and int columns still rewrite exactly") {
    try {
      spark.conf.set(graft.plans.RangeJoinRewrite.BinWidthKey, "7")
      val iv = Seq((1, 10, 30)).toDF("iid", "s", "e") // IntegerType
      val pts = (0 to 50).map(t => (t + 100, t)).toDF("pid", "t")
      // lo < p (strict) and hi > p written bounds-first
      val df = iv.join(pts, iv("s") < pts("t") && iv("e") > pts("t"))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop"), s"flipped/strict form not rewritten:\n${plan.take(1500)}")
      assert(df.count() === 19) // 11..29 strict
    } finally spark.conf.unset(graft.plans.RangeJoinRewrite.BinWidthKey)
  }

  test("joins the rewrite must not touch are left alone") {
    try {
      spark.conf.set(graft.plans.RangeJoinRewrite.BinWidthKey, "16")
      // equality + range: already hash-joinable; must NOT gain a Generate
      val iv = Seq((1L, "k", 10L, 30L)).toDF("iid", "k", "s", "e")
      val pts = Seq((100L, "k", 20L), (101L, "j", 20L)).toDF("pid", "k", "t")
      val eq = iv.join(pts, iv("k") === pts("k") &&
        pts("t") >= iv("s") && pts("t") <= iv("e"))
      assert(!eq.queryExecution.executedPlan.toString.contains("Generate"))
      assert(eq.count() === 1)
      // half-open (single bound): not a range join, stays as-is
      val half = intervals.join(points, points("t") >= intervals("s"))
      assert(!half.queryExecution.executedPlan.toString.contains("Generate"))
      // left join: out of scope
      val outer = intervals.join(points,
        points("t") >= intervals("s") && points("t") <= intervals("e"), "left")
      assert(!outer.queryExecution.executedPlan.toString.contains("Generate"))
      assert(outer.count() === joined.count()) // every interval has matches here
    } finally spark.conf.unset(graft.plans.RangeJoinRewrite.BinWidthKey)
  }

  test("inverted intervals don't match but don't crash; absurd spans fail loudly") {
    try {
      spark.conf.set(graft.plans.RangeJoinRewrite.BinWidthKey, "16")
      // corrupt inverted row (s > e): the nested-loop baseline matches
      // nothing for it — the rewrite must do the same, not throw from
      // Sequence's step-direction check
      val iv = Seq((1L, 30L, 10L), (2L, 40L, 60L)).toDF("iid", "s", "e")
      val df = iv.join(points, points("t") >= iv("s") && points("t") <= iv("e"))
      assert(!df.queryExecution.executedPlan.toString.contains("NestedLoop"))
      val got = df.collect().map(r => (r.getLong(0), r.getLong(4))).toSet
      assert(got.forall(_._1 == 2L) && got.size === 21) // only the valid interval
      // an interval spanning more than maxbins fails with a targeted error
      spark.conf.set(graft.plans.RangeJoinRewrite.MaxBinsKey, "100")
      val wide = Seq((9L, 0L, 1000000L)).toDF("iid", "s", "e")
      val e = intercept[Exception] {
        wide.join(points, points("t") >= wide("s") && points("t") <= wide("e")).count()
      }
      assert(SparkSuite.causeMessages(e).exists(_.contains("spans more than")),
        s"expected the fan-out guard, got: ${SparkSuite.causeMessages(e).mkString(" | ")}")
      // an INVERTED interval that is also absurdly wide must hit the same
      // guard — not default-step DOWN through millions of bins
      val wideInv = Seq((9L, 1000000L, 0L)).toDF("iid", "s", "e")
      val e1b = intercept[Exception] {
        wideInv.join(points, points("t") >= wideInv("s") && points("t") <= wideInv("e")).count()
      }
      assert(SparkSuite.causeMessages(e1b).exists(_.contains("spans more than")),
        s"inverted-wide interval bypassed the guard: ${SparkSuite.causeMessages(e1b).mkString(" | ")}")
      // a malformed conf value names the key instead of a bare parse error
      spark.conf.set(graft.plans.RangeJoinRewrite.BinWidthKey, "300s")
      val e2 = intercept[Exception] { joined.collect() }
      assert(SparkSuite.causeMessages(e2).exists(_.contains(graft.plans.RangeJoinRewrite.BinWidthKey)))
    } finally {
      spark.conf.unset(graft.plans.RangeJoinRewrite.BinWidthKey)
      spark.conf.unset(graft.plans.RangeJoinRewrite.MaxBinsKey)
    }
  }

  test("span guard stays exact for bins past 2^53 (no double rounding)") {
    try {
      spark.conf.set(graft.plans.RangeJoinRewrite.BinWidthKey, "1")
      spark.conf.set(graft.plans.RangeJoinRewrite.MaxBinsKey, "4096")
      // lo ~ 2^60: a double rounds these bins to multiples of 256, which
      // would push this VALID 4000-bin span over the 4096 threshold
      val lo = (1L << 60) + 24L
      val iv = Seq((1L, lo, lo + 4000L)).toDF("iid", "s", "e")
      val pts = Seq((7L, lo + 100L), (8L, lo + 5000L)).toDF("pid", "t")
      val df = iv.join(pts, pts("t") >= iv("s") && pts("t") <= iv("e"))
      assert(!df.queryExecution.executedPlan.toString.contains("NestedLoop"))
      assert(df.collect().map(_.getLong(3)).toSet === Set(7L)) // no spurious raise
      // and one bin MORE must still raise, at the same magnitude
      val ivWide = Seq((2L, lo, lo + 4096L)).toDF("iid", "s", "e")
      val e = intercept[Exception] {
        ivWide.join(pts, pts("t") >= ivWide("s") && pts("t") <= ivWide("e")).count()
      }
      assert(SparkSuite.causeMessages(e).exists(_.contains("spans more than")))
    } finally {
      spark.conf.unset(graft.plans.RangeJoinRewrite.BinWidthKey)
      spark.conf.unset(graft.plans.RangeJoinRewrite.MaxBinsKey)
    }
  }

  test("negative values bin consistently (truncation on both sides)") {
    try {
      spark.conf.set(graft.plans.RangeJoinRewrite.BinWidthKey, "10")
      val iv = Seq((1L, -25L, -5L), (2L, -3L, 4L)).toDF("iid", "s", "e")
      val pts = (-30L to 10L).map(t => (t + 500L, t)).toDF("pid", "t")
      val df = iv.join(pts, pts("t") >= iv("s") && pts("t") <= iv("e"))
      assert(!df.queryExecution.executedPlan.toString.contains("NestedLoop"))
      val got = df.collect().map(r => (r.getLong(0), r.getLong(3))).toSet
      assert(got.count(_._1 == 1L) === 21) // -25..-5
      assert(got.count(_._1 == 2L) === 8) // -3..4
    } finally spark.conf.unset(graft.plans.RangeJoinRewrite.BinWidthKey)
  }
}
