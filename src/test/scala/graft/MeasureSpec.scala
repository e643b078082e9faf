package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Measure

/** Each `Measure` mode once, on one cheap query at sf0.001. */
class MeasureSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val sf = "/root/testdata/sf0.001"
  val q = SparkEntry.query("q1_agg")

  private def output(f: => Unit): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(buf)(f)
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("ab prints a verdict line and restores the conf") {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val before = spark.conf.get(key)
    val out = output(Measure.ab(spark, sf, key, "64k", "1m", Seq(q), 1))
    assert(out.exists(l => l.startsWith(s"[ab] ${q.name}") &&
      Seq("B-WIN", "B-LOSS", "PAR").exists(l.endsWith)), out.mkString("\n"))
    assert(spark.conf.get(key) === before)
  }

  test("profile prints at least one job line") {
    val out = output(Measure.profile(spark, sf, Seq(q)))
    assert(out.exists(_.startsWith(s"== ${q.name} ")), out.mkString("\n"))
    assert(out.exists(_.matches("""\s+job\s+\d+\s+[\d.]+s""")), out.mkString("\n"))
  }

  test("profile prints one JSON line of per-layer figures per query") {
    val out = output(Measure.profile(spark, sf, Seq(q)))
    val json = out.filter(_.startsWith(s"""{"query":"${q.name}","""))
    assert(json.size === 1, out.mkString("\n"))
    Seq(""""plan_ms":\{"analysis":\d+,"optimization":\d+,"planning":\d+\}""",
        """"jobs":[1-9]""", """"stages":[1-9]""", """"tasks":[1-9]""",
        """"shuffle_read_bytes":\d+""", """"spill_disk_bytes":\d+""",
        """"task_skew":\d+\.\d{3}\}$""").foreach { field =>
      assert(field.r.findFirstIn(json.head).isDefined, s"$field in ${json.head}")
    }
  }

  test("plans writes the query's physical plan") {
    val file = Files.createTempDirectory("graft-plans").resolve("PLANS.md")
    output(Measure.plans(spark, sf, file.toString, Seq(q)))
    val md = new String(Files.readAllBytes(file), "UTF-8")
    assert(md.contains(s"## ${q.name}") && md.contains("== Physical Plan =="), md)
  }

  test("suite-ctx probes fresh, in-suite and post-gc") {
    val out = output(Measure.suiteCtx(spark, sf, Seq(q), 1, Seq(q)))
    Seq("fresh", "in-suite", "post-gc").foreach { phase =>
      assert(out.exists(_.startsWith(s"[probe] $phase")), out.mkString("\n"))
    }
  }
}
