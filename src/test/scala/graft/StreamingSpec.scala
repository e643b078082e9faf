package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Sessionize

/** The batch operators of `graft.streaming`: the session_window form
  * against the lag form, the drift monitor's planted geometry, and the
  * stateless text screens, which run unchanged on a stream. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  val gap = 3600L * 1000000L // 1h in µs (the core.EventTime contract)

  test("session_window form equals the lag form, including the exact-gap boundary") {
    // diff == gap merges in the lag form (<= gap); session_window merges
    // strictly-below-gap, so gap+1 aligns the boundary. Planted: user 1's
    // second event lands EXACTLY gap after the first.
    val g = 1000L
    val planted = Seq(
      (1L, 1L, 0L), (2L, 1L, g), (3L, 1L, 2 * g + 2),
      (4L, 2L, 50L)).toDF("event_id", "user_id", "ts")
    val lagForm = Sessionize.sessionizeBatch(planted, gap = g)
      .select(col("user_id"), col("start_ts"), col("end_ts"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val swForm = Sessionize.sessionizeWindows(planted, gapMicros = g + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(lagForm === Set((1L, 0L, g, 2L), (1L, 2 * g + 2, 2 * g + 2, 1L),
      (2L, 50L, 50L, 1L)))
    assert(swForm === lagForm)

    // and on the real events table
    val batch = graft.core.EventTime.readEventsTsUsAs(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"), "ts")
    val a = Sessionize.sessionizeBatch(batch, gap)
      .select(col("user_id"), col("start_ts"), col("end_ts"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val b = Sessionize.sessionizeWindows(batch, gap + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(b === a)
  }

  test("stateless text screens run unchanged on a stream: stream == batch") {
    // encodingQuality / sentenceStats are pure scan-stage projections, so
    // the SAME operator code must work on a readStream frame with no
    // state, no watermark, and row-identical output
    import graft.operators.TextAnalysis
    val batch = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val enc = TextAnalysis.encodingQuality(batch, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val sen = TextAnalysis.sentenceStats(batch, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    // the streaming file source wants a directory, not a single file
    val inDir = Files.createTempDirectory("graft-screens-in")
    batch.coalesce(1).write.parquet(inDir.resolve("docs").toString)
    val stream = spark.readStream.schema(batch.schema)
      .parquet(inDir.resolve("docs").toString)
    for ((name, out, truth) <- Seq(
        ("enc", TextAnalysis.encodingQuality(stream, "doc_id", "text"), enc),
        ("sen", TextAnalysis.sentenceStats(stream, "doc_id", "text"), sen))) {
      val qname = s"screen_${name}_" + System.nanoTime()
      val q = out.writeStream.outputMode("append").format("memory")
        .queryName(qname).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table(qname).collect().map(_.toSeq).toSet
      assert(got === truth, s"$name diverged between stream and batch")
    }
  }

  test("centroid drift reads planted geometry exactly; a label without a baseline is omitted") {
    import graft.streaming.DriftMonitor
    // baseline: label A along +x, label B along +y
    val baseline = Seq(
      (1L, "A", Seq(1.0f, 0.0f)), (2L, "A", Seq(1.0f, 0.0f)),
      (3L, "B", Seq(0.0f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val baseSums = DriftMonitor.labelSums(baseline, "label", "embedding").cache()
    // batch 1: A still +x (drift 0); batch 2: A rotated to +y (drift 1),
    // B anti-parallel (drift 2), label C has no baseline -> omitted
    val b1 = Seq((10L, "A", Seq(2.0f, 0.0f)))
    val b2 = Seq((11L, "A", Seq(0.0f, 3.0f)), (12L, "B", Seq(0.0f, -1.0f)),
      (13L, "C", Seq(1.0f, 1.0f)))
    val perBatch = Seq(b1, b2).map(rows =>
      DriftMonitor.centroidDrift(rows.toDF("vec_id", "label", "embedding"),
          baseSums, "label", "embedding")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet)
    assert(perBatch === Seq(
      Set(("A", 1L, 0.0)),
      Set(("A", 1L, 1.0), ("B", 1L, 2.0))))
    baseSums.unpersist()
    ()
  }
}
