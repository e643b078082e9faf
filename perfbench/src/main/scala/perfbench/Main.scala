package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/**
 * The benchmark's one command:
 *
 *   perfbench.Main --workload load_narrow|curate_load --seed N
 *                  --seconds S --trace 0|1
 *
 * Builds its inputs from the seed, measures for S seconds, checks every
 * output, and prints one JSON line last: the end-to-end metrics when
 * untraced, the per-layer metrics when traced. Exits 1 when a check fails.
 */
object Main {

  val E2eUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "rows/s", "stored_bytes_per_row" -> "B/row",
    "scan_p50_ms" -> "ms", "scan_p90_ms" -> "ms", "ok_frac" -> "ratio",
    "peak_rss_mb" -> "MB")

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    // inputs, runs and Spark scratch live under the checkout and go at exit
    val work = new File(".bench_build/work").getAbsoluteFile
    val run: (Ctx, Double, Option[Tracer]) => Outcome = workload match {
      case "load_narrow" => Workloads.loadNarrow
      case "curate_load" => Workloads.curateLoad
      case other =>
        System.err.println(s"unknown workload '$other'")
        sys.exit(2)
    }
    Workloads.rmTree(work)
    work.mkdirs()
    val (spark, sessionS) = Workloads.time(session(work))
    val outcome = try {
      val ctx = Ctx(spark, work, seed, seconds)
      val tr = if (trace) Some(new Tracer(spark.sparkContext, s"$workload-$seed")) else None
      tr.foreach(t => spark.listenerManager.register(t.queryListener))
      val o = run(ctx, sessionS, tr)
      tr.foreach(_.writeJson(new File(work.getParentFile, s"spans-$workload-$seed.jsonl")))
      o
    } finally {
      spark.stop()
      Workloads.rmTree(work)
    }
    outcome.checks.filterNot(_.ok).foreach(c => System.err.println(s"CHECK FAILED ${c.name}: ${c.detail}"))
    System.err.println(s"checks: ${outcome.checks.count(_.ok)}/${outcome.checks.size} passed")
    val correct = outcome.failed == 0 && outcome.checks.forall(_.ok)
    val metrics =
      if (trace) Layers.All.map { case (n, u) => n -> (outcome.layer.getOrElse(n, Layers.idle(n)), u) }
      else E2eUnits.map { case (n, u) => n -> (outcome.e2e(n), u) }
    val body = metrics.map { case (n, (v, u)) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${outcome.attempted}, """ +
      s""""failed": ${outcome.failed}, "metrics": {$body}}""")
    if (!correct) sys.exit(1)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** The engine's own session config, one process, all local cores. */
  private def session(work: File): SparkSession = {
    val tmp = new File(work, "spark-local")
    tmp.mkdirs()
    val s = graft.Sessions.withEngineDefaults(SparkSession.builder()
        .appName("perfbench")
        .master(s"local[${Runtime.getRuntime.availableProcessors()}]"))
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      .config("spark.local.dir", tmp.getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
