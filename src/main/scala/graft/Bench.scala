package graft

/**
 * Benchmark main: one JSON line with per-query wall times at the target
 * scale factor. Queries are forced through the noop sink (full
 * materialization of every row — a bare count() lets parquet metadata or
 * pruned projections short-circuit the work being measured). A small
 * warm-up query amortizes JVM/session startup out of the first measurement.
 *
 * Noise handling (this box shows 1.5-4x wall-time variance under external
 * load): every query runs SPARK_GRAFT_BENCH_RUNS times (default 3) in
 * round-robin PASSES — pass 1 runs all queries, then pass 2, then pass 3 —
 * so a transient load spike cannot poison all attempts of one query. The
 * reported time is the per-query MINIMUM. The JSON also carries:
 *   - "sentinel": a fixed, code-stable query (q4_window) whose min time
 *     calibrates the box; dividing any query's seconds by sentinel.sec
 *     gives box-independent units (the file copy also carries the
 *     pre-divided "queries_norm" map; the stdout line omits it to stay
 *     inside the driver's 2000-char tail-capture window).
 *   - "noise": max/min spread of the sentinel across passes — >1.5 means
 *     the box was loaded during the run and raw seconds are suspect.
 *   - "sentinel_units" (file copy only): per-query times normalized by a
 *     ~100ms FIXED-WORK probe run immediately BEFORE the pass that
 *     produced each query's minimum — box drift measured AT the query it
 *     contaminates, not once per run. Three rounds of watch items
 *     (q23 -> classify_nb/text_perplexity -> the dedup_ngram family)
 *     closed as box oscillation that a run-level sentinel could only
 *     suggest; adjacent-probe units settle that per query. The probe's
 *     own stats ride in "probe" (min sec + per-pass list).
 *
 * SPARK_GRAFT_BENCH_ONLY=<csv of names> restricts to a subset (local
 * iteration); the sentinel always runs, and an unknown name fails before
 * any query runs.
 *
 * Shared-intermediate memo contract: queries consuming a per-(session,
 * dir) memoized frame (`SparkEntry.sharedMemo` — the LSH pair graph, the
 * curation verdict frame) report the MARGINAL cost of their own work on
 * top of the shared build, mirroring the one-graph-N-consumers
 * production shape; the full derivation cost is billed exactly once by
 * a memo-free query (`dedup_minhash_lsh`, `corpus_curate`). A consumer
 * with NO marginal work is untimed (`timed = false`: still run once,
 * correctness-gated) instead of reporting a meaningless ~0.
 */
object Bench {
  val SentinelQuery = "q4_window"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(SparkEntry.resolveCsv(_).map(_.name).toSet)
    // Engine defaults (AQE coalescing floor included) come from the ONE
    // shared session factory — the bench measures the engine's config,
    // not its own (VERDICT r20 #2).
    val spark = Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm-up, not measured: parquet footer caches plus one full
    // query through the noop sink so JIT/codegen startup is not billed to
    // whichever query happens to sort first
    spark.read.parquet(s"$sfDir/region.parquet").count()
    try SparkEntry.query("q1_agg").build(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] warm-up failed: ${e.getMessage}")
    }

    // Untimed queries still run ONCE here (rc != 0 on failure) so the
    // bench can never go green over a broken query, and the JSON names
    // them in "exempt".
    val exempt = SparkEntry.queries.filterNot(_.timed).map(_.name).sorted
    val names = SparkEntry.queries
      .filter(q => only.fold(q.timed)(s => s.contains(q.name) || q.name == SentinelQuery))
      .map(_.name).sorted
    if (only.isEmpty) exempt.foreach { n =>
      SparkEntry.query(n).build(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    // The fixed-work drift probe: a constant Spark job (~100ms on an idle
    // box) run immediately before every query measurement. Its wall time
    // moves with whatever contaminates the NEXT measurement — scheduler
    // load, CPU steal, JIT pauses — so query_sec / adjacent_probe_sec is
    // a per-query box-independent unit, where the run-level sentinel can
    // only say "somewhere in these 85 seconds the box drifted".
    def probeOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 32L * 1000 * 1000, 1, cpus)
        .selectExpr("sum(id * 3 + 1) as s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    probeOnce() // warm the probe's own codegen out of pass 1
    val probes = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    // A pass that throws records NO time (r12 recorded five broken queries
    // at their time-to-throw, ~0.06s, which read as absurdly-fast results);
    // queries with ZERO successful passes surface in a "failed" list — a
    // query that threw once but measured on other passes keeps its min and
    // stays out of the list (the per-pass stderr line still records it).
    for (pass <- 1 to runs; name <- names) {
      val fn = SparkEntry.query(name).build
      val p = probeOnce()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        times(name) = times(name) :+ (System.nanoTime() - t0) / 1e9
        probes(name) = probes(name) :+ p
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed (pass $pass): ${e.getMessage}")
      }
    }
    val failedNames = names.filter(times(_).isEmpty)

    // The driver parses the JSON line out of a 2000-char TAIL of this
    // process's output (BENCH_r04 failed to parse because the r4 line,
    // with a full-precision queries_norm map, outgrew that window). So the
    // stdout line is kept COMPACT: ms precision, no per-query norm map (a
    // reader divides by sentinel.sec). The full-precision form, norm map
    // included, goes to the file copy instead.
    def fmt(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    def fmt6(d: Double): String = "%.6f".formatLocal(java.util.Locale.ROOT, d)
    val mins = names.filter(times(_).nonEmpty).map(n => n -> times(n).min)
    val total = mins.map(_._2).sum
    val sentinelRuns = times(SentinelQuery)
    val sentinelMin = if (sentinelRuns.nonEmpty) sentinelRuns.min else Double.NaN
    val noise =
      if (sentinelRuns.size > 1 && sentinelRuns.min > 0) sentinelRuns.max / sentinelRuns.min
      else 1.0
    def render(f: Double => String, entries: Seq[(String, Double)],
        omitted: Int, withNorm: Boolean): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + f(v) }
        .mkString("{", ",", "}")
      val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      val fl =
        if (failedNames.isEmpty) ""
        else failedNames.map("\"" + _ + "\"")
          .mkString(""","failed":[""", ",", "]")
      // always emitted: under SPARK_GRAFT_BENCH_ONLY an exempt query IS
      // timed (the developer explicitly asked for it — local iteration),
      // so the list must stay visible to flag those seconds as
      // layout-write time, not engine throughput
      val ex =
        if (exempt.isEmpty) ""
        else exempt.map("\"" + _ + "\"")
          .mkString(""","exempt":[""", ",", "]")
      val norm =
        if (!withNorm || !(sentinelMin > 0)) "" // no sentinel -> no norm map
        else entries.map { case (k, v) =>
          "\"" + k + "\":" + f(v / sentinelMin)
        }.mkString(""","queries_norm":{""", ",", "}")
      // a sentinel that failed every pass must not emit bare NaN (invalid
      // JSON would zero the whole round's bench parse) — emit null
      val sentinelJson = if (sentinelMin.isNaN) "null" else f(sentinelMin)
      s"""{"metric":"total","value":${f(total)},"unit":"sec"""" +
        s""","queries":$qs$om$fl$ex,"sf":"$sfDir","runs":$runs""" +
        s""","sentinel":{"name":"$SentinelQuery","sec":$sentinelJson""" +
        s""","passes":[${sentinelRuns.map(f).mkString(",")}]}""" +
        s""","noise":${f(noise)}$norm}"""
    }
    // The query count outgrew the tail window at r11 (84 entries ≈ 2.3k
    // chars — the line's HEAD was cut off and the driver parsed null). The
    // stdout "queries" map shows the sentinel, then queries in name order
    // while the line fits, with a "queries_omitted" count; "value" stays
    // the sum over ALL queries and the file copy always carries the full
    // map. The cut is sized with every number at a fixed width, so the
    // visible set depends on the query names alone and is the same every
    // run: a query never looks dropped because another one got cheaper.
    val StdoutBudget = 1650
    val (sentinelEntry, others) = mins.partition(_._1 == SentinelQuery)
    val ordered = sentinelEntry ++ others
    val shown = (ordered.size to 1 by -1).find { n =>
      render(_ => "99.999", ordered.take(n), mins.size - n,
        withNorm = false).length <= StdoutBudget
    }.getOrElse(ordered.size min 1)
    val line = render(fmt, ordered.take(shown), mins.size - shown, withNorm = false)
    if (line.length > 1800)
      System.err.println(s"[bench] WARNING: JSON line ${line.length} chars — " +
        "may outgrow the driver's 2000-char tail capture")
    // stdout (raw — build.sbt sets run/outputStrategy := StdoutOutput so the
    // forked JVM's output is not wrapped in sbt's "[info] " logger prefix)
    // plus a file copy so the caller can read it either way.
    println(line)
    // fold the latest measured scale-curve exponents (graft.tools.ScaleCurve
    // writes scale_curve.json; docs/SCALE.md has the recipe) into the FILE
    // copy only — the stdout line must stay inside the driver's tail window
    val scale = {
      val f = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "scale_curve.json"))
      if (java.nio.file.Files.exists(f))
        "," + "\"scale\":" + new String(java.nio.file.Files.readAllBytes(f),
          java.nio.charset.StandardCharsets.UTF_8).trim
      else ""
    }
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // per-query adjacent-probe units (file copy only): each query's min
    // divided by the probe run immediately before the pass that PRODUCED
    // that min — the drift estimate local to that measurement
    val sentinelUnits = mins.flatMap { case (n, mn) =>
      val idx = times(n).indexOf(mn)
      val ps = probes(n)
      if (idx >= 0 && idx < ps.size && ps(idx) > 0) Some(n -> mn / ps(idx))
      else None
    }
    val su =
      if (sentinelUnits.isEmpty) ""
      else sentinelUnits.map { case (k, v) => "\"" + k + "\":" + fmt6(v) }
        .mkString(""","sentinel_units":{""", ",", "}")
    val allProbes = names.flatMap(probes(_))
    val pr =
      if (allProbes.isEmpty) ""
      else s""","probe":{"sec":${fmt6(allProbes.min)}""" +
        s""","max":${fmt6(allProbes.max)},"n":${allProbes.size}}"""
    val full = render(fmt6, mins, 0, withNorm = true)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (full.dropRight(1) + su + pr + scale + "}\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
