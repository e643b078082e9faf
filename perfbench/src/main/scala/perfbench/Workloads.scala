package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.cli.Hdfs2CassSpark
import graft.core.{CassandraParams, CassandraTokens, StaticClusterInfo}
import graft.operators.{CqlPipeline, Curate, Similarity}
import graft.sinks.{BulkSink, InProcessCluster, LoaderPlan, StreamLoader}
import graft.sinks.BulkSink.PartitionManifest
import graft.sinks.v2.GraftBulkRead

/** Input sizes and loop floors. The defaults are the benchmark's; tests
  * shrink them. */
final case class Sizes(
    narrowRows: Long = 400000L,
    reducers: Int = 16,
    genReps: Int = 3,
    minJobs: Int = 3,
    scansPerJob: Int = 20,
    warmScans: Int = 80)

/** Everything one run needs. */
final case class Ctx(spark: SparkSession, work: File, seed: Long,
    seconds: Double, sizes: Sizes = Sizes()) {
  val nproc: Int = spark.sparkContext.defaultParallelism
  def dir(name: String): File = new File(work, name)
}

/** A finished run: metrics by name, the output checks, and operations
  * attempted and failed (jobs, stream sessions, scans and checks). */
final case class Outcome(e2e: Map[String, Double], layer: Map[String, Double],
    checks: Seq[Check], attempted: Long, failed: Long)

/** One load's results as the benchmark sees them. */
final case class LoadResult(wallS: Double, manifests: Seq[PartitionManifest],
    plan: Map[String, Set[String]], received: Seq[Recv], sinkDir: File) {
  /** Physical bytes the replicas accepted (the wire payload). */
  def storedBytes: Long = {
    val byFile = manifests.map(m => m.dataFile -> m).toMap
    received.map { r =>
      val m = byFile(r.dataFile)
      if (m.physicalBytes >= 0) m.physicalBytes else m.bytes
    }.sum
  }
  def sessions: Int = plan.values.map(_.size).sum
}

/** How a table is loaded: the CLI's projection flags and target URI. */
final case class LoadSpec(input: File, rows: Long, rowkey: Option[String],
    timestamp: String, ttl: Option[String], uri: String)

final class Tally {
  var attempted = 0L
  var failed = 0L
  val checks: ArrayBuffer[Check] = ArrayBuffer.empty
  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
  def check(cs: Seq[Check]): Unit = cs.foreach { c => checks += c; op(c.ok) }
}

object Workloads {

  val Rf = 2

  /** Documents in the curation corpus. */
  val Docs = 2000

  /** Contiguous ring slices a curate_load read-back scans. */
  val ReadSlices = 32

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val i = pos.toInt
    if (i + 1 >= s.length) s.last else s(i) + (pos - i) * (s(i + 1) - s(i))
  }

  /** A diagnostic line on stderr (stdout carries only the result). */
  def note(msg: String): Unit = System.err.println(s"perfbench: $msg")

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
    ()
  }

  private def fresh(f: File): File = { rmTree(f); f }

  def peakRssMb(): Double = {
    val line = Files.readAllLines(new File("/proc/self/status").toPath).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def readPlan(sinkDir: File): Map[String, Set[String]] = {
    val json = new String(Files.readAllBytes(new File(sinkDir, "_STREAM_PLAN.json").toPath),
      StandardCharsets.UTF_8)
    """"([^"]+)":\s*\[([^\]]*)\]""".r.findAllMatchIn(json).map { m =>
      m.group(1) -> """"([^"]+)"""".r.findAllMatchIn(m.group(2)).map(_.group(1)).toSet
    }.toMap
  }

  private def ringFile(ctx: Ctx): File = {
    val f = ctx.dir("ring.json")
    if (!f.exists()) Gen.writeRing(f, Rf)
    f
  }

  private def withCluster[T](body: (InProcessCluster, Map[String, (String, Int)]) => T): T = {
    val cluster = new InProcessCluster(Gen.Hosts, ring = Gen.Ring.toMap)
    val endpoints = cluster.start()
    try body(cluster, endpoints) finally cluster.stop()
  }

  private def receivedOf(cluster: InProcessCluster): Seq[Recv] =
    cluster.receivedStreams.values.map(r =>
      Recv(r.host, r.dataFile, r.rows, r.bytes, r.sortedOk)).toSeq

  /** One load through the CLI entry point, streamed to a fresh 3-node
    * in-process cluster. */
  def cliLoad(ctx: Ctx, spec: LoadSpec, sinkDir: File): LoadResult =
    withCluster { (cluster, endpoints) =>
      val eps = endpoints.toSeq.sortBy(_._1).map { case (h, (a, p)) => s"$h=$a:$p" }.mkString(",")
      val argv = Seq("--input", spec.input.getPath, "--output", spec.uri,
        "--format", "parquet", "--sink-dir", fresh(sinkDir).getPath,
        "--cluster-info", ringFile(ctx).getPath, "--stream-endpoints", eps,
        "--timestamp", spec.timestamp) ++
        spec.rowkey.toSeq.flatMap(k => Seq("--rowkey", k)) ++
        spec.ttl.toSeq.flatMap(t => Seq("--ttl", t))
      // the CLI reports stream sessions on stdout; the result line owns it
      val (manifests, wall) = time(Console.withOut(System.err) {
        Hdfs2CassSpark.run(ctx.spark, Hdfs2CassSpark.parseArgs(argv))
      })
      LoadResult(wall, manifests, readPlan(sinkDir), receivedOf(cluster), sinkDir)
    }

  /** The same load as `Hdfs2CassSpark.run`, call for call, with a span
    * around each layer's public entry point. */
  def tracedLoad(ctx: Ctx, spec: LoadSpec, sinkDir: File, tr: Tracer): LoadResult =
    withCluster { (cluster, endpoints) =>
      fresh(sinkDir)
      val t0 = System.nanoTime()
      val info = StaticClusterInfo.fromJsonFile(ringFile(ctx).getPath)
      val params = CassandraParams.parse(spec.uri, info)
      val input = ctx.spark.read.parquet(spec.input.getPath)
      val proj = CqlPipeline.Projection(rowkey = spec.rowkey,
        timestampField = Some(spec.timestamp), ttlField = spec.ttl,
        defaultTimestampMicros = System.currentTimeMillis() * 1000L)
      val projected = tr.span("cql.toCql")(CqlPipeline.toCql(input, proj))
      val manifests = tr.span("bulk.writeSorted")(BulkSink.writeSorted(projected,
        Seq("rowkey"), params.reducers, sinkDir.getPath,
        partitionerClass = info.partitionerClass,
        compression = params.compressionClass,
        distributeRandomly = params.distributeRandomly))
      val nodes = info.ring.map { case (h, ts) => LoaderPlan.RingNode(h, ts) }
      val rf = params.replication.orElse(info.replicationFactor).getOrElse(Rf).min(nodes.length)
      val plan = tr.span("plan.planStreams")(LoaderPlan.planStreams(manifests, nodes, rf))
      InProcessCluster.writePlanJson(sinkDir.getPath, plan)
      tr.span("stream.stream")(StreamLoader.stream(sinkDir.getPath, plan, endpoints,
        manifests, parallelism = math.min(4, ctx.nproc),
        throttleMBits = params.streamThrottleMBits))
      LoadResult((System.nanoTime() - t0) / 1e9, manifests, readPlan(sinkDir),
        receivedOf(cluster), sinkDir)
    }

  /** Runs `body` with the tracer's listener attached (when tracing), and
    * detaches it once every event of `body` has been delivered. */
  def listening[T](ctx: Ctx, tr: Option[Tracer])(body: => T): T = {
    val sc = ctx.spark.sparkContext
    tr.foreach(t => sc.addSparkListener(t.listener))
    try body
    finally tr.foreach { t =>
      org.apache.spark.perfbench.BusDrain(sc)
      sc.removeSparkListener(t.listener)
    }
  }

  /** Manifest, plan and replica checks of one load, plus its sessions. */
  def checkLoad(tally: Tally, spec: LoadSpec, r: LoadResult): Unit = {
    val recv = r.received.map(x => (x.host, x.dataFile)).toSet
    r.plan.foreach { case (f, hs) => hs.foreach(h => tally.op(recv.contains((h, f)))) }
    tally.check(Checks.load(spec.rows, r.manifests, r.plan, r.received, Gen.Ring, Rf))
  }

  /** Catalyst phase time of planning the projection afresh. */
  private def cqlPlanMs(ctx: Ctx, spec: LoadSpec): Double = {
    val input = ctx.spark.read.parquet(spec.input.getPath)
    val qe = CqlPipeline.toCql(input, CqlPipeline.Projection(rowkey = spec.rowkey,
      timestampField = Some(spec.timestamp), ttlField = spec.ttl)).queryExecution
    qe.executedPlan
    qe.tracker.phases.values.map(_.durationMs).sum.toDouble
  }

  /** Per-layer metrics of one traced load (the spans under `root`). */
  def loadLayers(ctx: Ctx, tr: Tracer, root: Span, r: LoadResult, spec: LoadSpec,
      gcS: Double): Map[String, Double] = {
    val sub = tr.subtree(root)
    val all = sub.map(tr.sparkOf)
    val write = sub.find(_.name == "bulk.writeSorted").get
    val w = tr.sparkOf(write)
    val reduceS = w.resultRunMs.map(_ / 1000.0).toSeq
    val rows = r.manifests.map(_.rows.toDouble)
    val stream = sub.find(_.name == "stream.stream").get
    val wireMb = r.storedBytes / 1e6
    val byFile = r.manifests.map(m => m.dataFile -> m).toMap
    val verified = r.received.count(x => x.sortedOk &&
      byFile.get(x.dataFile).exists(m => m.rows == x.rows && m.bytes == x.bytes))
    Map(
      "spark.jobs" -> all.map(_.jobs).sum.toDouble,
      "spark.tasks" -> all.map(_.tasks).sum.toDouble,
      "jvm.gc_s" -> gcS,
      "cql.plan_ms" -> cqlPlanMs(ctx, spec),
      "map.task_s" -> w.mapRunMs / 1000.0,
      "bulk.write_s" -> write.seconds,
      "shuffle.write_mb" -> w.shuffleWriteBytes / 1e6,
      "shuffle.records" -> w.shuffleWriteRecords.toDouble,
      "shuffle.fetch_wait_s" -> w.fetchWaitMs / 1000.0,
      "sort.spill_mb" -> w.spillDiskBytes / 1e6,
      "reduce.task_s" -> reduceS.sum,
      "reduce.max_task_s" -> (if (reduceS.isEmpty) 0.0 else reduceS.max),
      "reduce.task_skew" -> (if (reduceS.isEmpty || median(reduceS) <= 0) 0.0
                             else reduceS.max / median(reduceS)),
      "bulk.bucket_row_skew" -> (if (rows.sum <= 0) 0.0 else rows.max / (rows.sum / rows.length)),
      "bulk.run_mb" -> r.manifests.map(_.bytes).sum / 1e6,
      "bulk.run_phys_mb" -> r.manifests.map(m =>
        if (m.physicalBytes >= 0) m.physicalBytes else m.bytes).sum / 1e6,
      "plan.streams_ms" -> sub.find(_.name == "plan.planStreams").get.seconds * 1000.0,
      "plan.sessions" -> r.sessions.toDouble,
      "stream.s" -> stream.seconds,
      "stream.wire_mb" -> wireMb,
      "stream.wire_mb_per_s" -> wireMb / stream.seconds,
      "stream.sessions_failed" -> (r.sessions - r.received.size).toDouble,
      "stream.verified_frac" -> (if (r.sessions == 0) 0.0 else verified.toDouble / r.sessions),
      "trace.job_s" -> root.seconds,
      // only the job span has children; every other span's self time is
      // its duration, reported above (all of them are in the spans file)
      "self.job_s" -> tr.selfSeconds(root),
      "trace.unaccounted_frac" -> tr.selfSeconds(root) / root.seconds)
  }

  /** Read-back of a load in `slices` contiguous token ranges covering the
    * ring, each one timed; the union must fold to `expected`. */
  def readBack(ctx: Ctx, tally: Tally, r: LoadResult, expected: Fold,
      tr: Option[Tracer]): (Seq[Double], Map[String, Double]) = {
    val bounds = slices(ReadSlices)
    val scans = listening(ctx, tr)(bounds.map { case (lo, hi) => timedScan(ctx, r.sinkDir, lo, hi, tr) })
    val got = scans.map(_._1).foldLeft(Fold.Zero)(_ + _)
    tally.check(Seq(Check("readback_fold", got == expected,
      s"read-back $got, projected input $expected")))
    (scans.map(_._2 * 1000.0), readLayers(tr, r.sinkDir, bounds, scans.map(_._1)))
  }

  /** `n` contiguous token ranges covering the ring. */
  def slices(n: Int): Seq[(Long, Long)] = {
    val step = java.lang.Long.divideUnsigned(-1L, n.toLong)
    (0 until n).map { k =>
      val lo = Long.MinValue + k * step
      (lo, if (k == n - 1) Long.MaxValue else lo + step - 1)
    }
  }

  /** One `graft-bulk` scan, in a `read.scan` span when traced. */
  def timedScan(ctx: Ctx, dir: File, lo: Long, hi: Long, tr: Option[Tracer]): (Fold, Double) =
    tr match {
      case Some(t) => time(t.span("read.scan")(Checks.scan(ctx.spark, dir, lo, hi)))
      case None    => time(Checks.scan(ctx.spark, dir, lo, hi))
    }

  /** Per-scan read-path metrics over the most recent `bounds.size` scan
    * spans (zeros when untraced). */
  def readLayers(tr: Option[Tracer], dir: File, bounds: Seq[(Long, Long)],
      folds: Seq[Fold]): Map[String, Double] = tr match {
    case None => Map.empty
    case Some(t) =>
      val spans = t.spansNamed("read.scan").takeRight(bounds.size)
      val aggs = spans.map(t.sparkOf)
      val manifests = BulkSink.readManifests(dir)
      val runs = manifests.count(_.rows > 0).max(1)
      val splits = bounds.map { case (lo, hi) =>
        GraftBulkRead.planSplits(dir, Some(lo), Some(hi), Some(manifests)) }
      val planned = splits.map(_.map(_.estBytes).sum).sum
      val rowsOut = folds.map(_.rows).sum
      val k = bounds.size.toDouble
      Map(
        "read.plan_ms" -> aggs.map(_.planMs).sum / k,
        "read.jobs_per_scan" -> aggs.map(_.jobs).sum / k,
        "read.splits_per_scan" -> splits.map(_.size).sum / k,
        "read.runs_pruned_frac" -> splits.map(s => 1.0 - s.size.toDouble / runs).sum / k,
        "read.mb_per_scan" -> planned / 1e6 / k,
        "read.bytes_per_row_out" -> (if (rowsOut == 0) 0.0 else planned.toDouble / rowsOut),
        "read.task_s_per_scan" -> aggs.map(a => a.mapRunMs + a.resultRunMs.sum).sum / 1000.0 / k)
  }

  // ---- workloads -----------------------------------------------------------

  private def narrowSpec(ctx: Ctx, input: File, rows: Long): LoadSpec =
    LoadSpec(input, rows, rowkey = None, timestamp = "event_ts", ttl = Some("ttl_s"),
      uri = s"cql://127.0.0.1:9042/bench/narrow?reducers=${ctx.sizes.reducers}&replication=$Rf")

  /** Generates the narrow table `genReps` times (same seed, fresh
    * directory each time) and returns the last and the median time. */
  private def genNarrow(ctx: Ctx, rows: Long): (File, Double) = {
    val times = (1 to ctx.sizes.genReps).map { i =>
      time(Gen.writeNarrow(ctx.spark, ctx.seed, rows, fresh(ctx.dir(s"narrow-$i"))))._2
    }
    (ctx.dir(s"narrow-${ctx.sizes.genReps}"), median(times))
  }

  /**
   * Runs load jobs back to back for the run's seconds (at least `minJobs`),
   * calling `after` on each job's result before the next job starts.
   * Untraced, every job goes through the CLI. Traced, CLI jobs and traced
   * jobs alternate (at least one of each), so the two job times give the
   * tracing overhead.
   */
  private def loadLoop(ctx: Ctx, tally: Tally, tr: Option[Tracer], minJobs: Int,
      job: (Int, Option[Tracer]) => (LoadSpec, LoadResult, Map[String, Double]),
      after: LoadResult => Unit = _ => ()):
      (Seq[LoadResult], Seq[Map[String, Double]], Seq[Double]) = {
    val results = ArrayBuffer.empty[LoadResult]
    val layers = ArrayBuffer.empty[Map[String, Double]]
    val untraced = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (i < minJobs || elapsed < ctx.seconds || (tr.isDefined && i < 2)) {
      val traced = tr.filter(_ => i % 2 == 1)
      // start every job from a collected heap, so no job pays for the
      // garbage of the one before
      System.gc()
      val gc0 = Trace.gcSeconds()
      val (spec, r, extra) = listening(ctx, traced)(job(i, traced))
      tally.op(true)
      checkLoad(tally, spec, r)
      traced match {
        case Some(t) =>
          layers += (loadLayers(ctx, t, t.last("job"), r, spec, Trace.gcSeconds() - gc0) ++ extra)
        case None => untraced += r.wallS
      }
      // scans, too, start from a collected heap, so the load's garbage
      // does not land in the read path's latencies
      System.gc()
      after(r)
      results.lastOption.filter(_.sinkDir != r.sinkDir).foreach(p => rmTree(p.sinkDir))
      results += r
      i += 1
    }
    note(results.map(r => f"${r.wallS}%.3f").mkString("job seconds: ", " ", ""))
    (results.toSeq, layers.toSeq, untraced.toSeq)
  }

  /** Median of each per-layer metric over the traced jobs, plus the
    * tracing overhead against the untraced jobs of the same run. */
  private def summarize(layers: Seq[Map[String, Double]], untraced: Seq[Double]): Map[String, Double] =
    if (layers.isEmpty) Map.empty
    else {
      val keys = layers.flatMap(_.keys).distinct
      val med = keys.map(k => k -> median(layers.map(_.getOrElse(k, 0.0)))).toMap
      med ++ Map("trace.untraced_job_s" -> median(untraced),
        "trace.overhead_ms" -> (med("trace.job_s") - median(untraced)) * 1000.0)
    }

  private def e2e(setupS: Double, rowsPerS: Double, storedPerRow: Double,
      scanMs: Seq[Double], tally: Tally): Map[String, Double] = Map(
    "setup_s" -> setupS,
    "rows_per_s" -> rowsPerS,
    "stored_bytes_per_row" -> storedPerRow,
    "scan_p50_ms" -> quantile(scanMs, 0.5),
    "scan_p90_ms" -> quantile(scanMs, 0.9),
    "ok_frac" -> (tally.attempted - tally.failed).toDouble / tally.attempted,
    "peak_rss_mb" -> peakRssMb())

  /**
   * load_narrow: load jobs back to back, each followed by a block of
   * seeded token-range scans over its runs (one client, closed loop), so
   * scans spread over the whole run. The 20th scan of each block covers
   * the whole ring and must fold to the projected input; every other
   * scan's count must match the generator's own sorted tokens.
   */
  def loadNarrow(ctx: Ctx, sessionS: Double, tr: Option[Tracer]): Outcome = {
    val tally = new Tally
    val sz = ctx.sizes
    val (input, genS) = genNarrow(ctx, sz.narrowRows)
    val spec = narrowSpec(ctx, input, sz.narrowRows)
    // warm-up: one load of the same table through the whole path (JIT,
    // codegen caches, page cache) and scans of its runs; scan latency
    // keeps falling for about the first 100 scans of a JVM, the measured
    // blocks included
    val (_, warmS) = time {
      val r = cliLoad(ctx, spec, ctx.dir("sink-warm"))
      checkLoad(tally, spec, r)
      val rnd = scanRanges(ctx.seed + 1)
      (0 until sz.warmScans).foreach(_ => { val (lo, hi) = rnd(); Checks.scan(ctx.spark, r.sinkDir, lo, hi) })
      rmTree(r.sinkDir)
    }
    val setupS = sessionS + genS + warmS
    note(f"setup: session $sessionS%.2f s, generate $genS%.2f s, warm-up $warmS%.2f s")

    val expected = Checks.expectedFold(ctx.spark.read.parquet(input.getPath),
      "user_id", "event_ts", Some("ttl_s"))
    // the generator's own token for every key, sorted
    val tokens = Array.tabulate(sz.narrowRows.toInt)(i =>
      CassandraTokens.token(Gen.narrowKey(ctx.seed, i.toLong).getBytes(StandardCharsets.UTF_8)))
    java.util.Arrays.sort(tokens)
    val scanner = new Scanner(ctx, tally, tokens, expected, tr)
    val (results, layers, untraced) = loadLoop(ctx, tally, tr, sz.minJobs, (i, traced) => {
      val sink = ctx.dir(s"sink-$i")
      traced match {
        case Some(t) => (spec, t.span("job")(tracedLoad(ctx, spec, sink, t)), Map.empty)
        case None    => (spec, cliLoad(ctx, spec, sink), Map.empty)
      }
    }, r => scanner.block(r.sinkDir, sz.scansPerJob))
    val last = results.last
    val jobS = if (tr.isEmpty) results.map(_.wallS) else untraced
    note(f"scans: ${scanner.latencies.size}, ${scanner.rowsPerSecond}%.0f rows/s scanned")
    Outcome(
      e2e(setupS, sz.narrowRows / median(jobS), last.storedBytes.toDouble / sz.narrowRows,
        scanner.latencies, tally),
      summarize(layers, untraced) ++ scanner.layers, tally.checks.toSeq, tally.attempted,
      tally.failed)
  }

  /** Seeded scan ranges: every 20th covers the ring; the others have a
    * width log-uniform in [2^-12, 2^-3] of the ring and a uniform start.
    * The widths are stratified and the same for every seed: each block of
    * 19 takes one width from each nineteenth of the log range, at an offset
    * within it that moves by the golden ratio from block to block. The seed
    * sets only their order and where each range falls, so the latency
    * quantiles of two seeds rank scans of the same widths. */
  def scanRanges(seed: Long): () => (Long, Long) = {
    val rnd = new java.util.SplittableRandom(Gen.mix(seed ^ 0x7363616eL))
    val strata = 19
    var block = Array.empty[Int]
    var cycle = 0
    var offset = 0.0
    var i = 0
    () => {
      i += 1
      if (i % 20 == 0) (Long.MinValue, Long.MaxValue)
      else {
        if (block.isEmpty) {
          block = Array.tabulate(strata)(identity)
          var k = strata - 1
          while (k > 0) { val j = rnd.nextInt(k + 1); val t = block(k); block(k) = block(j); block(j) = t; k -= 1 }
          offset = (0.5 + cycle * 0.6180339887498949) % 1.0
          cycle += 1
        }
        val u = (block.head + offset) / strata
        block = block.tail
        val ring = math.pow(2.0, 64)
        val w = math.pow(2.0, -12 + 9 * u) * ring
        val lo = (rnd.nextDouble() * (ring - w) - math.pow(2.0, 63)).toLong
        val hi = lo + w.toLong - 1
        (lo, if (hi < lo) Long.MaxValue else hi)
      }
    }
  }

  /** One client issuing seeded scans in a closed loop, in blocks. Traced
    * runs alternate traced and untraced scans, so the two latencies give
    * the tracing overhead. */
  final class Scanner(ctx: Ctx, tally: Tally, tokens: Array[Long], expected: Fold,
      tr: Option[Tracer]) {
    private val next = scanRanges(ctx.seed)
    private val bounds = ArrayBuffer.empty[(Long, Long)]
    private val folds = ArrayBuffer.empty[Fold]
    private val untracedMs = ArrayBuffer.empty[Double]
    private val tracedMs = ArrayBuffer.empty[Double]
    private var rowsOut = 0L
    private var dir: File = _

    def block(runs: File, n: Int): Unit = listening(ctx, tr) {
      dir = runs
      (0 until n).foreach { _ =>
        val (lo, hi) = next()
        val traced = tr.filter(_ => (untracedMs.size + tracedMs.size) % 2 == 1)
        val (f, s) = timedScan(ctx, runs, lo, hi, traced)
        val want = Checks.countInRange(tokens, lo, hi)
        // a full-ring scan must also fold to the projected input
        val ok = f.rows == want && (lo != Long.MinValue || hi != Long.MaxValue || f == expected)
        tally.op(ok)
        if (!ok) tally.checks += Check("scan_fold", ok = false,
          s"scan [$lo, $hi] gave $f; generator has $want rows, full ring $expected")
        rowsOut += f.rows
        if (traced.isDefined) { bounds += ((lo, hi)); folds += f; tracedMs += s * 1000.0 }
        else untracedMs += s * 1000.0
      }
    }

    def latencies: Seq[Double] = untracedMs.toSeq ++ tracedMs.toSeq

    def rowsPerSecond: Double = rowsOut / (latencies.sum / 1000.0)

    /** Read-path metrics of the traced scans (on the last block's runs,
      * which hold the same rows as every other block's). */
    def layers: Map[String, Double] = tr.fold(Map.empty[String, Double]) { t =>
      readLayers(tr, dir, bounds.toSeq, folds.toSeq) ++ Map(
        "trace.scan_overhead_ms" -> (median(tracedMs.toSeq) - median(untracedMs.toSeq)))
    }
  }

  // ---- curate_load ---------------------------------------------------------

  private val DocCols = Seq("doc_id", "domain", "text", "embedding", "crawled_at")

  private def curateSpec(ctx: Ctx, survivors: File, rows: Long): LoadSpec =
    LoadSpec(survivors, rows, rowkey = Some("domain"), timestamp = "crawled_at", ttl = None,
      uri = s"cql://127.0.0.1:9042/bench/docs?reducers=${ctx.sizes.reducers}" +
        s"&replication=$Rf&compressionclass=LZ4Compressor")

  /** Job 1: curation, semantic dedup, survivors staged as parquet. */
  private def curateJob(ctx: Ctx, corpus: File, out: File, tr: Option[Tracer]): Unit = {
    def sp[T](name: String)(body: => T): T = tr.fold(body)(_.span(name)(body))
    val docs = ctx.spark.read.parquet(corpus.getPath)
    val (curated, _) = sp("curate.curateCorpus")(Curate.curateCorpus(docs, "doc_id", "text"))
    val kept = sp("semdedup.semanticDedup")(
      Similarity.semanticDedup(curated, "doc_id", "embedding", threshold = 0.95))
    sp("stage_parquet")(kept.select(DocCols.map(col): _*)
      .write.mode("overwrite").parquet(fresh(out).getPath))
  }

  /** Kept-set checks of job 1 against the generator's plant list;
    * returns the planted near-duplicate recall and the false drops. */
  private def checkKept(ctx: Ctx, tally: Tally, survivors: File, truth: CorpusTruth):
      (Double, Double) = {
    val kept = ctx.spark.read.parquet(survivors.getPath).select("doc_id")
      .collect().map(_.getLong(0))
    val keptSet = kept.toSet
    val falseDrops = (truth.expectedKept -- keptSet).size
    val recall = truth.nearDupLosers.count(id => !keptSet.contains(id)).toDouble /
      math.max(1, truth.nearDupLosers.size)
    tally.check(Seq(
      Check("kept_count", kept.length == truth.expectedKept.size && keptSet == truth.expectedKept,
        s"kept ${kept.length} docs (${keptSet.size} distinct), expected ${truth.expectedKept.size}"),
      Check("near_dup_recall", recall == 1.0, s"planted near-duplicate recall $recall"),
      Check("no_false_drop", falseDrops == 0, s"$falseDrops expected docs dropped")))
    (recall, falseDrops.toDouble)
  }

  def curateLoad(ctx: Ctx, sessionS: Double, tr: Option[Tracer]): Outcome = {
    val tally = new Tally
    val sz = ctx.sizes
    val genTimes = (1 to sz.genReps).map { i =>
      time {
        val (docs, truth) = Gen.corpus(ctx.seed, Docs)
        Gen.writeCorpus(ctx.spark, docs, fresh(ctx.dir(s"corpus-$i")))
        truth
      }
    }
    val truth = genTimes.last._1
    val corpus = ctx.dir(s"corpus-${sz.genReps}")
    // warm-up: the whole pipeline once on the same corpus, read-back
    // included (JIT, codegen caches, page cache)
    val (_, warmS) = time {
      val survivors = ctx.dir("warm-survivors")
      curateJob(ctx, corpus, survivors, None)
      checkKept(ctx, tally, survivors, truth)
      val spec = curateSpec(ctx, survivors, truth.expectedKept.size.toLong)
      val r = cliLoad(ctx, spec, ctx.dir("sink-warm"))
      checkLoad(tally, spec, r)
      slices(ReadSlices).foreach { case (lo, hi) => Checks.scan(ctx.spark, r.sinkDir, lo, hi) }
      rmTree(r.sinkDir)
    }
    val setupS = sessionS + median(genTimes.map(_._2)) + warmS
    note(f"setup: session $sessionS%.2f s, generate ${median(genTimes.map(_._2))}%.2f s, warm-up $warmS%.2f s")

    // every iteration keeps the same survivors, so one fold serves all
    val expected = Checks.expectedFold(ctx.spark.read.parquet(ctx.dir("warm-survivors").getPath),
      "domain", "crawled_at", None)
    val scanMs = ArrayBuffer.empty[Double]
    var readL = Map.empty[String, Double]

    val (results, layers, untraced) = loadLoop(ctx, tally, tr, 1, (i, traced) => {
      val survivors = ctx.dir("survivors")
      val sink = ctx.dir(s"sink-$i")
      traced match {
        case Some(t) =>
          val r = t.span("job") {
            val (_, s1) = time(curateJob(ctx, corpus, survivors, traced))
            val spec = curateSpec(ctx, survivors, truth.expectedKept.size.toLong)
            val r2 = tracedLoad(ctx, spec, sink, t)
            (spec, r2.copy(wallS = s1 + r2.wallS))
          }
          val (recall, falseDrops) = checkKept(ctx, tally, survivors, truth)
          val sub = t.subtree(t.last("job"))
          def one(n: String) = sub.find(_.name == n).get
          val cur = t.sparkOf(one("curate.curateCorpus"))
          (r._1, r._2, Map(
            "curate.s" -> one("curate.curateCorpus").seconds,
            "curate.jobs" -> cur.jobs.toDouble,
            "curate.plan_ms" -> cur.planMs.toDouble,
            "curate.shuffle_mb" -> cur.shuffleWriteBytes / 1e6,
            "semdedup.s" -> one("semdedup.semanticDedup").seconds,
            "semdedup.jobs" -> t.sparkOf(one("semdedup.semanticDedup")).jobs.toDouble,
            "stage_parquet.s" -> one("stage_parquet").seconds,
            "dedup.recall" -> recall,
            "dedup.false_drop" -> falseDrops))
        case None =>
          val (_, s1) = time(curateJob(ctx, corpus, survivors, None))
          checkKept(ctx, tally, survivors, truth)
          val spec = curateSpec(ctx, survivors, truth.expectedKept.size.toLong)
          val r2 = cliLoad(ctx, spec, sink)
          (spec, r2.copy(wallS = s1 + r2.wallS), Map.empty)
      }
    }, r => (1 to 2).foreach { _ =>
      // two read-back passes, so the scan quantiles rest on 64 scans
      val (ms, l) = readBack(ctx, tally, r, expected, tr)
      scanMs ++= ms
      readL = l
    })
    val last = results.last
    val jobS = if (tr.isEmpty) results.map(_.wallS) else untraced
    Outcome(
      e2e(setupS, Docs / median(jobS), last.storedBytes.toDouble / Docs, scanMs.toSeq, tally),
      summarize(layers, untraced) ++ readL, tally.checks.toSeq, tally.attempted, tally.failed)
  }
}
