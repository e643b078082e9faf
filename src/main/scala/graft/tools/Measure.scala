package graft.tools

import java.lang.management.{GarbageCollectorMXBean, ManagementFactory}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Sessions, SparkEntry}
import graft.SparkEntry.Query

/**
 * The one measurement tool. Every mode runs `SparkEntry.queries` on a
 * `Sessions.local` session — the engine's own config, the one Bench and
 * Verify run — and times a query the way the bench does: a full write
 * through the noop sink.
 *
 *   sbt "runMain graft.tools.Measure ab <sqlConf> <a> <b> <q1,...> [pairs]"
 *   sbt "runMain graft.tools.Measure profile [q1,...]"
 *   sbt "runMain graft.tools.Measure plans <outFile> [q1,...]"
 *   sbt "runMain graft.tools.Measure suite-ctx [probe1,...] [minOf]"
 *
 * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default all
 * cores). Every query name is resolved before the session starts, so a
 * misspelled one fails at once.
 *
 *  - `ab`: same-JVM interleaved A/B of a runtime SQL conf. Both shapes
 *    run once unmeasured, then `pairs` (default 4) A,B pairs; the verdict
 *    compares min-of-N. Only interleaving inside one process survives
 *    external-load oscillation (cross-process runs disagreed by 2x).
 *  - `profile`: one warm-up run, then one run under a listener that
 *    attributes wall time to Spark jobs and their stages (duration,
 *    tasks, input, shuffle read/write, spill). Each query also prints one
 *    JSON line (`{"query":...}`): Catalyst planning ms by phase, jobs,
 *    stages, tasks, shuffle and spill bytes, and max/median task time.
 *    Default: the timed queries (the per-layer split of Bench's suite).
 *  - `plans`: `explain("formatted")` of each query (default: the
 *    headline list) into one markdown file, e.g. PLANS.md.
 *  - `suite-ctx`: what a long-lived session accumulates. The probes are
 *    timed fresh (min of N), after one pass of the timed suite, and
 *    again after a full GC has let ContextCleaner drain; storage and
 *    cumulative GC time are printed at each phase boundary.
 */
object Measure {
  /** The queries whose plans PLANS.md carries. */
  val Headline: Seq[String] = Seq(
    "s1_scan_project", "q1_agg", "q3_join_topk", "q15_revenue_by_nation", "q14_sessionize",
    "f1_serialize_hex", "dedup_exact", "dedup_minhash_lsh", "dedup_ngram", "dedup_simhash_pairs",
    "embed_knn", "embed_ivf_topk", "text_repetition", "corpus_split", "decontaminate",
    "q18_asof_join", "q19_range_join", "corpus_heavy_ngrams", "text_redact", "dedup_semantic",
    "text_line_dedup", "q27_lateral", "q20b_approx_percentiles", "q29_intersect_all",
    "q31_variant_json", "text_gopher_rules", "text_perplexity", "text_hybrid_rrf",
    "embed_centroids", "embed_outliers", "source_overlap", "classify_nb", "embed_drift",
    "text_gopher_repetition", "corpus_upsample", "q14b_session_window", "q34_salted_join",
    "entity_resolve", "dedup_incremental", "corpus_leakage_split", "q36_funnel", "cdc_compact",
    "cdc_scd2", "graph_triangles", "embed_covariance", "embed_pca_project", "profile_stats",
    "q37_retention", "embed_pca2", "q38_sliding_window", "curate_normalize", "events_anomaly",
    "dedup_graph_quality", "embed_ivf_persisted", "embed_pq_topk", "embed_ivfpq_topk",
    "embed_random_projection", "q39_bucketed_join", "q40_zorder_key", "dedup_containment",
    "text_encoding", "text_sentences", "profile_histogram", "events_ohlc",
    "profile_histogram_eq_approx", "lakehouse_pruned_join", "lakehouse_incremental",
    "lakehouse_pruned_date", "lakehouse_pruned_2d", "lakehouse_compact", "lakehouse_changes",
    "lakehouse_delete", "lakehouse_upsert", "lakehouse_upsert_large", "lakehouse_replace",
    "lakehouse_evolve", "lakehouse_cdf", "lakehouse_upsert_changes")

  def main(args: Array[String]): Unit = {
    val timed = SparkEntry.queries.filter(_.timed).sortBy(_.name)
    // names resolve here, outside the mode closures, so an unknown one
    // fails before the session starts
    val mode: (SparkSession, String) => Unit = args.toList match {
      case "ab" :: key :: a :: b :: qs :: rest if rest.size <= 1 =>
        val (names, pairs) = (SparkEntry.resolveCsv(qs), rest.headOption.fold(4)(_.toInt))
        ab(_, _, key, a, b, names, pairs)
      case "profile" :: rest if rest.size <= 1 =>
        val names = rest.headOption.fold(timed)(SparkEntry.resolveCsv)
        profile(_, _, names)
      case "plans" :: out :: rest if rest.size <= 1 =>
        val names = rest.headOption.fold(SparkEntry.resolve(Headline))(SparkEntry.resolveCsv)
        plans(_, _, out, names)
      case "suite-ctx" :: rest if rest.size <= 2 =>
        val probes = rest.headOption.map(SparkEntry.resolveCsv).filter(_.nonEmpty)
          .getOrElse(SparkEntry.resolve(Seq("graph_triangles", "graph_pagerank")))
        val minOf = rest.lift(1).fold(3)(_.toInt)
        suiteCtx(_, _, probes, minOf, timed)
      case _ => throw new IllegalArgumentException("usage: Measure ab <sqlConf> <a> <b> " +
        "<q1,...> [pairs] | profile [q1,...] | plans <outFile> [q1,...] | suite-ctx [p1,...] [minOf]")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try mode(spark, sfDir) finally spark.stop()
  }

  /** Wall seconds of one noop-sink write of `q`, and the frame written. */
  private def runFrame(spark: SparkSession, sfDir: String, q: Query): (Double, DataFrame) = {
    val t0 = System.nanoTime()
    val df = q.build(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    ((System.nanoTime() - t0) / 1e9, df)
  }

  private def run(spark: SparkSession, sfDir: String, q: Query): Double =
    runFrame(spark, sfDir, q)._1

  /** Parquet footer caches and session startup, billed to no query. */
  private def warm(spark: SparkSession, sfDir: String): Unit =
    spark.read.parquet(s"$sfDir/region.parquet").count()

  private[graft] def ab(spark: SparkSession, sfDir: String, key: String,
      valA: String, valB: String, queries: Seq[Query], pairs: Int): Unit = {
    warm(spark, sfDir)
    def timed(q: Query, v: String): Double = { spark.conf.set(key, v); run(spark, sfDir, q) }
    def stats(xs: Seq[Double]): String = {
      val s = xs.sorted
      f"min=${s.head}%6.3f med=${s(s.size / 2)}%6.3f"
    }
    val before = spark.conf.getOption(key)
    try queries.foreach { q =>
      timed(q, valA); timed(q, valB) // warm both shapes, unmeasured
      val (a, b) = (1 to pairs).map(_ => (timed(q, valA), timed(q, valB))).unzip
      val verdict =
        if (b.min < 0.9 * a.min) "B-WIN" else if (b.min > 1.1 * a.min) "B-LOSS" else "PAR"
      println(f"[ab] ${q.name}%-28s A($valA%s): ${stats(a)}  " +
        f"B($valB%s): ${stats(b)}  ratio=${b.min / a.min}%5.2f  $verdict")
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private final case class StageAgg(job: Int, name: String, ms: Long, tasks: Int,
    input: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long, diskSpill: Long)

  private final class JobListener extends SparkListener with QueryExecutionListener {
    val stageToJob = TrieMap.empty[Int, Int]
    val jobStart = TrieMap.empty[Int, Long]
    val jobMs = TrieMap.empty[Int, Long]
    val stages = TrieMap.empty[Int, StageAgg]
    val taskMs = TrieMap.empty[Long, Long]
    /** Catalyst phase -> ms, summed over every query that finished. */
    val phaseMs = TrieMap.empty[String, Long]
    def addPhases(tracker: QueryPlanningTracker): Unit = phaseMs.synchronized {
      tracker.phases.foreach { case (p, t) => phaseMs(p) = phaseMs.getOrElse(p, 0L) + t.durationMs }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      addPhases(qe.tracker)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      taskMs(e.taskInfo.taskId) = e.taskInfo.duration
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageToJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobMs(e.jobId) = e.time - jobStart.getOrElse(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = Option(si.taskMetrics)
      stages(si.stageId) = StageAgg(stageToJob.getOrElse(si.stageId, -1),
        si.name.takeWhile(_ != '\n'),
        (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L),
        si.numTasks, m.fold(0L)(_.inputMetrics.bytesRead),
        m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
        m.fold(0L)(_.shuffleWriteMetrics.bytesWritten), m.fold(0L)(_.memoryBytesSpilled),
        m.fold(0L)(_.diskBytesSpilled))
    }
  }

  private[graft] def profile(spark: SparkSession, sfDir: String, queries: Seq[Query]): Unit = {
    warm(spark, sfDir)
    def mb(b: Long) = f"${b / 1048576.0}%.1fMB"
    queries.foreach { q =>
      val name = q.name
      val warmSec = run(spark, sfDir, q)
      val l = new JobListener
      // the warm-up's late events must not land in this profile
      Bridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
      val (sec, df) = try runFrame(spark, sfDir, q) finally {
        Bridge.drainListenerBus(spark.sparkContext)
        spark.listenerManager.unregister(l)
        spark.sparkContext.removeSparkListener(l)
      }
      // the written frame was analyzed when built; the write's own query
      // (reported above) optimizes and plans it
      l.addPhases(df.queryExecution.tracker)
      println(f"== $name warm=$warmSec%.3fs profiled=$sec%.3fs")
      l.jobMs.toSeq.sortBy(_._1).foreach { case (j, ms) =>
        println(f"  job $j%3d ${ms / 1000.0}%7.3fs")
        l.stages.toSeq.filter(_._2.job == j).sortBy(_._1).foreach { case (sid, a) =>
          println(f"    stage $sid%4d ${a.ms / 1000.0}%7.3fs t=${a.tasks}%-4d " +
            f"in=${mb(a.input)}%-9s sr=${mb(a.shuffleRead)}%-9s sw=${mb(a.shuffleWrite)}%-9s" +
            (if (a.spill > 0) s" SPILL=${mb(a.spill)}" else "") + s"  ${a.name}")
        }
      }
      println(profileJson(name, sec, l))
    }
  }

  /** One query's per-layer split as a single JSON line. */
  private def profileJson(name: String, sec: Double, l: JobListener): String = {
    import QueryPlanningTracker.{ANALYSIS, OPTIMIZATION, PLANNING}
    def ms(phase: String) = l.phaseMs.getOrElse(phase, 0L)
    val st = l.stages.values
    val tasks = l.taskMs.values.toArray.sorted
    val skew =
      if (tasks.isEmpty || tasks(tasks.length / 2) == 0) 1.0
      else tasks.last.toDouble / tasks(tasks.length / 2)
    def f3(d: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    s"""{"query":"$name","sec":${f3(sec)},"plan_ms":{"analysis":${ms(ANALYSIS)},""" +
      s""""optimization":${ms(OPTIMIZATION)},"planning":${ms(PLANNING)}},""" +
      s""""jobs":${l.jobMs.size},"stages":${st.size},"tasks":${tasks.length},""" +
      s""""shuffle_read_bytes":${st.map(_.shuffleRead).sum},""" +
      s""""shuffle_write_bytes":${st.map(_.shuffleWrite).sum},""" +
      s""""spill_mem_bytes":${st.map(_.spill).sum},"spill_disk_bytes":${st.map(_.diskSpill).sum},""" +
      s""""task_skew":${f3(skew)}}"""
  }

  private[graft] def plans(spark: SparkSession, sfDir: String, outFile: String,
      queries: Seq[Query]): Unit = {
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans of the headline queries\n\n"
    sb ++= s"Generated by `sbt \"runMain graft.tools.Measure plans $outFile\"` over `$sfDir`.\n"
    sb ++= "Load-bearing properties (pushdown, broadcast, partial agg, no stray\n"
    sb ++= "exchange, codegen) are ASSERTED in `PlanSpec`; this file is the full\n"
    sb ++= "picture for review. Regenerate after plan-affecting changes.\n"
    queries.foreach { q =>
      sb ++= s"\n## ${q.name}\n\n```\n"
      sb ++= q.build(spark, sfDir).queryExecution.explainString(FormattedMode)
      sb ++= "```\n"
    }
    Files.write(Paths.get(outFile), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plans] wrote ${queries.size} plans to $outFile")
  }

  private[graft] def suiteCtx(spark: SparkSession, sfDir: String, probes: Seq[Query],
      minOf: Int, suite: Seq[Query]): Unit = {
    warm(spark, sfDir)
    def gcSec: Double = ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[GarbageCollectorMXBean].getCollectionTime).sum / 1000.0
    def storage(tag: String): Unit = {
      val infos = spark.sparkContext.getRDDStorageInfo
      println(f"[ctx] $tag%-18s persistedRdds=${infos.length}%-4d " +
        f"cachedMem=${infos.map(_.memSize).sum / 1048576.0}%8.1fMB " +
        f"cachedDisk=${infos.map(_.diskSize).sum / 1048576.0}%8.1fMB gc=$gcSec%7.2fs")
    }
    def probe(tag: String): Unit = {
      probes.foreach { p =>
        val xs = (1 to minOf).map(_ => run(spark, sfDir, p))
        println(f"[probe] $tag%-12s ${p.name}%-20s min=${xs.min}%6.3f " +
          f"all=${xs.map(x => f"$x%.3f").mkString(",")}")
      }
      storage(s"after-$tag")
    }
    probes.foreach(run(spark, sfDir, _)) // JIT + footers, unmeasured
    storage("fresh")
    probe("fresh")
    val t0 = System.nanoTime()
    suite.foreach { q =>
      try run(spark, sfDir, q)
      catch { case e: Throwable => System.err.println(s"[ctx] ${q.name} failed: ${e.getMessage}") }
    }
    println(f"[ctx] suite pass of ${suite.size} queries took ${(System.nanoTime() - t0) / 1e9}%.1fs")
    storage("post-suite")
    probe("in-suite")
    // weak refs enqueue on the GC; ContextCleaner then drains unpersists
    System.gc(); Thread.sleep(3000); System.gc(); Thread.sleep(2000)
    probe("post-gc")
  }
}
