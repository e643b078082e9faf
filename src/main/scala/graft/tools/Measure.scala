package graft.tools

import java.lang.management.{GarbageCollectorMXBean, ManagementFactory}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{Sessions, SparkEntry}

/**
 * The one measurement tool. Every mode runs `SparkEntry.queries` on a
 * `Sessions.local` session — the engine's own config, the one Bench and
 * Verify run — and times a query the way the bench does: a full write
 * through the noop sink.
 *
 *   sbt "runMain graft.tools.Measure ab <sqlConf> <a> <b> <q1,...> [pairs]"
 *   sbt "runMain graft.tools.Measure profile <q1,...>"
 *   sbt "runMain graft.tools.Measure plans <outFile> [q1,...]"
 *   sbt "runMain graft.tools.Measure suite-ctx [probe1,...] [minOf]"
 *
 * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default all
 * cores).
 *
 *  - `ab`: same-JVM interleaved A/B of a runtime SQL conf. Both shapes
 *    run once unmeasured, then `pairs` (default 4) A,B pairs; the verdict
 *    compares min-of-N. Only interleaving inside one process survives
 *    external-load oscillation (cross-process runs disagreed by 2x).
 *  - `profile`: one warm-up run, then one run under a listener that
 *    attributes wall time to Spark jobs and their stages (duration,
 *    tasks, input, shuffle read/write, spill).
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
    def csv(s: String): Seq[String] = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val mode: (SparkSession, String) => Unit = args.toList match {
      case "ab" :: key :: a :: b :: qs :: rest if rest.size <= 1 =>
        ab(_, _, key, a, b, csv(qs), rest.headOption.fold(4)(_.toInt))
      case "profile" :: qs :: Nil => profile(_, _, csv(qs))
      case "plans" :: out :: rest if rest.size <= 1 =>
        plans(_, _, out, rest.headOption.fold(Headline)(csv))
      case "suite-ctx" :: rest if rest.size <= 2 =>
        suiteCtx(_, _, rest.headOption.map(csv).filter(_.nonEmpty)
          .getOrElse(Seq("graph_triangles", "graph_pagerank")),
          rest.lift(1).fold(3)(_.toInt),
          SparkEntry.queries.keys.toSeq.filterNot(SparkEntry.benchExempt).sorted)
      case _ => throw new IllegalArgumentException("usage: Measure ab <sqlConf> <a> <b> " +
        "<q1,...> [pairs] | profile <q1,...> | plans <outFile> [q1,...] | suite-ctx [p1,...] [minOf]")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try mode(spark, sfDir) finally spark.stop()
  }

  /** Wall seconds of one noop-sink write of `name`. */
  private def run(spark: SparkSession, sfDir: String, name: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Parquet footer caches and session startup, billed to no query. */
  private def warm(spark: SparkSession, sfDir: String): Unit =
    spark.read.parquet(s"$sfDir/region.parquet").count()

  private[graft] def ab(spark: SparkSession, sfDir: String, key: String,
      valA: String, valB: String, names: Seq[String], pairs: Int): Unit = {
    warm(spark, sfDir)
    def timed(name: String, v: String): Double = { spark.conf.set(key, v); run(spark, sfDir, name) }
    def stats(xs: Seq[Double]): String = {
      val s = xs.sorted
      f"min=${s.head}%6.3f med=${s(s.size / 2)}%6.3f"
    }
    val before = spark.conf.getOption(key)
    try names.foreach { name =>
      timed(name, valA); timed(name, valB) // warm both shapes, unmeasured
      val (a, b) = (1 to pairs).map(_ => (timed(name, valA), timed(name, valB))).unzip
      val verdict =
        if (b.min < 0.9 * a.min) "B-WIN" else if (b.min > 1.1 * a.min) "B-LOSS" else "PAR"
      println(f"[ab] $name%-28s A($valA%s): ${stats(a)}  " +
        f"B($valB%s): ${stats(b)}  ratio=${b.min / a.min}%5.2f  $verdict")
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private final case class StageAgg(job: Int, name: String, ms: Long, tasks: Int,
    input: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)

  private final class JobListener extends SparkListener {
    val stageToJob = TrieMap.empty[Int, Int]
    val jobStart = TrieMap.empty[Int, Long]
    val jobMs = TrieMap.empty[Int, Long]
    val stages = TrieMap.empty[Int, StageAgg]
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
        m.fold(0L)(_.shuffleWriteMetrics.bytesWritten), m.fold(0L)(_.memoryBytesSpilled))
    }
  }

  private[graft] def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    warm(spark, sfDir)
    def mb(b: Long) = f"${b / 1048576.0}%.1fMB"
    names.foreach { name =>
      val warmSec = run(spark, sfDir, name)
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      val sec = try run(spark, sfDir, name) finally {
        Thread.sleep(1000) // let the async listener bus drain
        spark.sparkContext.removeSparkListener(l)
      }
      println(f"== $name warm=$warmSec%.3fs profiled=$sec%.3fs")
      l.jobMs.toSeq.sortBy(_._1).foreach { case (j, ms) =>
        println(f"  job $j%3d ${ms / 1000.0}%7.3fs")
        l.stages.toSeq.filter(_._2.job == j).sortBy(_._1).foreach { case (sid, a) =>
          println(f"    stage $sid%4d ${a.ms / 1000.0}%7.3fs t=${a.tasks}%-4d " +
            f"in=${mb(a.input)}%-9s sr=${mb(a.shuffleRead)}%-9s sw=${mb(a.shuffleWrite)}%-9s" +
            (if (a.spill > 0) s" SPILL=${mb(a.spill)}" else "") + s"  ${a.name}")
        }
      }
    }
  }

  private[graft] def plans(spark: SparkSession, sfDir: String, outFile: String,
      names: Seq[String]): Unit = {
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans of the headline queries\n\n"
    sb ++= s"Generated by `sbt \"runMain graft.tools.Measure plans $outFile\"` over `$sfDir`.\n"
    sb ++= "Load-bearing properties (pushdown, broadcast, partial agg, no stray\n"
    sb ++= "exchange, codegen) are ASSERTED in `PlanSpec`; this file is the full\n"
    sb ++= "picture for review. Regenerate after plan-affecting changes.\n"
    names.foreach { name =>
      sb ++= s"\n## $name\n\n```\n"
      sb ++= SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
      sb ++= "```\n"
    }
    Files.write(Paths.get(outFile), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plans] wrote ${names.size} plans to $outFile")
  }

  private[graft] def suiteCtx(spark: SparkSession, sfDir: String, probes: Seq[String],
      minOf: Int, suite: Seq[String]): Unit = {
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
        println(f"[probe] $tag%-12s $p%-20s min=${xs.min}%6.3f " +
          f"all=${xs.map(x => f"$x%.3f").mkString(",")}")
      }
      storage(s"after-$tag")
    }
    probes.foreach(run(spark, sfDir, _)) // JIT + footers, unmeasured
    storage("fresh")
    probe("fresh")
    val t0 = System.nanoTime()
    suite.foreach { n =>
      try run(spark, sfDir, n)
      catch { case e: Throwable => System.err.println(s"[ctx] $n failed: ${e.getMessage}") }
    }
    println(f"[ctx] suite pass of ${suite.size} queries took ${(System.nanoTime() - t0) / 1e9}%.1fs")
    storage("post-suite")
    probe("in-suite")
    // weak refs enqueue on the GC; ContextCleaner then drains unpersists
    System.gc(); Thread.sleep(3000); System.gc(); Thread.sleep(2000)
    probe("post-gc")
  }
}
