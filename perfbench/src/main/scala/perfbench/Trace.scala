package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span. Times are wall-clock nanoseconds of this JVM. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, var endNs: Long, startMs: Long, var endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span through its job group. */
final class SparkAgg {
  var jobs = 0L
  var tasks = 0L
  var mapRunMs = 0L
  val resultRunMs: ArrayBuffer[Long] = ArrayBuffer.empty
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var fetchWaitMs = 0L
  var spillDiskBytes = 0L
  var planMs = 0L
}

/**
 * Span recorder for the traced run. Spans live in memory and are written
 * out once, at exit. A span opens a Spark job group named after its id, so
 * `listener` can attribute jobs, stages and tasks to the innermost span
 * that launched them; query planning time is attributed by when it ran.
 */
final class Tracer(sc: SparkContext, val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val aggs = scala.collection.concurrent.TrieMap.empty[Int, SparkAgg]
  private val stageSpan = scala.collection.concurrent.TrieMap.empty[Int, Int]
  private val plans = scala.collection.concurrent.TrieMap.empty[Long, (Long, Long)]
  private val GroupPrefix = "perfbench-span-"

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toInt)
        .foreach { id =>
          agg(id).jobs += 1
          e.stageIds.foreach(s => stageSpan(s) = id)
        }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val a = agg(id)
        a.tasks += 1
        if (e.taskType == "ShuffleMapTask") a.mapRunMs += m.executorRunTime
        else a.resultRunMs += m.executorRunTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillDiskBytes += m.diskBytesSpilled
      }
  }

  /** Catalyst phase times of every finished query, keyed by start time. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        plans(qe.id) = (phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def agg(id: Int): SparkAgg = aggs.getOrElseUpdate(id, new SparkAgg)

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1), runId,
      System.nanoTime(), 0L, System.currentTimeMillis(), 0L)
    spans += s
    stack = s :: stack
    sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name, interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** The spans under (and including) `root`. */
  def subtree(root: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == root.id).toSeq
    root +: kids.flatMap(subtree)
  }

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def last(name: String): Span = spans.findLast(_.name == name)
    .getOrElse(throw new NoSuchElementException(s"no span $name"))

  /** Spark work of `s` alone (not its children), with planning time
    * attributed to the innermost span open when the query started. */
  def sparkOf(s: Span): SparkAgg = {
    val a = aggs.getOrElse(s.id, new SparkAgg)
    a.planMs = plans.values.filter { case (t, _) => innermostAt(t).contains(s.id) }
      .map(_._2).sum
    a
  }

  private def innermostAt(ms: Long): Option[Int] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).sortBy(-_.id).headOption.map(_.id)

  /** Span duration minus the time its children cover (children of one
    * span run one after another). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def writeJson(file: File): Unit = {
    val out = new PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      out.println(s"""{"run":"${s.runId}","id":${s.id},"name":"${s.name}",""" +
        s""""parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_s":${selfSeconds(s)}}""")
    } finally out.close()
  }
}

object Trace {
  /** Total collector time of this JVM so far, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}
