package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel

/**
 * The engine's one way to materialize an intermediate. Every operator,
 * the CLI and the query builders go through these three calls; each
 * intermediate has an owner and a lifetime.
 *
 *  - [[cached]] scopes a persist: the frame (or RDD) is cached at
 *    [[Level]] for the body and unpersisted in a `finally`, also when
 *    the body throws. A result that must outlive the scope is
 *    [[truncate]]d inside it, so the caller never recomputes through the
 *    released cache.
 *  - [[truncate]] cuts a frame's lineage. It takes a reliable
 *    `checkpoint` exactly when `sparkContext.getCheckpointDir` is set,
 *    and a `localCheckpoint` otherwise; `eager = false` defers the write
 *    to the first action that reads the frame. Both modes give identical
 *    rows and keep the frame's output partitioning.
 *    A lazy truncation must have exactly one consumer: when two branches
 *    of a plan read it before it is written (a self-join, sibling AQE
 *    stages), each computes the same unwritten partitions, and Spark
 *    logs "Block rdd_N already exists on this machine; not re-adding
 *    it". A frame read by more than one branch is truncated eagerly.
 *  - [[release]] frees the blocks behind a truncated frame once its owner
 *    is done with it. A frame that is never released lives until the
 *    session's cleaner collects it (a query result, a session memo).
 *
 * Local or reliable: a local checkpoint keeps its blocks on executor
 * local storage, so losing an executor mid-job fails the job rather than
 * recomputing it — the fail-and-rerun trade, fine on `local[*]` and for
 * bounded batch jobs. A run that must survive executor churn sets
 * `sparkContext.setCheckpointDir` to reliable storage (HDFS, an object
 * store) before it starts; every truncation then writes there.
 *
 * Cleanup obligation in reliable mode: Spark does not delete reliable
 * checkpoint files by default, and iterative operators write one set per
 * truncation point (PageRank writes one per iteration). Long-running
 * deployments set `spark.cleaner.referenceTracking.cleanCheckpoints=true`
 * (files go once their frames are unreferenced) or clear the checkpoint
 * dir between runs; otherwise repeated calls accumulate files on
 * reliable storage indefinitely.
 */
object Materialize {

  /** The one storage level of a scoped cache: a partition evicted under
    * memory pressure spills to local disk instead of being recomputed. */
  val Level: StorageLevel = StorageLevel.MEMORY_AND_DISK

  /** Runs `body` over `df` persisted at [[Level]], and unpersists it on
    * the way out. */
  def cached[T](df: DataFrame)(body: DataFrame => T): T = {
    val c = df.persist(Level)
    try body(c) finally { c.unpersist(); () }
  }

  /** [[cached]] for an RDD: one persisted instance serves several passes
    * (and, for a range partitioning, keeps its sampled boundaries). */
  def cached[A, T](rdd: RDD[A])(body: RDD[A] => T): T = {
    val c = rdd.persist(Level)
    try body(c) finally { c.unpersist(); () }
  }

  /** `df` with its lineage cut: reliable when the context has a
    * checkpoint dir, local otherwise. */
  def truncate(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** Frees the blocks behind a frame that [[truncate]] returned; the
    * frame must not be read afterwards. Call it only on such a frame: any
    * frame whose plan is a bare RDD scan has that RDD's blocks dropped,
    * and any other frame is left alone. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => Bridge.unpersistRDD(df.sparkSession, r.rdd.id)
    case _ => ()
  }
}
