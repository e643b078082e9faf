package graft

import org.apache.spark.sql.SparkSession

/**
 * The engine's one session factory. Every session in the repo is built
 * here: Bench, Verify, the soaks, `tools.Measure` and the test suites go
 * through [[local]]; `cli.Hdfs2CassSpark` takes [[engine]], the same
 * defaults without a master, because under spark-submit the launcher
 * supplies it. `perfbench` applies [[withEngineDefaults]] itself.
 * One place on purpose: r20 set the AQE coalescing floor in Bench only,
 * and the r20-r21 A/B tools each built their own session without it, so
 * their accept/reject decisions measured a config the bench never ran.
 */
object Sessions {

  /** Local parallelism for every local session: `SPARK_GRAFT_CPUS`,
    * else all of this machine's cores. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /**
   * Engine defaults, each justified for the production shape (long-lived
   * session, many queries, 100 TB-scale inputs) — not local[32] tunings:
   *
   *  - session.timeZone=UTC: determinism contract with the oracle.
   *  - adaptive.enabled=true: Spark's default since 3.2, stated so a
   *    deployment's spark-defaults can't silently strip AQE coalescing/
   *    skew handling from the operators that rely on it.
   *  - adaptive.coalescePartitions.minPartitionSize=64k: AQE's coalescing
   *    floor (default 1m) assumes post-shuffle cost is proportional to
   *    bytes; explode-amplified stages (posting-list / pair expansion)
   *    and kernel-heavy aggregations violate that by 10-40x, and at
   *    small shuffle sizes the 1m floor coalesces their stages down to a
   *    handful of tasks regardless of core count (measured 0.76-0.88x
   *    per-query wins at 64k, r20). At production shuffle sizes
   *    (partitions >> advisory size) both floors are inert — this is a
   *    small-shuffle parallelism floor, not a cluster tuning. It is a
   *    runtime SQL conf, so a deployment that wants the stock floor sets
   *    it with `spark.conf.set`.
   *  - optimizer.canChangeCachedPlanOutputPartitioning=true: lets AQE
   *    coalesce the shuffle partitions of a plan under a `persist`. This
   *    Spark build ships it false, which pins a cached post-shuffle frame
   *    at the raw `shuffle.partitions` width: a probe of one ~2k-row
   *    frame read 200 partitions cached against 1 uncached, and every
   *    later stage over the cache paid 200 tiny tasks (the curation
   *    pipeline's LSH chain ran 8 such stages per job).
   */
  def withEngineDefaults(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")

  /** A session builder under the engine defaults and no master — for
    * the CLI, whose master spark-submit supplies. */
  def engine(): SparkSession.Builder = withEngineDefaults(SparkSession.builder())

  /** A `local[cpus]` session builder under the engine defaults: one
    * shuffle partition per core, no UI. Callers add their own confs
    * (a wider shuffle, extensions) on the returned builder. */
  def local(cpus: Int): SparkSession.Builder =
    engine()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
}
