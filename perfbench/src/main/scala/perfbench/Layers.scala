package perfbench

/** The per-layer metrics a traced run prints, with their units. Which
  * module each belongs to, and which end-to-end metric it should move, is
  * in `perfbench/layers.json`. */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count", "jvm.gc_s" -> "s",
    "cql.plan_ms" -> "ms", "map.task_s" -> "s",
    "bulk.write_s" -> "s", "shuffle.write_mb" -> "MB", "shuffle.records" -> "count",
    "shuffle.fetch_wait_s" -> "s", "sort.spill_mb" -> "MB", "reduce.task_s" -> "s",
    "reduce.max_task_s" -> "s", "reduce.task_skew" -> "ratio",
    "bulk.bucket_row_skew" -> "ratio",
    "bulk.run_mb" -> "MB", "bulk.run_phys_mb" -> "MB",
    "plan.streams_ms" -> "ms", "plan.sessions" -> "count",
    "stream.s" -> "s", "stream.wire_mb" -> "MB", "stream.wire_mb_per_s" -> "MB/s",
    "stream.sessions_failed" -> "count", "stream.verified_frac" -> "ratio",
    "curate.s" -> "s", "curate.jobs" -> "count", "curate.plan_ms" -> "ms",
    "curate.shuffle_mb" -> "MB", "semdedup.s" -> "s", "semdedup.jobs" -> "count",
    "stage_parquet.s" -> "s", "dedup.recall" -> "ratio", "dedup.false_drop" -> "count",
    "read.plan_ms" -> "ms", "read.jobs_per_scan" -> "count",
    "read.splits_per_scan" -> "count", "read.runs_pruned_frac" -> "ratio",
    "read.mb_per_scan" -> "MB", "read.bytes_per_row_out" -> "B/row",
    "read.task_s_per_scan" -> "s",
    "trace.job_s" -> "s", "trace.untraced_job_s" -> "s", "trace.overhead_ms" -> "ms",
    "trace.unaccounted_frac" -> "ratio", "trace.scan_overhead_ms" -> "ms",
    "self.job_s" -> "s")

  /** The value of a metric whose layer did no work in this workload: a
    * recall with nothing planted is vacuously 1, everything else is 0. */
  def idle(name: String): Double = if (name == "dedup.recall") 1.0 else 0.0
}
