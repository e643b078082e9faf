package graft.sinks.v2

import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}

/**
 * DSv2 write metrics — the Spark-native replacement for the reference's
 * heartbeat/progress threads (K9/K10: ProgressHeartbeat.java keeps the
 * Hadoop task alive and visible during long SSTable writes; a Spark task
 * reports liveness to the driver already, so what remains useful is
 * PROGRESS, surfaced here as SQL-UI metrics updated per task while the
 * write runs). Rows and bytes aggregate as sums. A load's exact token
 * bounds are in its manifests: Spark's SQL metric aggregation drops
 * negative task values, so no task metric can carry a Murmur3 token.
 */
object GraftWriteMetrics {
  val RowsName = "graft_rows_written"
  val BytesName = "graft_bytes_written"

  def all: Array[CustomMetric] = Array(new RowsWrittenMetric, new BytesWrittenMetric)
}

final class RowsWrittenMetric extends CustomSumMetric {
  override def name(): String = GraftWriteMetrics.RowsName
  override def description(): String = "rows written to sorted runs"
}

final class BytesWrittenMetric extends CustomSumMetric {
  override def name(): String = GraftWriteMetrics.BytesName
  override def description(): String = "bytes written to sorted runs"
}

private[v2] final class TaskMetric(metricName: String, metricValue: Long)
    extends CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = metricValue
}
