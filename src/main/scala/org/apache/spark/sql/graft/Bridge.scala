package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DoubleType, LongType}

/**
 * Column <-> Expression bridge. Spark 4 made the converters
 * (classic.ExpressionUtils) private[sql], so this one-file shim lives in the
 * org.apache.spark.sql namespace to re-export them for the graft library.
 * No Spark internals are modified.
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** True when no DataFrame persist() cache entry is live — lets tests pin
    * that operators release their internal caches before returning. */
  def cacheIsEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Drops RDD `id`'s cached blocks, as `RDD.unpersist` does minus its
    * warning that a locally checkpointed RDD cannot be recomputed — the
    * caller releases such an RDD on purpose (`graft.core.Materialize`). */
  def unpersistRDD(spark: org.apache.spark.sql.SparkSession, id: Int): Unit =
    spark.sparkContext.unpersistRDD(id, blocking = false)

  /** Blocks until every event posted so far has reached every listener —
    * the deterministic wait for listener-derived figures (job, stage and
    * task metrics, captured query plans) that a fixed sleep only
    * approximates on a loaded box. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Execute a resolved logical plan and collect its rows — the range-join
    * rewrite's bin-width derivation probe needs this from inside an
    * optimizer rule, and Dataset.ofRows is private[sql] in Spark 4. */
  def collectPlan(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Array[org.apache.spark.sql.Row] =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan).collect()
}

/** (double, long) implicit-cast input contract for expressions living
  * outside the sql package (AbstractDataType is private[sql] in Spark 4, so
  * the override must be declared from inside the namespace). */
trait DoubleLongInputTypes extends ImplicitCastInputTypes { self: Expression =>
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, LongType)
}

/** Single-string implicit-cast input contract (same namespace reason). */
trait StringInputTypes extends ImplicitCastInputTypes { self: Expression =>
  override def inputTypes: Seq[AbstractDataType] =
    Seq(org.apache.spark.sql.types.StringType)
}

/** Single float-array input contract (same namespace reason) — the
  * embedding-column type every vector kernel shares. */
trait FloatArrayInputTypes extends ImplicitCastInputTypes { self: Expression =>
  override def inputTypes: Seq[AbstractDataType] =
    Seq(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
}
