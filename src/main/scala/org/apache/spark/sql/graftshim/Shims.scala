package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one sanctioned crossing into `private[sql]` territory: turning a
  * custom logical plan into a DataFrame requires `Dataset.ofRows`, which
  * Spark exposes only inside its own package tree — the standard pattern
  * for third-party plan extensions (a sub-package of org.apache.spark.sql
  * holding exactly the bridge call, nothing else). */
object Shims {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The RDD behind a `localCheckpoint`ed frame. Checkpointed datasets are
    * NOT registered in the CacheManager, so `Dataset.unpersist` on them is
    * a no-op — iterative loops that want deterministic per-round release
    * of the previous snapshot's blocks must unpersist the underlying RDD
    * directly, and `LogicalRDD` is `private[sql]`.
    *
    * Contract: `df` must be the DIRECT result of `localCheckpoint()` —
    * the match is deliberately root-only. A plan DERIVED from a
    * checkpoint (filter/join over it) also contains a LogicalRDD leaf,
    * and a tree search would find and unpersist blocks other operators
    * still need; on a derived plan this returns None instead. */
  def checkpointedRdd(df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Whether a Column's expression tree is deterministic (Spark 4 no
    * longer exposes `Column.expr` publicly). */
  def isDeterministic(c: org.apache.spark.sql.Column): Boolean =
    expression(c).deterministic

  /** A Column's Catalyst expression. */
  def expression(c: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** A Column over a constructed Catalyst expression — the inverse of
    * [[expression]]. The custom expressions in `graft.functions` reach
    * DataFrames this way, bound to their parameters when built. */
  def column(e: Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
}
