package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one internal touchpoint a custom whole-operator extension needs:
  * turn a LogicalPlan containing a custom node back into a DataFrame.
  * `Dataset.ofRows` is `private[sql]`, so this bridge lives in the
  * org.apache.spark.sql package — the standard pattern for Catalyst
  * extensions that construct logical plans directly.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column -> catalyst Expression, converted EAGERLY (Spark 4's
    * ExpressionUtils.expression returns a lazy ColumnNodeExpression
    * wrapper that only standard Dataset operators convert during
    * analysis — inside a custom logical node it would reach the
    * executor unconverted and fail task serialization). */
  def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** A checkpoint frame whose size estimate exceeds `Long.MaxValue`
    * (Spark's own default for an unknown size), re-planned with the
    * estimate capped there. A checkpoint inherits the estimate of the
    * plan that built it, and a join multiplies its children's
    * estimates, so a loop whose round joins the previous checkpoint k
    * times raises the estimate to the k-th power per round: after ~20
    * rounds planning one round spends minutes in BigInt arithmetic.
    * Every size threshold the planner compares against lies far below
    * the cap, so no threshold decision changes. */
  def capSizeEstimate(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case lr: execution.LogicalRDD if lr.computeStats().sizeInBytes > Long.MaxValue =>
      ofRows(df.sparkSession, lr.copy()(
        df.sparkSession.asInstanceOf[classic.SparkSession],
        Some(lr.computeStats().copy(sizeInBytes = Long.MaxValue)),
        Some(lr.constraints)))
    case _ => df
  }

  /** Drops a cached RDD's blocks. `RDD.unpersist` does the same but
    * first logs a WARN for every locally checkpointed RDD that its
    * lineage cannot be recomputed; a caller that frees a checkpoint
    * nothing reads any more gains nothing from that line.
    * `SparkContext.unpersistRDD` is `private[spark]`. */
  def unpersist(rdd: org.apache.spark.rdd.RDD[_], blocking: Boolean): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking)

  /** catalyst Expression -> Column, for expressions Spark ships but does
    * not expose through `functions` (e.g. the runtime-filter bloom pair). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
}
