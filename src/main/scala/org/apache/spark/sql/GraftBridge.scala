package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Expression, NamedExpression}

/** Bridge into Spark's `private[sql]` Column <-> Expression converters.
  *
  * Spark 4 made `Column` backend-agnostic; building a `Column` from a
  * Catalyst `Expression` (needed to expose custom expressions like
  * [[graft.functions.CosineSimilarity]] as user-facing columns) goes
  * through `classic.ExpressionUtils`, which is `private[sql]`. This object
  * lives in the `org.apache.spark.sql` package purely to re-export those
  * entry points — the canonical pattern for Spark extension libraries.
  */
object GraftBridge {

  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** `c` as the session's converter builds it — a Catalyst tree the
    * analyzer can resolve, where [[expression]] returns a wrapper only a
    * Dataset's own projection resolves — named for a projection list.
    */
  def namedExpression(spark: SparkSession, c: Column): NamedExpression =
    classic.ExpressionUtils.toNamed(spark.asInstanceOf[classic.SparkSession].expression(c))

  /** Register a builder in the session's temp function registry. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression
  ): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
