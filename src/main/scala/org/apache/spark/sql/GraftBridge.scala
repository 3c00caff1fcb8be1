package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Package-placed bridge to Spark 4's `private[sql]` Column↔Expression
  * converters — the standard pattern Spark-extension libraries use to
  * expose custom Catalyst expressions through the public Column API —
  * and to session cloning.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** A child session with a copy of `spark`'s SQLConf (runtime-set confs
    * included), temp views and UDFs, over the same SparkContext.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
