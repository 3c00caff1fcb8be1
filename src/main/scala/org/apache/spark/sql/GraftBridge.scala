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

  /** Blocks until the context's listener bus has delivered every event
    * posted so far, or for a minute at most.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(60000)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** The session a stream's micro-batches run in: Spark clones the
    * starting session for each stream.
    */
  def streamSession(q: streaming.StreamingQuery): SparkSession =
    q.asInstanceOf[execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.sparkSessionForStream

  /** Takes `spark`'s streaming listener bus off the context's listener
    * bus. Each session that builds a stream manager registers one bus
    * there, and Spark never removes it, so a transient session's bus
    * would stay for the life of the context. The bus is removed only
    * once it has delivered the terminate event of every stream started
    * from `spark`; if that takes longer than `timeoutMs`, the bus (and
    * any listener on it) stays. A session that never built a stream
    * manager has no bus, and nothing is built here.
    */
  def releaseStreamingBus(spark: SparkSession, timeoutMs: Long): Unit = {
    def field(o: AnyRef, name: String): AnyRef = {
      val f = o.getClass.getDeclaredField(name)
      f.setAccessible(true)
      f.get(o)
    }
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    Option(field(state, "streamingQueryManager")).foreach { manager =>
      val bus = field(manager, "listenerBus")
        .asInstanceOf[execution.streaming.runtime.StreamingQueryListenerBus]
      // a run id leaves this set when the bus delivers its terminate event
      val active = field(bus, "activeQueryRunIds")
        .asInstanceOf[scala.collection.mutable.HashSet[java.util.UUID]]
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (active.synchronized(active.nonEmpty) && System.nanoTime() < deadline)
        Thread.sleep(2)
      if (active.synchronized(active.isEmpty)) spark.sparkContext.removeSparkListener(bus)
    }
  }
}
