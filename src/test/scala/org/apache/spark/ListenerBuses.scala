package org.apache.spark

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** Reads the context's listener bus, which is private to Spark. */
object ListenerBuses {
  /** Streaming listener buses registered on `sc`: one per session that
    * built a stream manager and has not released it.
    */
  def streaming(sc: SparkContext): Int =
    sc.listenerBus.listeners.asScala.count(_.isInstanceOf[StreamingQueryListenerBus])
}
