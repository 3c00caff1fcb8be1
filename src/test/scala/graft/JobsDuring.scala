package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge

/** Spark jobs started on a context while a body runs. */
object JobsDuring {

  def apply(sc: SparkContext)(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    GraftBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; GraftBridge.drainListenerBus(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }
}
