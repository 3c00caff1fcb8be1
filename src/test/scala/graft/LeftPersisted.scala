package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD

/** What a call leaves persisted in its context. */
object LeftPersisted {

  /** Runs `call` with one RDD of the caller's persisted around it, and
    * collects the frame the call returns. Returns the rows and the ids of
    * the RDDs the call left persisted, other than those the frame reads.
    * Fails if the caller's RDD did not survive the call.
    */
  def apply(call: => DataFrame): (Array[Row], Set[Int]) = {
    val sc = org.apache.spark.SparkContext.getOrCreate()
    val before = sc.getPersistentRDDs.keySet.toSet
    val callers = sc.parallelize(1 to 3).persist()
    try {
      val df = call
      val rows = df.collect()
      val read = df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet
      val after = sc.getPersistentRDDs.keySet.toSet
      assert(after(callers.id), "the call released an RDD it did not create")
      (rows, after - callers.id -- before -- read)
    } finally callers.unpersist(blocking = false)
  }
}
