package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Faces run concurrently on one shared session: width-scoped, eager
  * checkpointing, fixed-point, streaming and lazy relational faces side
  * by side.
  */
class ConcurrencySpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    graft.core.Graft.tune(SparkSession.builder().master("local[4]"), 4).getOrCreate()
  private val dir = "/root/testdata/sf0.001"
  // q_components, q_dedup_clusters and q_bpe_train are Graft.iterate
  // loops: each must release only its own rounds while the others run
  private val faces = Seq("q_gini", "q_curriculum", "q_components", "q_stream_hourly",
    "q1_pricing", "q_dedup_clusters", "q_bpe_train")

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, dir).collect().map(_.toString).toSeq.sorted

  test("five faces on 4 threads against one session equal their serial runs") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    val initial = keys.map(spark.conf.getOption)
    val serial = faces.map(f => f -> rows(f)).toMap
    assert(serial.values.forall(_.nonEmpty), "a face returned no rows serially")
    // each face twice, so two runs of one face (a streaming face's
    // same-named memory sink included) overlap with each other
    val pool = Executors.newFixedThreadPool(4)
    try {
      val runs = (faces ++ faces).map { f =>
        f -> pool.submit(new Callable[Seq[String]] { def call(): Seq[String] = rows(f) })
      }
      runs.foreach { case (f, run) =>
        assert(run.get(10, TimeUnit.MINUTES) == serial(f),
          s"$f: the concurrent run differs from the serial run")
      }
    } finally pool.shutdownNow()
    assert(keys.map(spark.conf.getOption) == initial,
      "the session's width confs changed under concurrent faces")
  }
}
