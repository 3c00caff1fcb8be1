package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A [[graft.core.Graft.tune]] session keeps the classes it generated: a
  * second pass over the same faces finds their whole-stage sources in
  * Spark's codegen cache and compiles nothing.
  */
class CodegenCacheSpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    graft.core.Graft.tune(SparkSession.builder().master("local[4]"), 4).getOrCreate()
  private val dir = "perfbench/data/sf0.01"
  // the benchmark's relational and iterative faces
  private val faces = Seq("q1_pricing", "q3_topk", "q5_join5", "q18_big_orders",
    "q14_promo", "q_fact_join", "q_metric_timegrain", "q_check_relationships",
    "q_semi_anti", "q_rollup", "q_json_props", "q_percentiles",
    "q_triangles", "q_lsh_recall", "q_gini", "q_curriculum")
  // Faces whose adaptive plans number their codegen stages in the order
  // concurrent query stages finish: a warm run can compile a cached
  // source again under another stage id in its class name.
  private val renumbered = Set("q5_join5", "q_triangles", "q_lsh_recall")

  /** Each face's compile count over one run of it. */
  private def pass(): Seq[(String, Long)] = faces.map { name =>
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    SparkEntry.queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
    name -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  test("a second pass over the benchmark faces compiles no generated class") {
    pass()
    val warm = pass().filterNot { case (f, _) => renumbered(f) }
    assert(warm.map(_._2).sum == 0,
      warm.filter(_._2 > 0).map { case (f, n) => s"$f $n" }.mkString("recompiled: ", ", ", ""))
  }
}
