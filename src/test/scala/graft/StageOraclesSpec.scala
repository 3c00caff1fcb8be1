package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract pins for the distinct-axis stage-adjudication registry.
  * The SQL-vs-Spark equivalence is proven engine-side (the drift gate
  * runs oracle_check twice — registered and --stage-oracles — against
  * the SAME Gate dump at sf0.01/sf0.1); these pins keep the registry and
  * the dumper structurally wired: keys match the enumerated
  * distinct-64× timeout class, every pin referenced in
  * SQL is actually dumped, the sample dumps are literal subsets of the
  * face dumps, and the IVF trace binds to the served index.
  */
class StageOraclesSpec extends AnyFunSuite {

  private lazy val spark =
    graft.core.Graft.tune(SparkSession.builder().master("local[4]"), 4).getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  /** The faces whose registered oracles time out on the distinct-64×
    * replica — the only FACES a stage restatement may shadow.
    */
  private val distinctTimeoutClass = Set(
    "q_ann_ivf", "q_ann_recall", "q_ann_refine", "q_dedup_clusters",
    "q_dedup_fuzzy", "q_dedup_semantic", "q_dedup_simhash",
    "q_ivf_rebalance", "q_ivf_stats", "q_knn_join", "q_lsh_tuning")

  test("face-shadowing stage oracles stay inside the r10 distinct timeout class") {
    val faces = StageOracles.sql.keySet.filter(SparkEntry.queries.contains)
    val outside = faces.diff(distinctTimeoutClass)
    assert(outside.isEmpty,
      s"stage oracle shadows a face whose oracle is healthy on this axis: $outside")
    // knn/fuzzy are sample-only (irreducibly pairwise kernels): their
    // full faces keep the registered oracle; everything else is fully
    // restated given pins
    val fullyRestated = distinctTimeoutClass -- Set("q_knn_join", "q_dedup_fuzzy")
    assert(fullyRestated.subsetOf(faces),
      s"missing full stage restatement: ${fullyRestated.diff(faces)}")
  }

  test("every {OUT} pin referenced by stage SQL is a dumped artifact or a face") {
    val pinRe = """\{OUT\}/([A-Za-z0-9_]+)/""".r
    val pinned = StageOracles.sql.values
      .flatMap(s => pinRe.findAllMatchIn(s).map(_.group(1))).toSet
    val dumped = Set("_ivf_c0", "_ivf_c1", "_ivf_c2", "_ivf_cg",
      "_ivf_a1", "_ivf_a2", "_ivf_af", "_ivf_af5", "_lshtune_pairs")
    val bad = pinned.diff(dumped ++ SparkEntry.queries.keySet)
    assert(bad.isEmpty, s"stage SQL pins an artifact nothing dumps: $bad")
    // every ROWS_ONLY pin must actually be consumed by some stage SQL
    // (an unconsumed pin would be dead weight the gate still dumps)
    val rowsOnly = StageOracles.sql.filter(_._2 == StageOracles.RowsOnly).keySet
    assert(rowsOnly.subsetOf(pinned), s"unconsumed pins: ${rowsOnly.diff(pinned)}")
  }

  test("lsh_tuning stage SQL shares the registered tuning arithmetic") {
    val stage = StageOracles.sql("q_lsh_tuning")
    val registered = graft.operators.Dedup.lshTuningSql
    // both are lshTuningSqlOver(...) instances: identical after the
    // pairs CTE — compare the suffix beyond the first CTE body
    def tail(s: String) = s.substring(s.indexOf("c0 AS"))
    assert(tail(stage) == tail(registered),
      "tuning arithmetic drifted between registered and stage SQL")
  }

  test("stage dump: trace binds to served index, samples are subsets of faces") {
    val out = Files.createTempDirectory("graft_stage_spec").toString
    // the face dumps the sample subsets re-read
    StageOracles.SampleFaces.foreach { q =>
      SparkEntry.queries(q)(spark, sf)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
    }
    // dump() asserts trace == served index internally (require)
    StageOracles.dump(spark, sf, out)

    val expectDirs = Seq("_ivf_c0", "_ivf_c1", "_ivf_c2", "_ivf_cg",
      "_ivf_a1", "_ivf_a1s", "_ivf_a2", "_ivf_a2s", "_ivf_af", "_ivf_afs",
      "_ivf_af5", "_ivf_af5s", "_lshtune_pairs", "_lshtune_pairs_s",
      "q_dedup_simhash__sample", "q_knn_join__sample", "q_dedup_fuzzy__sample")
    expectDirs.foreach { d =>
      assert(new java.io.File(s"$out/$d").isDirectory, s"missing stage dump $d")
    }

    // assignment frames: every vector exactly once, cells within codebook
    val af = spark.read.parquet(s"$out/_ivf_af")
    val nVec = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(af.count() == nVec)
    assert(af.select("vec_id").distinct().count() == nVec)
    val nCells = spark.read.parquet(s"$out/_ivf_c2").select("cell").distinct().count()
    assert(af.agg(max("cell")).head.getInt(0) < nCells)
    // grown codebook extends the trained one verbatim
    val c2 = spark.read.parquet(s"$out/_ivf_c2")
    val cg = spark.read.parquet(s"$out/_ivf_cg")
    assert(cg.as("g").join(c2.as("b"), Seq("cell", "dim"))
      .filter(col("g.c") =!= col("b.c")).isEmpty)

    // sample dumps are literal subsets of the face dumps
    val knnFace = spark.read.parquet(s"$out/q_knn_join")
      .filter(col("vec_id") % StageOracles.KnnMod === StageOracles.KnnRes)
    val knnSample = spark.read.parquet(s"$out/q_knn_join__sample")
    assert(knnFace.exceptAll(knnSample).isEmpty && knnSample.exceptAll(knnFace).isEmpty)
    val afs = spark.read.parquet(s"$out/_ivf_afs")
    assert(afs.exceptAll(af.filter(
      col("vec_id") % StageOracles.VecMod === StageOracles.VecRes)).isEmpty)
  }
}
