package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Session factory with graft's tuned defaults.
  *
  * The reference (InfuseAI/taxi_rides_ny_duckdb) runs dbt-generated SQL
  * inside an embedded single-node DuckDB (`profiles.yml`); graft instead
  * targets a distributed Spark cluster, so session-level planning confs
  * (AQE, broadcast threshold, shuffle parallelism) replace DuckDB's
  * embedded-engine knobs.
  */
object Graft {

  /** The local session every graft main runs on: `local[cpus]` with
    * `cpus` from `SPARK_GRAFT_CPUS` (default: the available processors),
    * Spark logging at WARN. On a real cluster the same confs apply
    * through [[tune]], with shuffle partitions sized by AQE.
    */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val spark = tune(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .appName("graft")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply graft's planning confs to any builder (local or cluster). */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    // graft sessions run with the engine's own extensions: SQL-exposed
    // native functions + the SimplifySelfCosine / RangeJoinAsBucketJoin
    // optimizer rules (both semantics-preserving, both spec-pinned).
    .config("spark.sql.extensions", "graft.core.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // AQE coalesces DOWN from this, so start fine-grained: at small SF
    // it collapses to a handful of reducers anyway; at 64–128× sf0.1 it
    // keeps sorts/aggs under the per-task memory budget instead of
    // forcing 32 half-GB partition sorts into spill (observed r8 in the
    // executed 64× plans; the generated plan dump is in git history, and
    // Bench records any face's executed plan). On a 1000-executor
    // cluster the same ratio holds.
    // r9 re-falsified two alternatives at 64× sf0.1 (solo, gc-fenced,
    // same machine): ×1 (initial = shuffle.partitions) costs q14_promo
    // 5× (18.3 s vs 3.4) and q_fact_join 2× (58.5 s vs 29.5) to sort
    // spill, buying only ~0.5 s back on domain-bounded small frames —
    // the ×8 stays; and raising shuffle.sort.bypassMergeThreshold past
    // the 256 pre-coalesce width (so unaggregated exchanges take the
    // bypass writer) regresses q_fact_join 3× (29.5 s vs 9.5) — 256
    // tiny unsorted per-map streams lose to one sorted spill file at
    // scale, so the stock 200 stays. Small-frame queries that would pay
    // the ×8 fan-out on tiny iterative exchanges run in a narrower
    // [[scoped]] clone of the session.
    .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      (shufflePartitions * 8).toString)
    // Spark's stock 10 MB, deliberately NOT raised: the planner's size
    // estimate is the COMPRESSED on-disk footprint scaled by column
    // pruning, and the in-memory HashedRelation it actually builds runs
    // 5–10× that. r7 shipped 64 MB here ("generous keeps role-joins
    // shuffle-free"); the r8 scale-up run falsified it — at 128× sf0.1
    // the threshold admitted the 19 M-row orders side of q5_join5 /
    // q_fact_join as broadcasts (33 MB estimate, GB-scale relation),
    // and the pinned relations + GC debt degraded not just those joins
    // but every query sharing the session (the r8 executed plans, in git
    // history). Dims that are genuinely small (region/nation, filtered
    // customer arms) still broadcast; SF-scaling tables flip to SMJ
    // exactly when they should.
    .config("spark.sql.autoBroadcastJoinThreshold", (10L << 20).toString)
    .config("spark.ui.enabled", "false")
    // One executor-side session for every session of the context. With
    // Spark's per-session artifact isolation on, the first job of each
    // new session (every [[scoped]] clone, and the clone Spark makes for
    // every stream) first builds an isolated executor session with its
    // own classloader: an aggregate over the 15,000 sf0.01 orders took
    // 281 ms in a fresh clone vs 205 ms in the caller (local[4]), and 222
    // vs 215 ms with isolation off. Isolation separates only per-session
    // jars and files, and graft adds none.
    .config("spark.sql.artifact.isolation.enabled", "false")
    // Fork-free `file:` I/O. Without the native libhadoop, Hadoop's local
    // filesystem forks `chmod` on every create and mkdirs, and the
    // FileContext API that Spark's default checkpoint manager uses forks
    // `readlink` on every status lookup. On 4 vCPUs one `stream`
    // benchmark run forked 1,488 `readlink` and 468 `chmod` (state-store
    // commits took 2.31 s of a 3.1 s pass), and one `build` run 1,759
    // `chmod`. The FileSystem-API manager renames without `readlink`,
    // and the `fs.file.impl` below sets modes through NIO; `.crc` files
    // and Spark's checkpoint checksums are unchanged, and HDFS/S3 paths
    // are untouched.
    //
    // The state-store provider stays Spark's HDFS-backed default.
    // RocksDB with changelog checkpointing, measured before this fix
    // (one traced `stream` run, 4 vCPUs), was slower: pass 3.68 s vs
    // 2.97 s, state commits 2.22 s vs 2.25 s — the forks were the floor,
    // not the provider. StreamingSpec pins provider invariance, so a
    // cluster with state beyond the heap can still switch by conf.
    .config("spark.sql.streaming.checkpointFileManagerClass",
      "org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager")
    .config("spark.hadoop.fs.file.impl",
      classOf[graft.sources.ForkFreeLocalFileSystem].getName)
    // Room for every generated class a long-lived session reuses. Spark's
    // codegen cache is one LRU per JVM, keyed by (class loader, source),
    // so a whole-stage source takes two entries: the driver's validation
    // compile and the task's, under the executor's loader. At the stock
    // 100 entries a warm pass over the 16 relational and iterative
    // benchmark faces outgrows the cache, every entry is evicted before
    // its reuse, and every stage compiles again on every run. A cold
    // sweep of all 244 faces at sf0.01 fills 2,889 entries; the warm
    // sweep after it compiled 3,912 classes in 50.7 s at 100 entries and
    // 86 in 36.8 s at 4096 (local[4]). The driver and each executor JVM
    // hold a cache of their own, so a cluster session that reruns the
    // same faces thrashes in the same way at 100. A static conf, read once
    // per JVM, when it first generates code: set it on the builder.
    .config("spark.sql.codegen.cache.maxEntries", "4096")

  /** Runs `face` on a clone of `spark` whose shuffle WIDTH is `width` —
    * BOTH `spark.sql.shuffle.partitions` AND
    * `spark.sql.adaptive.coalescePartitions.initialPartitionNum` — and
    * returns its frame to the caller, materialized inside the scope by
    * one eager `localCheckpoint` unless its plan is already a leaf. With
    * no `width`, the scope narrows [[tune]]'s ×8 pre-coalesce fan-out
    * back to ×1 of the session's base `shuffle.partitions`.
    *
    * The ×8 fan-out wins on corpus-sized sorts (q14 5×, fact 2× at 64×)
    * but taxes exchanges of domain-bounded frames (graph fixed points,
    * post-rollup |users|/|days|/|deciles| frames, streaming state stores)
    * 2-3× in pure task scheduling. Scoping only `shuffle.partitions` is
    * inert under AQE coalescing, which sizes the pre-coalesce map output
    * by initialPartitionNum when that conf is set (a 2× q_components
    * regression). The base width is read from the conf itself, NOT
    * `sessionState.conf.numShufflePartitions`: under AQE coalescing that
    * getter RETURNS initialPartitionNum, which would make the ×1 scope a
    * silent no-op.
    *
    * The clone (`cloneSession`, not `newSession`, which drops runtime
    * confs such as an AQE or broadcast override) carries its own SQLConf,
    * so the caller's confs never change and faces on other threads of
    * the same session keep their widths. `face` must build its frame on
    * the session it is given: confs are read at execution time, and a
    * frame of the outer session would run at the outer width, so it is
    * refused. The checkpoint is what makes the scope apply to everything
    * the face plans; the caller gets the materialized rows as a plan of
    * its own session.
    */
  private[graft] def scoped(spark: SparkSession, width: Option[Int] = None)(
      face: SparkSession => DataFrame): DataFrame = {
    val n = width.getOrElse(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val inner = GraftBridge.cloneSession(spark)
    inner.conf.set("spark.sql.shuffle.partitions", n.toString)
    inner.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", n.toString)
    val df = face(inner)
    require(df.sparkSession eq inner,
      "Graft.scoped: the face returned a frame of another session; build it " +
        "on the session the scope passes in, or it runs outside the scope")
    GraftBridge.ofRows(spark, materialize(df)._1.queryExecution.analyzed)
  }

  /** Runs a fixed-point loop over `input` and returns its result as a
    * frame of `input`'s session. The loop's lineage cutting is decided
    * here, once:
    *  - `input` is materialized in the caller's session before the
    *    rounds start, so an expensive input plan runs once, at the
    *    caller's width, and not inside the first round's jobs.
    *  - The rounds run in a [[scoped]] clone of width
    *    `max(4, defaultParallelism / 4)`. Loop frames are bounded by a
    *    vertex set or a vocabulary, far smaller than the corpus that
    *    produced them; the width follows the cluster so the loop is not
    *    pinned to a few reducers at any deployment size.
    *  - `start(input)` is the state before round 1. Round n's state is
    *    `step(input, state)`, checkpointed eagerly: without the cut,
    *    each round's plan chains through every earlier round and the
    *    job graph grows quadratically. The state of round n−1 is then
    *    released.
    *  - `done(state, n)` sees round n's materialized state and returns
    *    the loop's result, or None for another round. A loop that needs
    *    more than `maxRounds` rounds fails.
    *  - The result is copied out of the scope as [[scoped]] copies any
    *    face. Then every checkpoint the loop made is released, except one
    *    the result reads. Only the loop's own RDDs are released: other
    *    queries on the same context keep theirs.
    *
    * Two driver loops do not use it. `pagerank` runs a fixed 3 rounds as
    * one chained plan at scan width; eager per-round checkpoints at a
    * narrow width were measured slower there (6.0 s vs 3.7 s at sf0.1).
    * The IVF Lloyd loop keeps its state on the driver, as centroids, so
    * it has no frame lineage to cut.
    */
  private[graft] def iterate(input: DataFrame, maxRounds: Int)(
      start: DataFrame => DataFrame)(
      step: (DataFrame, DataFrame) => DataFrame)(
      done: (DataFrame, Int) => Option[DataFrame]): DataFrame = {
    val spark = input.sparkSession
    val (in, inputRdd) = materialize(input)
    var roundRdd: Option[RDD[_]] = None
    var result: Option[DataFrame] = None
    try {
      result = Some(scoped(spark, Some(math.max(4, spark.sparkContext.defaultParallelism / 4))) {
        inner =>
          val source = GraftBridge.ofRows(inner, in.queryExecution.analyzed)
          def loop(state: DataFrame, round: Int): DataFrame = {
            require(round < maxRounds, s"Graft.iterate: no fixed point in $maxRounds rounds")
            val (next, rdd) = materialize(step(source, state))
            // a leaf step result made no checkpoint, and may read the last one
            if (rdd.nonEmpty) { roundRdd.foreach(_.unpersist(blocking = false)); roundRdd = rdd }
            done(next, round + 1).getOrElse(loop(next, round + 1))
          }
          loop(start(source), 0)
      })
      result.get
    } finally {
      val read = result.toSeq.flatMap(rddsOf).map(_.id).toSet
      (inputRdd ++ roundRdd).filterNot(r => read(r.id)).foreach(_.unpersist(blocking = false))
    }
  }

  /** `df` materialized by one eager `localCheckpoint`, with the RDD that
    * now holds its rows. A leaf plan (a memory sink's rows, a checkpoint)
    * has no exchange for a width to apply to, so it comes back as is.
    */
  private def materialize(df: DataFrame): (DataFrame, Option[RDD[_]]) =
    if (df.queryExecution.optimizedPlan.children.isEmpty) (df, None)
    else { val c = df.localCheckpoint(); (c, rddsOf(c).headOption) }

  /** The RDDs a frame's plan reads directly. A checkpointed frame is a
    * `LogicalRDD` over the persisted RDD, which `Dataset.unpersist`
    * cannot reach: it lives in the RDD cache, not the cache manager.
    */
  private def rddsOf(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }
}
