package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.core.Graft
import graft.functions.Fns._
import graft.sources.Scratch.tempDir
import graft.sources.Tables

/** Event-time operators (SURVEY §2 D-block). The transforms are written
  * against a plain DataFrame so the SAME code serves batch (`read`, the
  * driver's oracle path) and Structured Streaming (`readStream` +
  * watermark — exercised in the streaming test suite). This mirrors how
  * the reference treats tripdata as both a batch table and an
  * incrementally-loaded feed.
  */
object Events {

  /** Stage the events feed into a fresh directory for FileStreamSource
    * consumption. The feed may be a single parquet FILE (the driver's
    * testdata) or a parquet DIRECTORY of part files (any Spark-written
    * table — e.g. the scale-up harness, or a real lakehouse feed). A
    * bare `Files.copy` of a directory path would create an EMPTY
    * directory and the stream would silently process zero rows.
    */
  private def stageFeed(path: String, prefix: String): java.nio.file.Path = {
    val feedDir = tempDir(prefix)
    val src = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isDirectory(src)) {
      // Files.walk (not list): a partitionBy-written table nests its
      // part files under key=value subdirectories — a top-level-only
      // listing would stage a silent subset. The stream MUST be closed
      // (its javadoc contract; each leaked handle is an open directory
      // fd for the life of the bench JVM). Flat part-N names can't
      // collide across subdirectories.
      val walk = java.nio.file.Files.walk(src)
      val i =
        try {
          var n = 0
          val it = walk.iterator()
          while (it.hasNext) {
            val f = it.next()
            if (java.nio.file.Files.isRegularFile(f) &&
                f.getFileName.toString.endsWith(".parquet")) {
              java.nio.file.Files.copy(f, feedDir.resolve(f"part-$n%05d.parquet"))
              n += 1
            }
          }
          n
        } finally walk.close()
      require(i > 0, s"stageFeed: no parquet part files under $path")
    } else {
      java.nio.file.Files.copy(src, feedDir.resolve("events.parquet"))
    }
    feedDir
  }

  /** Stage the events feed as 4 part files: a rate-limited
    * (`maxFilesPerTrigger = 1`) stream then takes 4 micro-batches, and
    * a restart can reveal the feed in halves.
    */
  private def stageFourFiles(spark: SparkSession, path: String,
      prefix: String): java.nio.file.Path = {
    val feedDir = tempDir(prefix)
    Tables.parquet(spark, path).repartition(4)
      .write.mode("overwrite").parquet(feedDir.toString)
    feedDir
  }

  /** The driver every streaming face runs through: `face` runs with a
    * width-8 [[graft.core.Graft.scoped]] session and a [[StreamRun]] over
    * `dir`'s events feed in it. The streams, their memory-sink views and
    * the face's batch staging all live in that session. A session's
    * streaming listeners hear only the streams started from it, so the
    * caller's listeners are attached to the scoped session for the run.
    *
    * Width 8: stateful streaming queries instantiate one state store PER
    * shuffle partition per stateful operator per micro-batch (a
    * stream-stream join keeps FOUR per partition), so the session's
    * scan-sized width would schedule and commit that many stores, each
    * commit writing its own delta and checksum files, for kilobytes of
    * state. (The seconds per batch once put down to the store count were
    * per-file `chmod`/`readlink` process forks, which
    * [[graft.core.Graft.tune]] removes.) The scope covers
    * initialPartitionNum too: the streaming plan itself ignores AQE, but
    * the batch work the faces run inside it (staging writes, sentinel and
    * horizon aggregates, foreachBatch folds, the result's checkpoint)
    * would otherwise launch at the global ×8 pre-coalesce fan-out.
    *
    * On the way out the scoped session's streaming listener bus, and the
    * bus of each stream's own session clone, come off the context's
    * listener bus, which would otherwise keep them for the life of the
    * context. The scoped bus goes only after it has delivered its
    * streams' terminate events to the caller's listeners.
    */
  private[graft] def runAvailableNow(spark: SparkSession, dir: String)(
      face: (SparkSession, StreamRun) => DataFrame): DataFrame = {
    val listeners = spark.streams.listListeners()
    Graft.scoped(spark, Some(8)) { inner =>
      listeners.foreach(inner.streams.addListener)
      val run = new StreamRun(inner, dir)
      try face(inner, run)
      finally {
        GraftBridge.releaseStreamingBus(inner, timeoutMs = 60000)
        run.drained.foreach(q =>
          GraftBridge.releaseStreamingBus(GraftBridge.streamSession(q), timeoutMs = 0))
      }
    }
  }

  /** What a streaming face gets from [[runAvailableNow]] beside its
    * session: the events feed's path and raw schema, file-stream sources
    * over a staged copy of the feed, and [[drain]], which runs one query
    * to completion.
    */
  private[graft] final class StreamRun(spark: SparkSession, dir: String) {
    val path = s"$dir/events.parquet"
    private[streaming] val drained = scala.collection.mutable.ArrayBuffer[StreamingQuery]()

    /** The feed's RAW schema: every staged part file carries it, so it
      * is the schema a file-stream source over a staged copy declares.
      */
    lazy val schema: StructType = Tables.parquet(spark, path).schema

    /** A fresh file-stream source over `feedDir` (FileStreamSource
      * consumes a DIRECTORY: files land and are processed once), with
      * `ts` as the loader's µs timestamp ([[Tables.eventTime]]). Each
      * call is a separate source, so a stream-stream join calls it per
      * side. `oneFilePerBatch` rate-limits it to one file per batch.
      */
    def source(feedDir: java.nio.file.Path,
        oneFilePerBatch: Boolean = false): DataFrame = {
      val reader = spark.readStream.schema(schema)
      Tables.eventTime(
        (if (oneFilePerBatch) reader.option("maxFilesPerTrigger", "1") else reader)
          .parquet(feedDir.toString))
    }

    /** [[source]] with `event_ts` as its event-time timestamp. */
    def events(feedDir: java.nio.file.Path,
        oneFilePerBatch: Boolean = false): DataFrame =
      source(feedDir, oneFilePerBatch).withColumn("event_ts", col("ts"))

    /** Start `writer` under `Trigger.AvailableNow` (the scheduled
      * catch-up shape: process everything present, then stop) and wait
      * for it to finish. A failed query's error propagates; a query that
      * is still running on the way out (timeout, failure) is stopped.
      */
    def drain(writer: DataStreamWriter[_]): StreamingQuery = {
      val q = writer.trigger(Trigger.AvailableNow()).start()
      drained += q
      try require(q.awaitTermination(300000),
        "AvailableNow run did not self-terminate")
      finally if (q.isActive) q.stop()
      q
    }

    /** [[drain]] `df` into the memory sink `sink` in output `mode`, and
      * return the sink table.
      */
    def toMemory(df: Dataset[_], mode: String, sink: String): DataFrame = {
      drain(df.writeStream.outputMode(mode).format("memory").queryName(sink))
      spark.table(sink)
    }
  }

  /** Shared transform: tumbling hourly window aggregate. In streaming
    * mode the caller adds `.withWatermark("event_ts", …)` upstream; the
    * plan (window + partial agg + final agg) is identical.
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("event_ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("total_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** D1: hourly tumbling-window aggregate over the events feed. */
  def qHourlyEvents(spark: SparkSession, dir: String): DataFrame =
    hourlyAgg(Tables(spark, dir).events
      .withColumn("event_ts", col("ts")))

  val qHourlyEventsSql: String =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  /** Shared transform: SLIDING 1-hour windows stepped by 15 minutes —
    * the trailing-hour dashboards refreshed every slide. Each event
    * lands in exactly 4 overlapping windows; Spark's `window(ts, len,
    * slide)` materializes them at the source (an explode of 4 structs),
    * so the shuffle carries (window, type) partial aggs — same cost
    * class as tumbling, ×(len/slide).
    */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("event_ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("total_value"))
      .select(unix_micros(col("w.start")).as("win_start_us"), col("event_type"),
        col("n_events"), col("total_value"))

  /** D6: sliding-window aggregate over the events feed. The oracle
    * states the identical semantics arithmetically: an event at µs u
    * belongs to the 4 windows starting at (u div 15min − k)·15min,
    * k ∈ 0..3.
    */
  def qSlidingWindow(spark: SparkSession, dir: String): DataFrame =
    slidingAgg(Tables(spark, dir).events
      .withColumn("event_ts", col("ts")))

  val qSlidingWindowSql: String =
    """SELECT (epoch_us(ts) // 900000000 - k) * 900000000 AS win_start_us,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events, unnest(range(0, 4)) AS t(k)
      |GROUP BY 1, 2""".stripMargin

  /** D2: gap-based sessionization via Spark's native `session_window`
    * (30-minute inactivity gap). A new session opens when the gap to the
    * previous event is ≥ 30 min (session_window ends are exclusive).
    * One shuffle keyed by user — the semantically-required exchange; at
    * scale the session merge is per-key streaming state, not a sort of
    * the whole feed.
    */
  def qSessionize(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(
        min(unix_micros(col("ts"))).as("session_start_us"),
        count(lit(1)).as("n_events"),
        decSum(col("value")).as("total_value"))
      .select(col("user_id"), col("session_start_us"), col("n_events"),
        col("total_value"))

  /** Typed event row for the stateful API. */
  final case class Ev(user_id: Long, ts_us: Long, value: Double)
  /** Closed-session summary. */
  final case class SessionOut(user_id: Long, session_start_us: Long,
      n_events: Long, total_value: Double)
  final case class SessState(startUs: Long, lastUs: Long,
      n: Long, total: Double)
  /** [[Ev]] plus the watermark-tagged timestamp column: the streaming
    * checker requires the watermarked attribute to still be present in
    * the child of flatMapGroupsWithState, so it must ride through the
    * groupByKey rather than be projected away.
    */
  final case class EvW(user_id: Long, ts_us: Long, value: Double,
      event_ts: java.sql.Timestamp)

  /** D3: custom-state sessionization via
    * `KeyValueGroupedDataset.flatMapGroupsWithState` — the
    * Structured-Streaming-native form of D2's session_window, for when
    * session logic outgrows what session_window expresses (per-session
    * custom accumulators, mid-session emission, etc.).
    *
    * Session closure is complete in BOTH execution modes — an idle
    * user's last session is never silently dropped:
    *   - streaming: `EventTimeTimeout` + `setTimeoutTimestamp(last +
    *     gap)` closes the open session when the watermark passes the
    *     gap (the function injects a watermark on `ts_us` if the caller
    *     hasn't declared one);
    *   - batch: the single invocation sees the key's complete history,
    *     so end-of-input closes the trailing session directly (there is
    *     no watermark to wait for).
    */
  def sessionizeStateful(
      ds: Dataset[Ev],
      gapUs: Long = 30L * 60 * 1000000,
      watermarkDelay: String = "0 seconds")(
      implicit enc: Encoder[SessionOut]): Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val func = (uid: Long, events: Iterator[Ev], state: GroupState[SessState]) => {
          def close(s: SessState) = SessionOut(uid, s.startUs, s.n, s.total)
          if (state.hasTimedOut) {
            // watermark passed last+gap with no new events: silence
            // closes the open session
            val out = state.getOption.map(close)
            state.remove()
            out.iterator
          } else {
            val sorted = events.toIndexedSeq.sortBy(e => (e.ts_us, e.value))
            var cur = state.getOption
            val closed = scala.collection.mutable.ListBuffer.empty[SessionOut]
            sorted.foreach { e =>
              cur = cur match {
                case Some(s) if e.ts_us - s.lastUs < gapUs =>
                  Some(s.copy(lastUs = e.ts_us, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closed += close(s)
                  Some(SessState(e.ts_us, e.ts_us, 1, e.value))
                case None =>
                  Some(SessState(e.ts_us, e.ts_us, 1, e.value))
              }
            }
            // batch mode has no watermark (getCurrentWatermarkMs throws):
            // the input is the complete history, close the trailing
            // session now instead of scheduling a timeout.
            val wmMs = try Some(state.getCurrentWatermarkMs())
              catch { case _: UnsupportedOperationException => None }
            (cur, wmMs) match {
              case (Some(s), Some(wm)) =>
                state.update(s)
                state.setTimeoutTimestamp(
                  math.max((s.lastUs + gapUs) / 1000, wm + 1))
              case (Some(s), None) =>
                closed += close(s)
              case (None, _) =>
            }
            closed.iterator
          }
    }
    // EventTimeTimeout needs an event-time watermark in streaming mode;
    // Ev carries event time as a µs long, so tag a projected timestamp
    // and keep it in the grouped row (EvW) — the checker requires the
    // watermarked attribute in flatMapGroupsWithState's child output.
    if (ds.isStreaming)
      ds.withColumn("event_ts", timestamp_micros(col("ts_us")))
        .withWatermark("event_ts", watermarkDelay)
        .as(Encoders.product[EvW])
        .groupByKey(_.user_id)(Encoders.scalaLong)
        .flatMapGroupsWithState[SessState, SessionOut](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          (uid: Long, events: Iterator[EvW], state: GroupState[SessState]) =>
            func(uid, events.map(e => Ev(e.user_id, e.ts_us, e.value)), state)
        }(Encoders.product[SessState], enc)
    else
      ds.groupByKey(_.user_id)(Encoders.scalaLong)
        .flatMapGroupsWithState[SessState, SessionOut](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(func)(
          Encoders.product[SessState], enc)
  }

  /** D4: streaming deduplication — the streaming face of A1's keep-first
    * dedup. Exact dedup over an unbounded stream needs unbounded state;
    * `dropDuplicatesWithinWatermark` is the scale contract: state for a
    * key is retained only while the watermark can still admit a
    * duplicate (the `delay` horizon), so memory is bounded by the late
    * window, not the stream length. Batch callers get the exact
    * whole-input dedup on the same keys.
    */
  def dedupWithinWatermark(
      events: DataFrame,
      keys: Seq[String],
      delay: String = "10 minutes",
      tsCol: String = "event_ts"): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keys)
    else
      events.dropDuplicates(keys)

  /** D7: an end-to-end Structured Streaming pipeline the BATCH harness
    * can drive — the events feed consumed as a file stream (watermarked
    * event time), hourly-aggregated, run to completion under
    * `Trigger.AvailableNow` (the scheduled catch-up shape: process
    * everything present, then stop), and returned as the sink table.
    * Because [[hourlyAgg]] is the same transform the batch face runs,
    * the batch oracle states this result exactly; StreamingSpec holds
    * the incremental-arrival and self-termination properties.
    */
  def qStreamHourly(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir) { (_, r) =>
      val stream = r.events(stageFeed(r.path, "graft_feed"))
        .withWatermark("event_ts", "1 hour")
      r.toMemory(hourlyAgg(stream), "complete", "q_stream_hourly_sink")
    }

  /** D8: end-to-end streaming dedup the batch harness drives — the
    * events feed as a file stream through [[dedupWithinWatermark]]
    * (real `dropDuplicatesWithinWatermark` state) under
    * `Trigger.AvailableNow`, projected to the dedup KEYS. WHICH physical
    * row survives depends on arrival order (inherent to streaming
    * dedup), so the query face returns the key set — arrival-invariant,
    * and with the horizon covering the feed's full span it equals
    * batch `SELECT DISTINCT` exactly, which is the oracle. State cost
    * at scale is bounded by the horizon, not the stream length.
    */
  def qStreamDedup(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir) { (_, r) =>
      val deduped = dedupWithinWatermark(
        r.events(stageFeed(r.path, "graft_feed_dedup")),
        Seq("user_id", "event_type"), delay = "3650 days")
        .select(col("user_id"), col("event_type"))
      r.toMemory(deduped, "append", "q_stream_dedup_sink")
    }

  val qStreamDedupSql: String =
    """SELECT DISTINCT user_id, event_type FROM events""".stripMargin

  /** D9: stream–static enrichment join — the remaining Structured
    * Streaming join family: an unbounded stream joined to a STATIC
    * dimension (the customer table), re-planned per micro-batch (the
    * dim broadcasts; no stream-side state is needed for stream–static
    * inner joins), aggregated per segment and run to completion under
    * `Trigger.AvailableNow`. Complete-mode output over the whole feed
    * is arrival-invariant, so the batch join's SQL is the exact oracle.
    */
  def qStreamEnrich(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir) { (spark, r) =>
      val stream = r.source(stageFeed(r.path, "graft_feed_enrich"))
        .select(col("user_id"), col("value"))
      val dim = Tables(spark, dir).customer
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val agg = stream.join(dim, "user_id")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("total_value"))
      r.toMemory(agg, "complete", "q_stream_enrich_sink")
    }

  /** D10: end-to-end STATEFUL sessionization the batch harness drives —
    * [[sessionizeStateful]]'s real `flatMapGroupsWithState` +
    * `EventTimeTimeout` state machine run to completion under
    * `Trigger.AvailableNow`, made arrival-invariant with the standard
    * FLUSH-SENTINEL move: one synthetic far-future event per user
    * (2×gap past the feed's high-water mark) forces every real trailing
    * session closed through the normal fold path, and the sentinel's own
    * 1-event session is the only state left open (never emitted in
    * Append mode — and filtered defensively anyway). The emitted set
    * then equals batch sessionization exactly, so D2's SQL is the
    * oracle. The high-water-mark fetch is a bounded 1-row collect
    * (SURVEY §5's documented exception class).
    *
    * total_value rounds to 2 dp: the stream folds doubles in event-time
    * order while the oracle sums exact decimals; the feed's values ARE
    * 2-dp, so both land within ulps of the same 2-dp value and the
    * round recovers it bit-for-bit.
    */
  def qStreamSessionize(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir) { (spark, r) =>
      val ev = Tables(spark, dir).events
      val feedDir = stageFeed(r.path, "graft_feed_sess")
      val gapUs = 30L * 60 * 1000000
      val maxUs = ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      val sentinelUs = maxUs + 2 * gapUs
      // sentinel feed, same schema as the real one (unused columns null);
      // ts is rendered in the RAW feed's physical type so the sentinel
      // part-file parses under the same readStream schema.
      // FileStreamSource lists FILES in the feed dir, so the sentinel
      // batch is staged to a scratch dir and its part-file moved in flat.
      val schema = r.schema
      val scratch = tempDir("graft_sentinel")
      ev.select(col("user_id")).distinct()
        .withColumn("ts",
          timestamp_micros(lit(sentinelUs)).cast(schema("ts").dataType))
        .withColumn("value", lit(0.0))
        .select(schema.fieldNames.map(f =>
          if (Seq("user_id", "ts", "value").contains(f)) col(f)
          else lit(null).cast(schema(f).dataType).as(f)): _*)
        .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = java.nio.file.Files.list(scratch).filter(p =>
        p.getFileName.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, feedDir.resolve("zz_sentinel.parquet"))
      val stream = r.source(feedDir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value").cast("double").as("value"))
        .as(Encoders.product[Ev])
      val sessions = sessionizeStateful(stream, gapUs)(
        Encoders.product[SessionOut])
      r.toMemory(sessions, "append", "q_stream_sess_sink")
        .filter(col("session_start_us") < sentinelUs)
        .select(col("user_id"), col("session_start_us"), col("n_events"),
          round(col("total_value"), 2).as("total_value"))
    }

  val qStreamSessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events
      |), flagged AS (
      |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
      |                   OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
      |), numbered AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                             ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged
      |)
      |SELECT user_id, MIN(ts_us) AS session_start_us, COUNT(*) AS n_events,
      |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
      |FROM numbered
      |GROUP BY user_id, session_id""".stripMargin

  /** D11: end-to-end stream–stream interval join the batch harness
    * drives — E14's range-join semantics (clicks in the hour before
    * each purchase) as a real watermarked stream-stream join under
    * `Trigger.AvailableNow`: both sides are unbounded feeds, the
    * event-time bounds make the join state finite (each side keeps only
    * the watermark-reachable hour), and INNER-join matches emit as soon
    * as both rows are present — no watermark wait — so the emitted pair
    * set over a complete feed is arrival-invariant. The face folds the
    * sink to (purchase, n_clicks) per converting purchase; the batch
    * join's SQL is the exact oracle.
    */
  def qStreamJoin(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir) { (_, r) =>
      val feedDir = stageFeed(r.path, "graft_feed_join")
      def feed() = r.events(feedDir).withWatermark("event_ts", "2 hours")
      val purchases = feed().filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_event_id"),
          col("event_ts").as("p_ts"))
      val clicks = feed().filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_event_id"),
          col("event_ts").as("c_ts"))
      val joined = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
      r.toMemory(joined, "append", "q_stream_join_sink")
        .groupBy(col("p_user").as("user_id"), col("purchase_event_id"))
        .agg(count(lit(1)).as("n_clicks"))
    }

  val qStreamJoinSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events)
      |SELECT p.user_id, p.event_id AS purchase_event_id, COUNT(*) AS n_clicks
      |FROM e p JOIN e c
      |  ON p.user_id = c.user_id
      | AND c.t >= p.t - 3600000000
      | AND c.t <= p.t
      |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      |GROUP BY p.user_id, p.event_id""".stripMargin

  val qSessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events
      |), flagged AS (
      |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
      |                   OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
      |), numbered AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                             ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged
      |)
      |SELECT user_id, MIN(ts_us) AS session_start_us, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM numbered
      |GROUP BY user_id, session_id""".stripMargin

  /** D12: streaming CDC upsert via `foreachBatch` — the remaining
    * production streaming shape after D7–D11: a changelog stream folded
    * into a keyed state table one micro-batch at a time (what
    * `foreachBatch` + MERGE INTO runs against a lakehouse table). The
    * feed is staged as 4 files consumed under `maxFilesPerTrigger=1`,
    * so `Trigger.AvailableNow` genuinely takes multiple batches; each
    * batch folds (previous state ∪ batch) with E45's latest-wins
    * `max(struct(seq, event_id, op, new_bal))` per key. Because that
    * fold is associative and commutative, the final state is
    * BATCH-SPLIT INVARIANT — any arrival order, any trigger cadence,
    * same table — which is why the batch E45 SQL is the exact oracle.
    * State versions are immutable parquet snapshots (write-new,
    * never overwrite-in-place: readers of v(n−1) are untouched while
    * v(n) lands — the lakehouse commit discipline in miniature).
    */
  /** Highest committed state version under `stateRoot` (the `v<id>`
    * snapshot dirs [[cdcPass]] writes), -1 when none. Deriving the
    * resume point from the SINK (not a driver variable) is what makes
    * the fold restart-safe: a fresh JVM resuming a killed run finds
    * the last landed snapshot the same way the original would have.
    */
  private[graft] def latestStateVersion(stateRoot: java.nio.file.Path): Long = {
    val kids = stateRoot.toFile.listFiles()
    if (kids == null) -1L
    else kids.iterator.filter(_.isDirectory).map(_.getName)
      .collect { case s if s.matches("v\\d+") => s.drop(1).toLong }
      .foldLeft(-1L)(math.max)
  }

  /** One `Trigger.AvailableNow` pass of D12's CDC fold over `feedDir`,
    * drained by `r` (so inside its runner's width scope), returning the
    * batch ids THIS pass processed. Restart recovery is split across the
    * two durable stores exactly as a production lakehouse job splits it:
    *   - SOURCE offsets live in `checkpoint` (when given): a restarted
    *     pass consumes only files the committed offsets haven't covered
    *     — never re-reads finished input (exactly-once consumption; the
    *     StreamingSpec restart case pins the resumed pass's batch ids).
    *   - SINK state is an idempotent overwrite keyed by batchId, folded
    *     from the LATEST landed `v<id>` snapshot. A batch replayed
    *     after a crash between sink-write and offset-commit re-folds
    *     v(batchId) over itself — the latest-wins max is idempotent on
    *     duplicates — and overwrites the same dir with identical
    *     content, so at-least-once replay converges to exactly-once
    *     output.
    */
  private[graft] def cdcPass(r: StreamRun, feedDir: java.nio.file.Path,
      stateRoot: java.nio.file.Path,
      checkpoint: Option[String]): Seq[Long] = {
    val processed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val changes = r.source(feedDir, oneFilePerBatch = true)
      .select(col("user_id").as("key"), unix_micros(col("ts")).as("seq"),
        col("event_id"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        dec(col("value"), 18, 2).as("new_bal"))
    val writer = changes.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        val prev = latestStateVersion(stateRoot)
        val incoming =
          if (prev < 0) batch
          else batch.unionByName(
            Tables.parquet(sp, stateRoot.resolve(s"v$prev").toString))
        incoming
          .groupBy(col("key"))
          .agg(max(struct(col("seq"), col("event_id"), col("op"),
            col("new_bal"))).as("c"))
          .select(col("key"), col("c.seq").as("seq"),
            col("c.event_id").as("event_id"), col("c.op").as("op"),
            col("c.new_bal").as("new_bal"))
          .write.mode("overwrite")
          .parquet(stateRoot.resolve(s"v$batchId").toString)
        processed.add(batchId): Unit
      }
    r.drain(checkpoint.fold(writer)(c => writer.option("checkpointLocation", c)))
    import scala.jdk.CollectionConverters._
    processed.iterator().asScala.toSeq.sorted
  }

  /** Shared tail of D12/D17: apply the latest CDC state snapshot under
    * `stateRoot` against the customer base table (full-outer upsert +
    * delete filter — the MERGE INTO result set).
    */
  private def cdcFinal(spark: SparkSession, dir: String,
      stateRoot: java.nio.file.Path): DataFrame = {
    val latest = Tables.parquet(spark,
        stateRoot.resolve(s"v${latestStateVersion(stateRoot)}").toString)
      .select(col("key"), col("op"), col("new_bal"))
    val base = Tables(spark, dir).customer.select(col("c_custkey").as("key"),
      dec(col("c_acctbal"), 18, 2).as("base_bal"))
    base.join(latest, Seq("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("key").as("c_custkey"),
        coalesce(col("new_bal"), col("base_bal")).cast("double").as("acctbal"),
        when(col("op").isNull, lit("unchanged"))
          .when(col("base_bal").isNull, lit("inserted"))
          .otherwise(lit("updated")).as("cdc_action"))
  }

  def qStreamCdc(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir) { (spark, r) =>
      val feedDir = stageFourFiles(spark, r.path, "graft_feed_cdc")
      val stateRoot = tempDir("graft_cdc_state")
      val ran = cdcPass(r, feedDir, stateRoot, None)
      require(ran.nonEmpty, "no micro-batch ran")
      cdcFinal(spark, dir, stateRoot)
    }

  /** D17 `q_stream_restart`: checkpoint-restart recovery as an
    * ORACLE-FACED query (r8 VERDICT item #6's production form, beyond
    * the StreamingSpec kill/resume case). The feed is staged as 4 files
    * but only the first half is revealed; [[cdcPass]] runs to
    * `AvailableNow` completion against a DURABLE checkpoint and then
    * the query is gone — the crash. The remaining files land while the
    * job is down; a SECOND pass resumes from the same checkpoint,
    * consuming ONLY the unseen files (committed source offsets) and
    * folding from the last landed v‹id› snapshot (sink state). The
    * in-query REQUIRE pins the exactly-once evidence — the resumed
    * pass's batch ids continue strictly past the first pass's — and
    * the final upsert table must equal the uninterrupted batch CDC
    * apply, so E45's SQL is the exact oracle (character-identical to
    * D12's: recovery is only correct if it is output-invisible).
    */
  def qStreamRestart(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir) { (spark, r) =>
      val staged = stageFourFiles(spark, r.path, "graft_restartq_stage")
      val parts = staged.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val feedDir = tempDir("graft_restartq_feed")
      val ckpt = tempDir("graft_restartq_ckpt").toString
      val stateRoot = tempDir("graft_restartq_state")
      parts.take(2).foreach(f =>
        java.nio.file.Files.copy(f.toPath, feedDir.resolve(f.getName)))
      val run1 = cdcPass(r, feedDir, stateRoot, Some(ckpt))
      require(run1.nonEmpty, "first pass ran no micro-batch")
      parts.drop(2).foreach(f =>
        java.nio.file.Files.copy(f.toPath, feedDir.resolve(f.getName)))
      val run2 = cdcPass(r, feedDir, stateRoot, Some(ckpt))
      require(run2.nonEmpty && run2.head > run1.last,
        s"resumed pass re-ran committed batches: $run1 then $run2")
      cdcFinal(spark, dir, stateRoot)
    }

  /** D13: streaming cardinality — distinct users per event type over an
    * unbounded stream. Exact COUNT(DISTINCT) is impossible in streaming
    * (unbounded state, and Spark rejects it); the scale contract is the
    * mergeable HLL++ sketch (`approx_count_distinct`, rsd 2%): state per
    * group is O(sketch), micro-batches merge partials, and the same plan
    * serves a 100 TB/day feed. The sketch value is engine-private, so —
    * E8b's discipline — the face emits the batch-exact companion plus an
    * in-plan 5% error claim the oracle states as TRUE; the claim is a
    * deterministic function of this feed, oracle-checked at every scale.
    */
  def qStreamUniques(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir) { (spark, r) =>
      val stream = r.source(stageFeed(r.path, "graft_feed_uniques"))
        .select(col("event_type"), col("user_id"))
      val agg = stream.groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
      val approx = r.toMemory(agg, "complete", "q_stream_uniques_sink")
      val exact = Tables(spark, dir).events
        .groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("n_users"))
      exact.join(approx, "event_type")
        .select(col("event_type"), col("n_users"),
          (abs(col("n_approx") - col("n_users"))
            <= col("n_users").cast("double") * 0.05).as("approx_ok"))
    }

  val qStreamUniquesSql: String =
    """SELECT event_type,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  TRUE AS approx_ok
      |FROM events GROUP BY 1""".stripMargin

  /** D14: end-to-end STREAMING sliding windows — D6's trailing-hour
    * dashboards as an unbounded feed: file-stream source, 1 h/15 min
    * overlapping windows (each event expands into 4 window structs at
    * the source, so the shuffle carries (window, type) partials — same
    * cost class as tumbling ×4), run to completion under
    * `Trigger.AvailableNow`. The run here uses `complete` output mode —
    * that is what makes the whole-feed batch-equivalence oracle valid
    * (every window re-emits each batch, arrival-invariant), but
    * complete mode RETAINS all window state and ignores the watermark
    * for eviction. A production deployment on a genuinely unbounded
    * feed would switch to `update`/`append` mode, where the declared
    * 1-hour watermark actually evicts closed windows and bounds state;
    * the aggregation itself is mode-agnostic — PROVEN since r8 by
    * StreamingSpec's "slidingAgg in update mode" case, which runs this
    * exact aggregate in update mode and pins the state-store row count
    * DROPPING once the watermark passes the early windows. Together
    * with D7 (tumbling) and D10 (session) every batch windowing face
    * has a live streaming twin.
    */
  def qStreamSliding(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir) { (_, r) =>
      val stream = r.events(stageFeed(r.path, "graft_feed_sliding"))
        .withWatermark("event_ts", "1 hour")
      r.toMemory(slidingAgg(stream), "complete", "q_stream_sliding_sink")
    }

  /** D15: end-to-end stream-stream LEFT OUTER interval join — the
    * join mode real CDC/attribution consumers hit first: every
    * purchase must come out, clicked-on or not. Both sides are
    * watermarked (2 h) and the event-time bounds
    * `c_ts ∈ [p_ts − 1 h, p_ts]` make the join state finite; inner
    * matches emit immediately (D11), while a NULL-extended row for an
    * unmatched purchase emits only once the watermark proves no
    * qualifying click can still arrive — the watermark-emitted-nulls
    * semantics this face exists to exercise.
    *
    * Arrival-invariance (the oracle contract): null emission depends
    * on where the final watermark lands, so the face projects the sink
    * to purchases at or below a CLOSED HORIZON strictly below any
    * possible final watermark. The global watermark is the MIN across
    * both sides' watermark nodes, and Catalyst pushes each type filter
    * BELOW its watermark node — so the click side's node tracks max
    * CLICK time, not max feed time (empirically pinned: the final
    * watermark lands at max-click − 2 h). The horizon is therefore
    * `min(max purchase ts, max click ts) − (2 h delay + 1 h margin)`,
    * safe whether or not the filter pushdown happens. Every purchase
    * at or below it has provably emitted either its matches or its
    * null row under ANY arrival order, so the batch LEFT JOIN over the
    * same horizon states the result exactly.
    */
  def qStreamLeftJoin(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir) { (spark, r) =>
      val feedDir = stageFeed(r.path, "graft_feed_left_join")
      def feed() = r.events(feedDir).withWatermark("event_ts", "2 hours")
      val purchases = feed().filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_event_id"),
          col("event_ts").as("p_ts"))
      val clicks = feed().filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_event_id"),
          col("event_ts").as("c_ts"))
      val joined = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"),
        "left_outer")
      val sink = r.toMemory(joined, "append", "q_stream_left_join_sink")
      // closed horizon from the static table (1-row aggregate): the MIN
      // of the two sides' max event times − (watermark delay + margin)
      val mx = Tables(spark, dir).events.agg(
        max(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("mp"),
        max(when(col("event_type") === "click", unix_micros(col("ts")))).as("mc")).head
      val horizonUs =
        math.min(mx.getLong(0), mx.getLong(1)) - (2L + 1L) * 3600L * 1000000L
      sink
        .filter(unix_micros(col("p_ts")) <= horizonUs)
        .groupBy(col("p_user").as("user_id"), col("purchase_event_id"))
        .agg(count(col("click_event_id")).as("n_clicks"))
    }

  /** D16 `q_stream_late`: the LATE-DATA AUDIT — what a watermark
    * actually does to a real feed. The events table arrives in three
    * deterministic waves (distinct file mtimes under
    * `maxFilesPerTrigger=1`, so FileStreamSource's mtime order IS the
    * arrival order): wave 0 = the on-time rows (`event_id % 7 ≠ 0`),
    * wave 1 = ONE far-future filler row, wave 2 = the withheld late
    * rows (`event_id % 7 = 0`). The hourly aggregate (D7's transform)
    * runs in APPEND mode — the production emission mode, where each
    * window is emitted exactly once, after the watermark proves it
    * closed.
    *
    * Why the filler wave sits BETWEEN on-time and late (pinned
    * empirically with a per-batch progress probe; Spark's stateful
    * aggregation carries TWO watermarks): late-event FILTERING in
    * batch N uses the EVICTION watermark of batch N−1, i.e. event-time
    * stats through batch N−2 — one batch later than eviction. This is
    * deliberate engine design (what was finalized under the previous
    * eviction pass is exactly what must now be refused), but it means
    * a late wave arriving directly after the on-time wave is judged
    * against the PRE-on-time watermark (= unset) and sails in. The
    * filler makes the lag land where the audit wants it: during the
    * late wave, the filter watermark is `max(on-time) − 2 h` exactly.
    * A late row is DROPPED iff its hour-window END ≤ that watermark
    * (the watermark clock is MILLISECONDS, floored from the µs event
    * time); survivors merge into still-open windows. Eviction during
    * the late wave runs at `filler − 2 h`, so every REAL window is
    * emitted by stream end, while the filler's own window (END >
    * every watermark the run can reach) never materializes in the
    * output. Note the filler is NOT filtered out in the plan: a
    * `filter(event_type ≠ …)` above `withWatermark` gets pushed below
    * the watermark node by Catalyst (the D15 trap) and the row would
    * never reach the event-time stats at all.
    *
    * The emitted table is arrival-invariant GIVEN the staged wave
    * order — which the face fixes by construction, making the batch
    * restatement exact. Scale: state is bounded by the 2 h horizon
    * regardless of feed length; the audit's "what did we lose" column
    * is the count gap vs the raw batch rollup, visible as the
    * oracle's drop rule. (dbt source freshness — A20 — is the batch
    * cousin: both quantify arrival lag against a declared tolerance.)
    */
  def qStreamLate(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir) { (spark, r) =>
      val raw = Tables.parquet(spark, r.path)
      val feedDir = tempDir("graft_feed_late")
      def stageWave(df: DataFrame, n: Int, mtimeMs: Long): Unit = {
        val tmp = tempDir(s"graft_late_wave$n")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = {
          val s = java.nio.file.Files.list(tmp)
          try {
            val it = s.iterator()
            var found: java.nio.file.Path = null
            while (it.hasNext && found == null) {
              val f = it.next()
              if (f.getFileName.toString.endsWith(".parquet")) found = f
            }
            require(found != null, s"stageWave: no parquet part under $tmp")
            found
          } finally s.close()
        }
        val dst = feedDir.resolve(f"part-$n%05d.parquet")
        java.nio.file.Files.copy(part, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtimeMs)): Unit
      }
      val now = System.currentTimeMillis()
      stageWave(raw.filter(col("event_id") % 7 =!= 0), 0, now - 60000)
      // 1-row aggregate: the filler must outrun every real event time
      val maxUs = Tables(spark, dir).events
        .agg(max(unix_micros(col("ts")))).head.getLong(0)
      val filler = spark.range(1).select(r.schema.fields.map { f =>
        (f.name match {
          case "ts" =>
            // 100 days past the last real event
            timestamp_micros(lit(maxUs + 8640000000000L)).cast(f.dataType)
          case "event_id" | "user_id" => lit(-1L).cast(f.dataType)
          case "event_type" => lit("__filler").cast(f.dataType)
          case "value" => lit(0.0).cast(f.dataType)
          case _ => lit("").cast(f.dataType)
        }).as(f.name)
      }: _*)
      stageWave(filler, 1, now - 40000)
      stageWave(raw.filter(col("event_id") % 7 === 0), 2, now - 20000)
      val stream = r.events(feedDir, oneFilePerBatch = true)
        .withWatermark("event_ts", "2 hours")
      r.toMemory(hourlyAgg(stream), "append", "q_stream_late_sink")
    }

  val qStreamLateSql: String =
    """WITH e AS (
      |  SELECT event_id, event_type, value, epoch_us(ts) AS t_us FROM events),
      |w AS (
      |  SELECT (MAX(CASE WHEN event_id % 7 <> 0 THEN t_us END) // 1000)
      |    - 7200000 AS wm_ms FROM e),
      |kept AS (
      |  SELECT e.* FROM e CROSS JOIN w
      |  WHERE e.event_id % 7 <> 0
      |     OR (t_us - (t_us % 3600000000) + 3600000000) // 1000 > wm_ms)
      |SELECT make_timestamp(t_us - (t_us % 3600000000)) AS hour_start,
      |  event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM kept GROUP BY 1, 2""".stripMargin

  val qStreamLeftJoinSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events),
      |h AS (SELECT LEAST(
      |    MAX(CASE WHEN event_type = 'purchase' THEN t END),
      |    MAX(CASE WHEN event_type = 'click' THEN t END)) - 10800000000 AS horizon
      |  FROM e)
      |SELECT p.user_id, p.event_id AS purchase_event_id,
      |  CAST(COUNT(c.event_id) AS BIGINT) AS n_clicks
      |FROM e p CROSS JOIN h LEFT JOIN e c
      |  ON p.user_id = c.user_id AND c.event_type = 'click'
      | AND c.t >= p.t - 3600000000
      | AND c.t <= p.t
      |WHERE p.event_type = 'purchase' AND p.t <= horizon
      |GROUP BY p.user_id, p.event_id""".stripMargin

  /** D19 `q_stream_backpressure`: bounded-batch consumption — the
    * source-side rate-limit contract (`maxFilesPerTrigger = 1`) driven
    * to `AvailableNow` completion and AUDITED from the query's own
    * progress stream. A production file-stream job never takes "all of
    * the backlog" in one micro-batch: the rate limit bounds per-batch
    * state/shuffle no matter how deep the backlog grew while the job
    * was down, and `AvailableNow` + rate limit is exactly Spark's
    * documented catch-up shape. The feed is staged as 4 part files; the
    * audit pins (a) one non-empty micro-batch PER FILE (n_batches = 4 —
    * a lost rate limit collapses them to 1 and hash-fails against the
    * oracle's literal) and (b) row conservation across batches
    * (rows_in = COUNT(*) of the whole feed — a dropped or double-read
    * file shifts it). The hourly aggregate itself must equal D1's batch
    * answer — rate-limited consumption is only correct if batch
    * boundaries are output-invisible (the same invariant D17 pins for
    * checkpoint restarts).
    */
  def qStreamBackpressure(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir) { (spark, r) =>
      val feedDir = stageFourFiles(spark, r.path, "graft_feed_bp")
      val stream = r.events(feedDir, oneFilePerBatch = true)
        .withWatermark("event_ts", "1 hour")
      val q = r.drain(hourlyAgg(stream).writeStream
        .outputMode("complete").format("memory").queryName("q_stream_bp_sink"))
      val data = q.recentProgress.filter(_.numInputRows > 0)
      val nBatches = data.length.toLong
      val rowsIn = data.map(_.numInputRows).sum
      // One micro-batch PER staged file, derived from the feed dir
      // itself: a partially lost rate limit (2-3 batches) must fail
      // HERE with a diagnostic, not later as an opaque hash mismatch.
      val nFiles = feedDir.toFile.listFiles()
        .count(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
      require(nBatches == nFiles,
        s"rate limit violated: $nFiles staged files consumed in $nBatches micro-batches")
      spark.table("q_stream_bp_sink")
        .withColumn("n_batches", lit(nBatches))
        .withColumn("rows_in", lit(rowsIn))
    }

  val qStreamBackpressureSql: String =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  CAST(4 AS BIGINT) AS n_batches,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS rows_in
      |FROM events GROUP BY 1, 2""".stripMargin
}
