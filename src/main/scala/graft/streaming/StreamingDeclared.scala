package graft.streaming

import graft.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** §2.9 streaming jobs as declared queries: each stages the events file
  * into a directory, runs the REAL streaming engine (FileStreamSource →
  * state store → sink) through StreamingJobs' run path and returns the
  * sink table or its read-back. Memory sinks and output directories are
  * fixed per key, so a repeated call replaces its previous results
  * instead of accumulating them. A single-file AvailableNow run is ONE
  * deterministic microbatch,
  * so every job whose final sink state equals a batch query over the same
  * file is oracle-checked with that batch SQL (tumbling/session/dedup/
  * watermark/static-join/stream-join/rate). Only the per-batch-emission
  * jobs (mapGroupsWithState / transformWithState update mode) stay
  * non-oracle; multi-batch semantics (late drops, incremental state) are
  * spec-tested with crafted MemoryStream batches in StreamingSpec.
  */
object StreamingDeclared {

  /** Fingerprint of the source events file (size + mtime). Staged copies
    * in /tmp outlive testdata regenerations — round 4 lost 7 streaming
    * queries to exactly that kind of drift — so every staging dir records
    * the fingerprint it was built from and rebuilds when it changes.
    */
  private def sourceFingerprint(sfDir: String): String = {
    val p = java.nio.file.Paths.get(sfDir, "events.parquet")
    s"${java.nio.file.Files.size(p)}_${java.nio.file.Files.getLastModifiedTime(p).toMillis}"
  }

  /** The staging directory `<tmpdir>/<prefix>_<sfDir hash>`, filled by
    * `build` once per (jvm, sfDir, source fingerprint): a `_READY_`
    * marker names the fingerprint it was built from, and a regenerated
    * source file rebuilds it. (File stream sources skip `_` files.)
    */
  private def staged(sfDir: String, prefix: String)(
      build: java.nio.file.Path => Unit): String = synchronized {
    val dir = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"${prefix}_${Integer.toHexString(sfDir.hashCode)}")
    val ready = dir.resolve(s"_READY_${sourceFingerprint(sfDir)}")
    if (!java.nio.file.Files.exists(ready)) {
      java.nio.file.Files.createDirectories(dir)
      dir.toFile.listFiles().filter(_.getName.startsWith("_READY")).foreach(_.delete())
      build(dir)
      java.nio.file.Files.createFile(ready)
    }
    dir.toString
  }

  /** Stage the single events parquet file into a directory (file stream
    * sources list directories).
    */
  private def stagedEventsDir(sfDir: String): String =
    staged(sfDir, "graft_stream_src") { dir =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(sfDir, "events.parquet"),
        dir.resolve("events.parquet"), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

  /** Stage the events table as the files `events_<i>.parquet`, one per
    * frame `parts` derives from the raw table, with distinct ascending
    * mod times so the file source sees separately-arrived files: read
    * one file per trigger, each becomes its own microbatch, in order.
    * Files are rewritten through Spark with whatever `ts` type the source
    * carries (raw long for NANOS, or timestamp[us]) so the streaming
    * schema inferred from these files matches the source's encoding.
    */
  private def stagedEventsParts(s: SparkSession, sfDir: String,
      prefix: String)(parts: DataFrame => Seq[DataFrame]): String =
    staged(sfDir, prefix) { dir =>
      StreamingJobs.readingRawEvents(s) {
        val raw = s.read.parquet(s"$sfDir/events.parquet")
        parts(raw).zipWithIndex.foreach { case (df, i) =>
          val stage = dir.resolve(s"stage_$i")
          df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
          val src = stage.toFile.listFiles()
            .find(_.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no parquet part written under $stage"))
          val dst = dir.resolve(s"events_$i.parquet")
          java.nio.file.Files.move(src.toPath, dst,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
          graft.deleteRecursively(stage)
        }
      }
    }

  /** Stage the events table as TWO files split by event_id parity — the
    * input for the multi-microbatch runs.
    */
  private[graft] def stagedEventsSplitDir(s: SparkSession,
      sfDir: String): String =
    stagedEventsParts(s, sfDir, "graft_stream_src2") { raw =>
      (0 to 1).map(half => raw.filter(pmod(col("event_id"), lit(2)) === half))
    }

  /** Stage the events table as FOUR time-ordered files: first half by
    * event time, second half, then two far-future sentinel clicks
    * (event_id = user_id = −1/−2, ts = max + 30/60 days). Read one file
    * per trigger, the sentinel batch advances the watermark past every
    * real event, which is what lets watermark-gated emissions
    * (stream-stream OUTER join nulls) flush deterministically before the
    * AvailableNow run terminates — the file-staged equivalent of the
    * punctuation/heartbeat events a production topic carries. The time
    * split (not parity) keeps event time monotone across batches, so no
    * real row is ever late.
    */
  private[graft] def stagedEventsSentinelDir(s: SparkSession,
      sfDir: String): String =
    stagedEventsParts(s, sfDir, "graft_stream_src3b") { raw =>
      val tsIsLong = raw.schema("ts").dataType ==
        org.apache.spark.sql.types.LongType
      // a NTZ/timestamp ts cannot cast straight to bigint under ANSI —
      // go through unix_micros (session TZ is UTC, values preserved)
      val tsLong = if (tsIsLong) col("ts")
        else unix_micros(col("ts").cast("timestamp"))
      val mid = raw.agg(((min(tsLong) + max(tsLong)) / 2).cast("long"))
        .head.getLong(0)
      def plusDays(d: Int) = if (tsIsLong) expr(s"ts + ${d.toLong * 86400} * 1000000000L")
        else expr(s"ts + INTERVAL $d DAYS")
      val cols = raw.columns
      // TWO sentinel files: watermark updates from data seen through the
      // PREVIOUS batch, so the batch processing sentinel #2 is the one
      // that applies sentinel #1's watermark and flushes the last real
      // stragglers (an AvailableNow run does not execute a trailing
      // no-data batch — verified empirically: with one sentinel, exactly
      // the final 20 minutes' unmatched clicks stayed in state).
      // Each sentinel file carries BOTH a click and a purchase row
      // (disjoint negative user ids, so they match nothing): a two-sided
      // join takes the MIN of the per-stream watermarks
      // (multipleWatermarkPolicy=min), so a click-only sentinel leaves
      // the purchase-side watermark at real-data time and the flush
      // stalls — also verified empirically, as one straggler click
      // whose ts+10min exceeded max(purchase_ts)−10min.
      def sentinel(id: Long, typ: String, days: Int) =
        raw.orderBy(desc("ts")).limit(1)
          .withColumn("event_id", lit(id))
          .withColumn("user_id", lit(id))
          .withColumn("event_type", lit(typ))
          .withColumn("ts", plusDays(days))
          .select(cols.head, cols.tail: _*)
      Seq(
        raw.filter(tsLong <= mid),
        raw.filter(tsLong > mid),
        sentinel(-1L, "click", 30).unionAll(sentinel(-3L, "purchase", 30)),
        sentinel(-2L, "click", 60).unionAll(sentinel(-4L, "purchase", 60)))
    }

  /** Pre-build every staged source directory (single-file, split,
    * sentinel) outside a bench's timed region — same contract as
    * LlmQueries.warmStaging: staging is shared infrastructure, its
    * one-time build cost is not any single query's steady-state cost.
    */
  def warmStaging(s: SparkSession, sfDir: String): Unit = {
    stagedEventsDir(sfDir)
    stagedEventsSplitDir(s, sfDir)
    stagedEventsSentinelDir(s, sfDir)
  }

  val queries: Map[String, Q] = Map(
    "stream_tumbling" -> ((s, dir) =>
      StreamingJobs.tumbling(s, stagedEventsDir(dir), "q_stream_tumbling")
        .orderBy(col("user_id"), col("win_start"))),

    // the same tumbling agg driven through TWO real microbatches (two
    // staged files, one file per trigger): incremental state across
    // batches, final complete-mode state oracle-checked against the
    // batch SQL over the whole table; the ≥2-batch execution is pinned
    // from query progress in StreamingSpec
    "stream_tumbling_2batch" -> ((s, dir) =>
      StreamingJobs.tumblingMultiBatch(s, stagedEventsSplitDir(s, dir),
          "q_stream_tumbling_2b")._1
        .orderBy(col("user_id"), col("win_start"))),

    // real streaming sliding window (1h size, 30min slide): every event
    // lands in exactly 2 windows; complete-mode single-batch run equals
    // the union of the two tumbling grids the oracle reproduces
    "stream_sliding" -> ((s, dir) =>
      StreamingJobs.sliding(s, stagedEventsDir(dir), "q_stream_sliding")
        .orderBy(col("user_id"), col("win_start"))),

    // stream-static enrichment join; single-microbatch AvailableNow run
    // makes the result deterministic → oracle-checked directly
    "stream_static_join" -> ((s, dir) =>
      StreamingJobs.streamStaticJoin(s, stagedEventsDir(dir),
          s"$dir/customer.parquet", "q_stream_static_join")
        .orderBy(col("c_mktsegment"))),

    // stream-stream watermarked inner join with a time-bounded condition
    "stream_stream_join" -> ((s, dir) =>
      StreamingJobs.streamStreamJoin(s, stagedEventsDir(dir),
          "q_stream_stream_join")
        .orderBy(col("click_id"), col("purchase_id"))),

    // durable parquet file sink (exactly-once commit log) + read-back
    "stream_file_sink" -> ((s, dir) =>
      StreamingJobs.fileSinkTumbling(s, stagedEventsDir(dir))
        .orderBy(col("user_id"), col("win_start"))),

    // global no-key streaming aggregate (one state row, complete mode)
    "stream_global_agg" -> ((s, dir) =>
      StreamingJobs.globalAgg(s, stagedEventsDir(dir), "q_stream_gagg")),

    // per-window leaderboard over the streaming aggregation's final
    // state: complete-mode tumbling counts ranked to top-3 users per
    // window — the dashboard tier riding directly on the sink table
    "stream_window_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sink = StreamingJobs.tumbling(s, stagedEventsDir(dir),
        "q_stream_wtopk")
      val w = Window.partitionBy(col("win_start"))
        .orderBy(desc("n"), col("user_id"))
      sink.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("win_start"), col("rk"), col("user_id"), col("n"))
        .orderBy(col("win_start"), col("rk"))
    }),

    // update-mode tumbling agg over the two-file split source: per-batch
    // changed-group emissions (the changelog a MERGE sink consumes),
    // collapsed to final state for the oracle (count/nonneg-sum are
    // monotone per key)
    // MapState surface of transformWithState: per-user type→count map
    // with point updates (RocksDB entry-level, not whole-blob), emitted
    // as a sorted histogram csv; monotone total collapses the changelog
    "stream_map_state" -> ((s, dir) =>
      StreamingJobs.typeHistogramTws(s, stagedEventsSplitDir(s, dir),
          "q_stream_mapstate")
        .orderBy(col("user_id"))),

    // event-time TIMER surface of transformWithState: inactivity-flush
    // sessions (30-min gap) — intra-batch closures emit inline, the
    // final open session per user flushes when the sentinel-advanced
    // watermark fires its timer. Oracle = the same gaps-and-islands
    // sessionization in SQL.
    "stream_timer_sessions" -> ((s, dir) =>
      StreamingJobs.sessionFlushTws(s, stagedEventsSentinelDir(s, dir),
          "q_stream_timer_sess")
        .orderBy(col("user_id"), col("sess_start_s"))),

    // ListState surface of transformWithState: capped last-3 recent
    // types per user (state = keys×3 forever — the bounded-state
    // discipline), update-mode changelog collapsed via the monotone
    // seen counter
    "stream_last_n_state" -> ((s, dir) =>
      StreamingJobs.lastNTypesTws(s, stagedEventsSplitDir(s, dir),
          "q_stream_lastn")
        .orderBy(col("user_id"))),

    "stream_update_mode" -> ((s, dir) =>
      StreamingJobs.tumblingUpdateMode(s, stagedEventsSplitDir(s, dir),
          "q_stream_update")._1
        .orderBy(col("user_id"), col("win_start"))),

    // full-outer twin: unmatched purchases surface too (watermark-gated
    // on both sides, same sentinel flush)
    "stream_stream_full_outer" -> ((s, dir) =>
      StreamingJobs.streamStreamFullOuter(s, stagedEventsSentinelDir(s, dir),
          "q_stream_stream_fouter")
        .orderBy(col("click_id"), col("purchase_id"))),

    // left-outer stream-stream join over the sentinel-staged 3-file
    // source: null rows are watermark-gated, so this exercises real
    // multi-batch watermark advancement + outer-state flush (see
    // streamStreamLeftOuter / stagedEventsSentinelDir docs)
    "stream_stream_outer" -> ((s, dir) =>
      StreamingJobs.streamStreamLeftOuter(s, stagedEventsSentinelDir(s, dir),
          "q_stream_stream_outer")
        .orderBy(col("click_id"), col("purchase_id"))),

    "stream_session" -> ((s, dir) =>
      StreamingJobs.sessionWindows(s, stagedEventsDir(dir), "q_stream_session")
        .orderBy(col("user_id"), col("sess_start"))),

    "stream_stateful" -> ((s, dir) =>
      StreamingJobs.statefulRunningCount(s, stagedEventsDir(dir), "q_stream_stateful")
        .orderBy(col("user_id"))),

    "stream_watermark_late" -> ((s, dir) => {
      // single-batch file run: nothing is late, but the watermarked
      // append-mode pipeline (state + eviction logic) executes for real —
      // only windows closed under the final watermark (max ts − 10 min)
      // are emitted, which the oracle reproduces; late-drop behavior
      // itself is spec-tested batch-by-batch
      StreamingJobs.toMemory(
          StreamingJobs.watermarkedHourlyCounts(
            StreamingJobs.readEventsStream(s, stagedEventsDir(dir))),
          "q_stream_watermark", OutputMode.Append(), StreamingJobs.Drain)
        .orderBy(col("user_id"), col("win_start"))
    }),

    "stream_stateful_tws" -> ((s, dir) =>
      StreamingJobs.statefulRunningCountTws(s, stagedEventsDir(dir),
          "q_stream_stateful_tws")
        .orderBy(col("user_id"))),

    // deterministic unbounded source (rate-micro-batch batch 0) — the
    // one streaming query DuckDB can oracle: values are 0..9999 exactly
    "stream_rate" -> ((s, dir) =>
      StreamingJobs.rateDemo(s, 10000, "q_stream_rate")
        .orderBy(col("bucket"))),

    // foreachBatch sink: complete-mode totals snapshotted via idempotent
    // overwrite (format-free MERGE INTO); declared result is the
    // read-back of the landed table, so sink + read path are both checked
    "stream_foreachbatch" -> ((s, dir) =>
      StreamingJobs.foreachBatchUpsert(s, stagedEventsDir(dir),
          s"${System.getProperty("java.io.tmpdir")}/graft_rt/stream_feb")
        .orderBy(col("user_id"))),

    // state-store reader: the streaming query's STATE read back as a
    // batch frame from the checkpoint (Spark 4 statestore source)
    "stream_state_reader" -> ((s, dir) =>
      StreamingJobs.stateReaderCounts(s, stagedEventsDir(dir),
          "q_stream_state_rd")
        .orderBy(col("user_id"))),

    // chained stateful aggregations: 15-min tumbling → 1h roll-up in ONE
    // streaming query (window_time() as downstream event time)
    "stream_chained_agg" -> ((s, dir) =>
      StreamingJobs.chainedWindowAgg(s, stagedEventsDir(dir),
          "q_stream_chained")
        .orderBy(col("user_id"), col("win_start"))),

    // dropDuplicatesWithinWatermark — the Spark 3.5+ dedup API whose
    // state is evicted by EVENT-TIME age (watermark delay) instead of
    // exact-key retention forever: the right primitive for unbounded
    // streams where duplicates only arrive near each other in time.
    // Input is the stream self-unioned, so every event_id arrives twice
    // within one microbatch and the operator provably drops the twin;
    // state size is bounded by the 10-minute horizon at any scale.
    "stream_dedup_within_wm" -> ((s, dir) => {
      val ev = StreamingJobs.readEventsStream(s, stagedEventsDir(dir))
        .select(col("event_id"), col("user_id"), col("ts"))
      val dedup = ev.union(ev)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(Seq("event_id"))
      StreamingJobs.toMemory(dedup, "q_stream_dedup_wm", OutputMode.Append())
        .orderBy(col("event_id"))
    }),

    "stream_dedup" -> ((s, dir) =>
      StreamingJobs.toMemory(
          StreamingJobs.watermarkedDedup(StreamingJobs.readEventsStream(s, stagedEventsDir(dir)))
            .select(col("event_id"), col("user_id"), col("ts")),
          "q_stream_dedup", OutputMode.Append())
        .orderBy(col("event_id")))
  )

  val oracle: Map[String, String] = Map(
    // single staged file ⇒ exactly one AvailableNow microbatch ⇒ the
    // update-mode stateful count emits one final row per user — the
    // same determinism stream_tumbling already relies on; incremental
    // multi-batch emission stays spec-tested via MemoryStream
    "stream_stateful" ->
      """SELECT user_id, count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "stream_stateful_tws" ->
      """SELECT user_id, count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // multi-batch complete-mode state converges to the same batch agg
    "stream_tumbling_2batch" ->
      """SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS win_start,
        |  count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY user_id, win_start
        |ORDER BY user_id, win_start""".stripMargin,

    // complete-mode tumbling agg over one file == batch time_bucket agg
    "stream_tumbling" ->
      """SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS win_start,
        |  count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY user_id, win_start
        |ORDER BY user_id, win_start""".stripMargin,

    // session_window(30 min) == gaps-and-islands; Spark's session end is
    // last event + gap
    "stream_session" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |y AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM x),
        |z AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM y)
        |SELECT user_id, min(ts) AS sess_start,
        |  max(ts) + INTERVAL 30 MINUTE AS sess_end, count(*) AS n
        |FROM z GROUP BY user_id, sid
        |ORDER BY user_id, sess_start""".stripMargin,

    // sliding(1h, 30min) == union of the two tumbling grids (offset 0
    // and 30 min); window start = bucket start of the offset grid
    "stream_sliding" ->
      """SELECT user_id, win_start, count(*) AS n FROM (
        |  SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS win_start FROM events
        |  UNION ALL
        |  SELECT user_id,
        |    time_bucket(INTERVAL '1 hour', ts - INTERVAL 30 MINUTE) + INTERVAL 30 MINUTE
        |  FROM events)
        |GROUP BY user_id, win_start
        |ORDER BY user_id, win_start""".stripMargin,

    // single-batch complete-mode snapshot == batch per-user totals
    "stream_foreachbatch" ->
      """SELECT user_id, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // event_id is unique in the table, so watermarked dropDuplicates
    // over one batch passes every row through
    "stream_dedup" ->
      """SELECT event_id, user_id, ts FROM events ORDER BY event_id""".stripMargin,

    // the self-union doubles every event_id; within-watermark dedup
    // restores exactly the distinct set
    "stream_dedup_within_wm" ->
      """SELECT event_id, user_id, ts FROM events ORDER BY event_id""".stripMargin,

    // the aggregation state after the AvailableNow run IS the batch agg
    "stream_state_reader" ->
      """SELECT user_id, count(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // append emits 1h windows closed under the final watermark
    // (max ts − 10 min); their 15-min feeders are always finalized
    // first, so emitted roll-ups carry full counts
    "stream_chained_agg" ->
      """WITH l1 AS (
        |  SELECT user_id, time_bucket(INTERVAL '15 minutes', ts) AS w15,
        |    count(*) AS n15
        |  FROM events GROUP BY user_id, w15)
        |SELECT user_id, time_bucket(INTERVAL '1 hour', w15) AS win_start,
        |  CAST(sum(n15) AS BIGINT) AS n, max(n15) AS peak15
        |FROM l1
        |WHERE time_bucket(INTERVAL '1 hour', w15) + INTERVAL 1 HOUR
        |  <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        |GROUP BY user_id, win_start
        |ORDER BY user_id, win_start""".stripMargin,

    // append mode emits exactly the windows closed under the final
    // watermark = max(ts) - 10 min (window end <= watermark)
    "stream_watermark_late" ->
      """SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS win_start,
        |  count(*) AS n
        |FROM events
        |WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR
        |  <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        |GROUP BY user_id, win_start
        |ORDER BY user_id, win_start""".stripMargin,

    "stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "stream_stream_join" ->
      """SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_type = 'click'
        |  AND b.event_type = 'purchase'
        |  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin,

    "stream_file_sink" ->
      """SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS win_start,
        |  count(*) AS n
        |FROM events
        |WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR
        |  <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        |GROUP BY user_id, win_start
        |ORDER BY user_id, win_start""".stripMargin,

    "stream_global_agg" ->
      """SELECT count(*) AS n_events, round(sum(value), 6) AS sum_value,
        |  max(user_id) AS max_user
        |FROM events""".stripMargin,

    "stream_window_topk" ->
      """WITH c AS (
        |  SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS win_start,
        |    count(*) AS n
        |  FROM events GROUP BY user_id, win_start),
        |r AS (
        |  SELECT win_start, user_id, n,
        |    row_number() OVER (PARTITION BY win_start
        |      ORDER BY n DESC, user_id) AS rk
        |  FROM c)
        |SELECT win_start, rk, user_id, n FROM r WHERE rk <= 3
        |ORDER BY win_start, rk""".stripMargin,

    "stream_map_state" ->
      """WITH tc AS (
        |  SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY user_id, event_type)
        |SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
        |  string_agg(event_type || ':' || c, ',' ORDER BY event_type) AS hist
        |FROM tc GROUP BY user_id ORDER BY user_id""".stripMargin,

    "stream_timer_sessions" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts,
        |    sum(CASE WHEN prev_ts IS NULL
        |             OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM x)
        |SELECT user_id,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start_s,
        |  CAST(floor(epoch(max(ts))) AS BIGINT) AS sess_end_s,
        |  count(*) AS n_events
        |FROM m GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_start_s""".stripMargin,

    "stream_last_n_state" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM events),
        |c AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id),
        |top AS (
        |  SELECT user_id, string_agg(event_type, ',' ORDER BY rk) AS last3
        |  FROM r WHERE rk <= 3 GROUP BY user_id)
        |SELECT c.user_id, c.n_events, t.last3
        |FROM c JOIN top t ON t.user_id = c.user_id
        |ORDER BY c.user_id""".stripMargin,

    "stream_update_mode" ->
      """SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS win_start,
        |  count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY user_id, win_start
        |ORDER BY user_id, win_start""".stripMargin,

    "stream_stream_full_outer" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  coalesce(c.user_id, p.user_id) AS user_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = c.user_id
        |  AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin,

    "stream_stream_outer" ->
      """SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id
        |FROM events a LEFT JOIN events b
        |  ON a.user_id = b.user_id
        |  AND b.event_type = 'purchase'
        |  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
        |WHERE a.event_type = 'click'
        |ORDER BY click_id, purchase_id""".stripMargin,

    "stream_rate" ->
      """SELECT CAST(value % 10 AS BIGINT) AS bucket,
        |       count(*) AS n,
        |       CAST(sum(value) AS BIGINT) AS sum_value
        |FROM (SELECT unnest(generate_series(0, 9999)) AS value)
        |GROUP BY 1 ORDER BY bucket""".stripMargin)
}
