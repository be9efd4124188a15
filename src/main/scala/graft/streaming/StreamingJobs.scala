package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** §2.9 Structured Streaming jobs.
  *
  * A job is a batch-shaped plan over a streaming source plus a trigger,
  * an output mode and a sink, and every job runs through [[run]]. The run
  * pins the microbatch session settings ([[StatePartitions]] shuffle
  * partitions, AQE off, raw NANOS timestamps) and the checkpoint
  * filesystem ([[NioLocalFs]]: without libhadoop the stock local one
  * forks a `chmod` or `readlink` process per checkpoint file), scopes the
  * RocksDB state-store provider when the job asks for it, starts the
  * query, waits for it and restores the session values, so a job leaves
  * the caller's session as it found it. The trigger is one of three:
  *  - AvailableNow (the default): batch-like semantics over whatever data
  *    is present, one microbatch per staged file under the
  *    one-file-per-trigger throttle of [[readEventsStream]] — the idiom
  *    for testable streaming;
  *  - Once, for the unbounded rate source (exactly one microbatch);
  *  - [[Drain]]: start, processAllAvailable, stop — this also runs the
  *    trailing no-data microbatch that AvailableNow skips, so windows
  *    closed under the final watermark are emitted.
  * Memory-sink jobs go through [[toMemory]] and return the sink table.
  * The aggregation expressions are shared shapes with the oracle-checked
  * batch twins in StreamBatchQueries; specs assert stream == batch.
  *
  * At scale these jobs run unmodified against a real source (Kafka/files
  * arriving): state is partitioned by grouping key in the state store,
  * watermarks bound state size, and AvailableNow becomes a real trigger.
  */
object StreamingJobs {

  /** Shuffle partitions of every run, which is the state-store partition
    * count. Stateful streaming creates one state-store instance per
    * shuffle partition per microbatch; at test scale 32 of them is pure
    * file/maintenance overhead. A real deployment sizes this to cluster
    * cores (Conf.recommended) — the value is pinned into the checkpoint
    * at first start, which is why [[run]] sets it before starting.
    */
  private val StatePartitions = 8

  /** The default trigger; [[run]] drives it as start → processAllAvailable
    * → stop.
    */
  private[streaming] val Drain: Trigger = Trigger.ProcessingTime(0L)

  /** Run `df` into the sink `sink` configures, under the pinned
    * microbatch settings (see the object doc), and return the finished
    * query.
    */
  private[streaming] def run(df: DataFrame, trigger: Trigger = Trigger.AvailableNow(),
      rocksDb: Boolean = false)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery =
    withConf(df.sparkSession, Seq(
      "spark.sql.shuffle.partitions" -> StatePartitions.toString,
      // AQE off for microbatch jobs: stateful operators disable it anyway,
      // and stateless stages pay a full AQE replan per microbatch (extra
      // stage barriers + plan serialization) — measured 3-4x slower
      // across this suite's AvailableNow jobs.
      "spark.sql.adaptive.enabled" -> "false",
      // checkpoint and state-store files go through FileContext; without
      // libhadoop the stock local one forks chmod/readlink per file
      "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs.Checksummed].getName,
      NanosAsLong) ++
      // transformWithState requires the RocksDB state store
      (if (rocksDb) Seq("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Nil)) {
      val q = sink(df.writeStream.trigger(trigger)).start()
      if (trigger == Drain) try q.processAllAvailable() finally q.stop()
      else q.awaitTermination()
      q
    }

  /** Run `body` with the session values `pinned` set, then restore them:
    * a key that was unset is unset again, not set to its default.
    */
  private def withConf[T](spark: SparkSession, pinned: Seq[(String, String)])(body: => T): T = {
    val conf = spark.conf
    val set = conf.getAll
    val saved = pinned.map { case (k, _) => k -> set.get(k) }
    pinned.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** [[run]] into the memory sink `name`; returns the sink table. */
  private[streaming] def toMemory(df: DataFrame, name: String, mode: OutputMode,
      trigger: Trigger = Trigger.AvailableNow(), rocksDb: Boolean = false): DataFrame = {
    run(df, trigger, rocksDb)(_.format("memory").queryName(name).outputMode(mode))
    df.sparkSession.table(name)
  }

  /** Parquet NANOS timestamps read as raw longs, which
    * Tables.normalizeEventsTs converts; `ts` keeps its on-disk encoding.
    */
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  /** `body`, a batch read of raw events parquet, under [[NanosAsLong]];
    * the streams' own scans read under it through [[run]].
    */
  private[streaming] def readingRawEvents[T](spark: SparkSession)(body: => T): T =
    withConf(spark, Seq(NanosAsLong))(body)

  /** File streams need an explicit schema. Hardcoding one is how round 4
    * silently corrupted timestamps when the testdata re-encoded `ts`
    * (ns-long → timestamp[us]): parquet happily read µs INT64 into a
    * LongType field. So the streaming schema comes from a batch read of
    * the directory's actual footer — whatever encoding is on disk is the
    * schema the stream uses, and Tables.normalizeEventsTs converts it.
    *
    * The footer inference is memoized per directory LISTING fingerprint
    * (names + sizes + mtimes of the parquet files): every streaming
    * declared query used to pay a full batch `spark.read.parquet` —
    * driver analysis plus a footer-read job — once per source just to
    * recover the same schema from the same immutable staged files
    * (twice for the two-source join keys). Metadata only, never data;
    * a restaged directory changes the fingerprint and re-infers.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def eventsRawSchema(spark: SparkSession, dir: String): StructType = {
    val files = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet"))
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .sorted.mkString(",")
    schemaCache.computeIfAbsent(s"$dir|$files",
      _ => readingRawEvents(spark)(spark.read.parquet(dir).schema))
  }

  /** Streaming scan of an events parquet directory, ts normalized to a
    * µs TimestampType regardless of the on-disk encoding. With
    * `oneFilePerTrigger` each file of a multi-file staging is its own
    * microbatch.
    */
  def readEventsStream(spark: SparkSession, dir: String,
      oneFilePerTrigger: Boolean = false): DataFrame = {
    val reader = spark.readStream.schema(eventsRawSchema(spark, dir))
    graft.Tables.normalizeEventsTs(
      (if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", "1") else reader)
        .parquet(dir))
  }

  /** Hourly per-user event count and 6-dp value sum — the tumbling
    * aggregate of the streaming jobs and of their batch twin
    * stream_tumbling_batch.
    */
  private[streaming] def hourlyUserTotals(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
      .select(col("user_id"), col("window.start").as("win_start"), col("n"), col("sum_value"))

  /** Hourly per-user counts behind a 10-minute watermark: in append mode
    * a window is emitted once the watermark passes its end, and late rows
    * whose window already closed are dropped.
    */
  private[streaming] def watermarkedHourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("window.start").as("win_start"), col("n"))

  /** Exact dedup on event_id, its state bounded by a 10-minute watermark. */
  private[streaming] def watermarkedDedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes").dropDuplicates(Seq("event_id"))

  /** Tumbling 1h per-user counts — streaming twin of stream_tumbling_batch. */
  def tumbling(spark: SparkSession, dir: String, sinkName: String): DataFrame =
    toMemory(hourlyUserTotals(readEventsStream(spark, dir)), sinkName, OutputMode.Complete())

  /** Durable FILE sink: watermarked append-mode tumbling agg written to
    * a parquet directory with a checkpoint (exactly-once via the sink
    * commit log), then read back as a batch frame. It runs under
    * [[Drain]], so windows closed under the final watermark (max ts − 10
    * min) land in the files — same emission contract as
    * stream_watermark_late, now surviving in durable storage. The
    * sink+checkpoint base dir is FIXED per source path and wiped at the
    * start of every invocation — a stale checkpoint would pin its
    * committed source path and offsets, and per-run random dirs would
    * leak one parquet+checkpoint tree into /tmp per bench run.
    */
  def fileSinkTumbling(spark: SparkSession, eventsDir: String): DataFrame = {
    val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_fsink_${Integer.toHexString(eventsDir.hashCode)}")
    graft.deleteRecursively(base)
    java.nio.file.Files.createDirectories(base)
    val out = base.resolve("out").toString
    run(watermarkedHourlyCounts(readEventsStream(spark, eventsDir)), Drain)(
      _.format("parquet")
        .option("path", out)
        .option("checkpointLocation", base.resolve("chk").toString)
        .outputMode(OutputMode.Append()))
    spark.read.parquet(out)
  }

  /** Global (no-key) streaming aggregate in complete mode: a single
    * all-stream state row — the running-totals tile every streaming
    * dashboard has. One state-store entry regardless of stream size.
    */
  def globalAgg(spark: SparkSession, dir: String, sinkName: String): DataFrame = {
    val agg = readEventsStream(spark, dir)
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("sum_value"),
        max(col("user_id")).as("max_user"))
    toMemory(agg, sinkName, OutputMode.Complete())
  }

  /** Tumbling 1h per-user counts driven through MULTIPLE real
    * microbatches: the source directory holds several staged event files
    * read one file per trigger, so the run executes one microbatch per
    * file against the same state store — real incremental state, not a
    * single batch-like pass. Complete-mode final state still equals the
    * batch SQL over the union of the files (same oracle as
    * stream_tumbling). Returns the sink table plus the number of
    * non-empty microbatches executed so specs can pin the ≥2-batch claim
    * from query progress.
    */
  def tumblingMultiBatch(spark: SparkSession, dir: String,
      sinkName: String): (DataFrame, Int) = {
    val q = run(hourlyUserTotals(readEventsStream(spark, dir, oneFilePerTrigger = true)))(
      _.format("memory").queryName(sinkName).outputMode(OutputMode.Complete()))
    (spark.table(sinkName), q.recentProgress.count(_.numInputRows > 0))
  }

  /** [[watermarkedHourlyCounts]] over any events-shaped streaming source
    * into the memory sink `sinkName`; returns the running query so a
    * spec can drive multiple MemoryStream batches through it.
    */
  def watermarkedTumblingQuery(events: DataFrame, sinkName: String): StreamingQuery =
    watermarkedHourlyCounts(events)
      .writeStream.format("memory").queryName(sinkName)
      .outputMode(OutputMode.Append())
      .start()

  /** CHAINED stateful aggregations in one streaming query (Spark 3.4+
    * multiple-stateful-operator support): 15-minute tumbling per-user
    * counts re-aggregated into 1-hour windows via `window_time()` as the
    * downstream event-time column. Both levels share the global
    * watermark; append mode emits a 1h window once the watermark passes
    * its end — by which point every 15-min feeder window has already
    * been finalized upstream, so the roll-up is complete-by-construction.
    * The production shape for multi-resolution dashboards: one query,
    * one state store lineage, no intermediate sink between resolutions.
    */
  def chainedWindowAgg(spark: SparkSession, dir: String,
      sinkName: String): DataFrame = {
    val lvl1 = readEventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), window(col("ts"), "15 minutes"))
      .agg(count(lit(1)).as("n15"))
    val lvl2 = lvl1
      .groupBy(col("user_id"), window(window_time(col("window")), "1 hour"))
      .agg(sum(col("n15")).as("n"), max(col("n15")).as("peak15"))
      .select(col("user_id"), col("window.start").as("win_start"),
        col("n"), col("peak15"))
    toMemory(lvl2, sinkName, OutputMode.Append())
  }

  /** State-store observability (Spark 4 `statestore` data source): run a
    * checkpointed per-user streaming count, then read the query's STATE
    * back as a batch DataFrame straight from the checkpoint — no sink
    * round-trip. The production debugging/backfill surface: inspect live
    * aggregation state, audit watermark eviction, or seed a migration,
    * all with plain batch SQL over `key`/`value`/`partition_id` rows.
    * Returned frame is the state itself (user_id, n) — the declared
    * oracle proves state == the batch aggregate of the input.
    */
  def stateReaderCounts(spark: SparkSession, dir: String,
      sinkName: String): DataFrame = {
    // fixed per sink and wiped per run: a leftover checkpoint pins its
    // committed source path — replaying it against a different staged
    // dir fails with "Wrong basePath"
    val ckpt = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_rt", s"${sinkName}_ckpt")
    graft.deleteRecursively(ckpt)
    val agg = readEventsStream(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
    run(agg)(_.format("memory").queryName(sinkName)
      .option("checkpointLocation", ckpt.toString)
      .outputMode(OutputMode.Complete()))
    spark.read.format("statestore").load(ckpt.toString)
      .select(col("key.user_id").as("user_id"), col("value.count").as("n"))
  }

  /** Per-user session windows with a 30-minute gap. */
  def sessionWindows(spark: SparkSession, dir: String, sinkName: String): DataFrame = {
    val agg = readEventsStream(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("n"))
    toMemory(agg, sinkName, OutputMode.Complete())
  }

  /** Stream-static enrichment join: the event stream joins a static
    * dimension frame (re-read per microbatch by Spark; broadcast when
    * small) and aggregates per segment. The canonical "enrich events
    * with a dim table" shape — at scale the static side is a broadcast
    * per microbatch, the stream side never shuffles for the join.
    */
  def streamStaticJoin(spark: SparkSession, eventsDir: String,
      customerParquet: String, sinkName: String): DataFrame = {
    val events = readEventsStream(spark, eventsDir)
    val cust = graft.Tables.parquetCached(spark, customerParquet)
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = events.join(cust, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("sum_value"))
    toMemory(agg, sinkName, OutputMode.Complete())
  }

  /** Stream-stream inner join with watermarks on both sides and a time
    * bound in the join condition: purchases within 10 minutes after a
    * click, per user. The watermark + range bound is what lets Spark
    * expire join state — without both, stream-stream join state grows
    * forever; with them, state is bounded by the watermark horizon.
    */
  def streamStreamJoin(spark: SparkSession, eventsDir: String,
      sinkName: String): DataFrame =
    toMemory(clickPurchaseSelfJoin(readEventsStream(spark, eventsDir), "inner"),
      sinkName, OutputMode.Append())

  /** [[clickPurchaseJoin]] of ONE streaming source branched into both
    * join sides (a streaming self-join): the shared StreamingRelation
    * means one file listing and one offset ledger per microbatch instead
    * of two sources each re-listing and re-reading the same directory.
    * Same rows, same per-branch watermarks.
    */
  private def clickPurchaseSelfJoin(src: DataFrame, joinType: String): DataFrame =
    clickPurchaseJoin(
      src.filter(col("event_type") === "click"),
      src.filter(col("event_type") === "purchase"),
      joinType)

  /** The watermarked time-bounded click⋈purchase join over any two
    * events-shaped streams (`event_id`, `ts`, `user_id`) — exposed so
    * specs can drive it batch-by-batch through MemoryStreams.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val p = purchases.select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    c.join(p,
        col("c_user") === col("p_user") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"),
        joinType)
      .select(col("click_id"), col("purchase_id"),
        coalesce(col("c_user"), col("p_user")).as("user_id"))
  }

  /** Tumbling 1h per-user counts in UPDATE output mode over a
    * multi-file source (one microbatch per staged file): each batch
    * emits only the groups it CHANGED, so the sink accumulates several
    * versions per key — the changelog shape a downstream upsert sink
    * (foreachBatch MERGE) consumes. Returns the collapsed final state
    * (count and nonneg-sum are monotone per key, so latest == max) plus
    * the raw emission count, which a spec pins > final-key count to
    * prove multi-emission actually happened.
    */
  def tumblingUpdateMode(spark: SparkSession, dir: String,
      sinkName: String): (DataFrame, Long) = {
    val sink = toMemory(hourlyUserTotals(readEventsStream(spark, dir, oneFilePerTrigger = true)),
      sinkName, OutputMode.Update())
    val collapsed = sink.groupBy(col("user_id"), col("win_start"))
      .agg(max(col("n")).as("n"), max(col("sum_value")).as("sum_value"))
    (collapsed, sink.count())
  }

  /** FULL outer variant of [[streamStreamLeftOuter]]: unmatched rows on
    * BOTH sides are watermark-gated; the same sentinel staging flushes
    * them. Sentinel rows (negative ids) filter out on whichever side
    * they surface.
    */
  def streamStreamFullOuter(spark: SparkSession, dir: String,
      sinkName: String): DataFrame =
    toMemory(clickPurchaseSelfJoin(readEventsStream(spark, dir, oneFilePerTrigger = true),
        "full_outer"), sinkName, OutputMode.Append())
      .filter(coalesce(col("click_id"), lit(0L)) >= 0 &&
        coalesce(col("purchase_id"), lit(0L)) >= 0)

  /** Stream-stream LEFT OUTER click⋈purchase join. Unlike the inner
    * variant, the null (no-purchase) rows are watermark-GATED: a click's
    * outer row may only emit once the watermark proves no matching
    * purchase can still arrive (click_ts + 10 min < watermark), so this
    * must run against the sentinel-staged source
    * ([[StreamingDeclared.stagedEventsSentinelDir]]) whose far-future
    * final file pushes the watermark past every real event — otherwise
    * the unmatched rows for the tail of the stream would sit in the join
    * state forever (exactly what happens on a production stream that
    * stops receiving events). Each staged file is its own microbatch;
    * the batch of the second sentinel file performs the flush. The
    * sentinel click itself (id −1) is the one row legitimately still
    * stuck in state; callers filter it.
    */
  def streamStreamLeftOuter(spark: SparkSession, dir: String,
      sinkName: String): DataFrame =
    toMemory(clickPurchaseSelfJoin(readEventsStream(spark, dir, oneFilePerTrigger = true),
        "left_outer"), sinkName, OutputMode.Append())
      .filter(col("click_id") >= 0)

  /** [[watermarkedDedup]] over any events-shaped streaming source into
    * the memory sink `sinkName`; returns the running query for
    * multi-batch driving.
    */
  def streamingDedupQuery(events: DataFrame, sinkName: String): StreamingQuery =
    watermarkedDedup(events)
      .writeStream.format("memory").queryName(sinkName)
      .outputMode(OutputMode.Append())
      .start()

  /** Running per-user count as a Spark 4 `StatefulProcessor` — the
    * `transformWithState` successor to mapGroupsWithState: typed state
    * handles (ValueState/ListState/MapState), TTL, and timers, backed by
    * the RocksDB state store. Semantics here match
    * [[statefulRunningCount]] exactly so the spec can assert equality.
    */
  private class RunningCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), (Long, Long)] {
    @transient private var count: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      count = getHandle.getValueState[Long]("count",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long)] = {
      val prev = if (count.exists()) count.get() else 0L
      val total = prev + rows.size
      count.update(total)
      Iterator.single((key, total))
    }
  }

  /** Last-N recent event types per user via `ListState` — the typed
    * state-collection surface of transformWithState (RunningCount
    * covers ValueState). State per key is CAPPED at n entries (trimmed
    * every batch), so state size is keys×n however long the stream
    * runs — the bounded-state discipline an unbounded 100 TB stream
    * needs. Emits (user, seen_so_far, latest-first type csv); seen is
    * monotone per key, so max_by(csv, seen) collapses the update-mode
    * changelog to final state for the oracle.
    */
  private class LastNTypesProcessor(n: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, String), (Long, Long, String)] {
    @transient private var items:
      org.apache.spark.sql.streaming.ListState[(Long, Long, String)] = _
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      items = getHandle.getListState[(Long, Long, String)]("items",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, String)] = {
      val incoming = rows.map(r => (r._2, r._3, r._4)).toSeq
      val merged = (items.get().toSeq ++ incoming)
        .sortBy(t => (-t._1, -t._2)).take(n)
      items.clear()
      merged.foreach(items.appendValue)
      val total = (if (seen.exists()) seen.get() else 0L) + incoming.size
      seen.update(total)
      Iterator.single((key, total, merged.map(_._3).mkString(",")))
    }
  }

  /** Per-user event-type histogram via MapState — the keyed-collection
    * state surface (ValueState/ListState/timers covered by the other
    * processors). The map holds type→count per user: point updates
    * touch only the changed key's state entry (RocksDB column family),
    * not a serialized blob of the whole map — the access pattern that
    * matters when a key's state is wide. Emits the histogram as a
    * type-sorted csv + monotone total for update-mode collapse.
    */
  private class TypeHistogramProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), (Long, Long, String)] {
    @transient private var counts:
      org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, String)] = {
      rows.foreach { case (_, typ) =>
        val cur = if (counts.containsKey(typ)) counts.getValue(typ) else 0L
        counts.updateValue(typ, cur + 1)
      }
      val entries = counts.iterator().toSeq.sortBy(_._1)
      val total = entries.map(_._2).sum
      Iterator.single((key, total,
        entries.map { case (t, n) => s"$t:$n" }.mkString(",")))
    }
  }

  /** Update-mode per-user type histogram over the split multi-batch
    * source, collapsed to final state via the monotone total.
    */
  def typeHistogramTws(spark: SparkSession, dir: String,
      sinkName: String): DataFrame = {
    import spark.implicits._
    val out = readEventsStream(spark, dir, oneFilePerTrigger = true)
      .select(col("user_id"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new TypeHistogramProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "total", "hist")
    toMemory(out, sinkName, OutputMode.Update(), rocksDb = true)
      .groupBy(col("user_id"))
      .agg(max(col("total")).as("n_events"),
        expr("max_by(hist, total)").as("hist"))
  }

  /** Inactivity-flush sessionization via EVENT-TIME TIMERS — the timer
    * surface of transformWithState (ListState/ValueState are covered by
    * the other processors). Per user: extend the open session while
    * events arrive within `gapMs`; emit intra-batch closed sessions
    * immediately; keep ONE open session in state with a timer armed at
    * last_ts + gap. The timer fires when the WATERMARK passes it — the
    * flush no event could trigger. A stale timer (state advanced since
    * it was armed) is detected by comparing the expiry to the current
    * last_ts + gap and ignored — without that guard a batch that both
    * extends the session and passes the old deadline double-emits.
    */
  private class SessionFlushProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), (Long, Long, Long, Long)] {
    @transient private var sess:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long)]("sess",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long, Long)] = {
      val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
      var out = List.empty[(Long, Long, Long, Long)]
      var cur: Option[(Long, Long, Long)] =
        if (sess.exists()) Some(sess.get()) else None
      sorted.foreach { case (_, ts, _) =>
        cur = cur match {
          case Some((st, last, n)) if ts - last <= gapMs => Some((st, ts, n + 1))
          case Some((st, last, n)) =>
            out ::= (key, st / 1000, last / 1000, n)
            Some((ts, ts, 1L))
          case None => Some((ts, ts, 1L))
        }
      }
      cur.foreach { c =>
        sess.update(c)
        getHandle.listTimers().foreach(t =>
          getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(c._2 + gapMs)
      }
      out.reverse.iterator
    }
    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[(Long, Long, Long, Long)] = {
      if (!sess.exists()) return Iterator.empty
      val (st, last, n) = sess.get()
      if (expiredTimerInfo.getExpiryTimeInMs >= last + gapMs) {
        sess.clear()
        Iterator.single((key, st / 1000, last / 1000, n))
      } else Iterator.empty // stale timer from a since-extended session
    }
  }

  /** Timer-flushed sessions over the double-sentinel staged source
    * (sentinel batch #2 applies #1's watermark — timers then fire for
    * every still-open session; sentinel rows themselves advance the
    * watermark BEFORE the negative-id filter and match nothing).
    */
  def sessionFlushTws(spark: SparkSession, dir: String,
      sinkName: String): DataFrame = {
    import spark.implicits._
    // sentinel rows MUST flow through the watermark collector AND the
    // processor: a pre-processor `user_id >= 0` filter gets pushed
    // below EventTimeWatermark by Catalyst (user_id is not the
    // watermark column), silently freezing the watermark at real-data
    // time — observed as exactly the globally-latest session never
    // flushing. Negative sentinel keys just make their own sessions,
    // dropped at the sink side.
    val out = readEventsStream(spark, dir, oneFilePerTrigger = true)
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), expr("unix_micros(ts) div 1000").as("ts_ms"),
        col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionFlushProcessor(30L * 60 * 1000),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "sess_start_s", "sess_end_s", "n_events")
      .filter(col("user_id") >= 0)
    toMemory(out, sinkName, OutputMode.Append(), rocksDb = true)
  }

  /** Update-mode last-3-types changelog over the split multi-batch
    * source, collapsed to final state via the monotone `seen` counter.
    */
  def lastNTypesTws(spark: SparkSession, dir: String,
      sinkName: String): DataFrame = {
    import spark.implicits._
    val out = readEventsStream(spark, dir, oneFilePerTrigger = true)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new LastNTypesProcessor(3),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "seen", "last3")
    toMemory(out, sinkName, OutputMode.Update(), rocksDb = true)
      .groupBy(col("user_id"))
      .agg(max(col("seen")).as("n_events"),
        expr("max_by(last3, seen)").as("last3"))
  }

  /** transformWithState twin of [[statefulRunningCount]]. */
  def statefulRunningCountTws(spark: SparkSession, dir: String,
      sinkName: String): DataFrame = {
    import spark.implicits._
    val agg = readEventsStream(spark, dir)
      .select(col("user_id"), col("event_id"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RunningCountProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_events")
    toMemory(agg, sinkName, OutputMode.Update(), rocksDb = true)
  }

  /** Sliding 1h/30min per-user counts — each event contributes to
    * exactly size/slide = 2 overlapping windows; state is keyed by
    * (user, window) like tumbling, just 2× the window rows.
    */
  def sliding(spark: SparkSession, dir: String, sinkName: String): DataFrame = {
    val agg = readEventsStream(spark, dir)
      .groupBy(col("user_id"), window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("window.start").as("win_start"), col("n"))
    toMemory(agg, sinkName, OutputMode.Complete())
  }

  /** foreachBatch sink — the production streaming-ETL pattern: each
    * microbatch lands through arbitrary batch-writer code. Complete-mode
    * per-user totals are snapshotted with an idempotent overwrite (the
    * format-free equivalent of MERGE INTO keyed on user_id — reruns of a
    * batch id converge to the same table, which is what makes foreachBatch
    * exactly-once end to end). `outDir` is wiped first. Returns the
    * read-back of the final snapshot, so the whole write path is part of
    * the checked query.
    */
  def foreachBatchUpsert(spark: SparkSession, dir: String,
      outDir: String): DataFrame = {
    graft.deleteRecursively(java.nio.file.Paths.get(outDir))
    val agg = readEventsStream(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
    run(agg)(_.outputMode(OutputMode.Complete())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(outDir)
      })
    spark.read.parquet(outDir)
  }

  /** Streaming CDC upsert into the ACID lake table: per-user running
    * aggregates in UPDATE mode, each microbatch MERGEd by key into a
    * [[graft.lake.LakeTable]] inside foreachBatch — the production
    * streaming-MERGE pattern. Update mode emits only the groups a batch
    * changed, each carrying its full running total, so merging by key
    * converges to the complete aggregate no matter how the input is
    * batched — and a REPLAYED batch re-merges the same keys with the
    * same values, which is what makes the pattern idempotent
    * end-to-end. Every microbatch lands as one atomic table version
    * (readers see batch boundaries, never a torn batch). Input is
    * throttled to one file per trigger over the 2-file split staging,
    * so the run really exercises ≥2 merge commits.
    * Returns (final table read-back, committed version count).
    */
  def foreachBatchLakeMerge(spark: SparkSession, splitDir: String,
      tablePath: String): (DataFrame, Int) = {
    graft.deleteRecursively(java.nio.file.Paths.get(tablePath))
    def totals(df: DataFrame): DataFrame = df.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
    // v1 = the empty table, schema taken from the aggregate itself so
    // create/merge schemas agree by construction
    val t = graft.lake.LakeTable.create(spark, tablePath,
      totals(graft.Tables.normalizeEventsTs(
        graft.Tables.parquetCached(spark, splitDir))).limit(0),
      Seq("user_id"))
    run(totals(readEventsStream(spark, splitDir, oneFilePerTrigger = true)))(
      _.outputMode(OutputMode.Update())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // foreachBatch runs on the driver; each non-empty batch is one
          // atomic MERGE commit (empty batches would violate merge's
          // non-empty contract and have nothing to say anyway)
          if (!batch.isEmpty) { t.merge(batch, "user_id"); () }
        })
    (t.read(), t.currentVersion)
  }

  /** Exactly-once streaming APPEND into the lake table: each microbatch
    * lands via [[graft.lake.LakeTable.appendStream]], which records the
    * batch id in the manifest head under this query's app id
    * (`txns: {appId -> lastBatchId}`, the Delta SetTransaction shape) —
    * the transactional sink pattern, scoped so a second query appending
    * to the same table keeps its own ledger. After the run, the LAST
    * batch id is deliberately REPLAYED with recomputed (here: strictly
    * larger) data, simulating a sink retry after a crash between commit
    * and checkpoint: the table must recognize the id and skip, leaving
    * version and contents untouched. Returns (final read-back,
    * committed version count, replay-was-a-no-op).
    */
  def foreachBatchLakeAppend(spark: SparkSession, splitDir: String,
      tablePath: String): (DataFrame, Int, Boolean) = {
    graft.deleteRecursively(java.nio.file.Paths.get(tablePath))
    def shape(df: DataFrame): DataFrame =
      df.select(col("event_id"), col("user_id"), col("value"))
    val t = graft.lake.LakeTable.create(spark, tablePath,
      shape(graft.Tables.normalizeEventsTs(
        graft.Tables.parquetCached(spark, splitDir))).limit(0),
      Seq("event_id", "user_id"))
    run(shape(readEventsStream(spark, splitDir, oneFilePerTrigger = true)))(
      _.outputMode(OutputMode.Append())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          if (!batch.isEmpty) { t.appendStream(batch, "lake-append-demo", id); () }
        })
    val (vBefore, nBefore) = (t.currentVersion, t.read().count())
    t.appendStream(
      shape(graft.Tables.normalizeEventsTs(
        graft.Tables.parquetCached(spark, splitDir))),
      "lake-append-demo", t.lastStreamBatchId("lake-append-demo"))
    val skipped = t.currentVersion == vBefore && t.read().count() == nBefore
    (t.read(), vBefore, skipped)
  }

  /** Streaming INTO a lake base with a per-batch incremental
    * materialized-view refresh — the lakehouse "live aggregate"
    * pattern: each microbatch lands via the exactly-once appendStream
    * ledger, then [[graft.lake.LakeMv.refresh]] folds exactly that
    * batch's change-feed rows into the stored groups. Returns (final
    * MV read-back, every-refresh-scanned-exactly-its-batch,
    * refresh count). Values are pre-rounded to 2dp so the MV's DECIMAL
    * arithmetic is exact against any recompute order.
    */
  def foreachBatchLakeMv(spark: SparkSession, splitDir: String,
      basePath: String, mvPath: String): (DataFrame, Boolean, Int) = {
    graft.deleteRecursively(java.nio.file.Paths.get(basePath))
    graft.deleteRecursively(java.nio.file.Paths.get(mvPath))
    def shape(df: DataFrame): DataFrame =
      df.select(col("event_id"), col("user_id"),
        round(col("value"), 2).as("value"))
    val t = graft.lake.LakeTable.create(spark, basePath,
      shape(graft.Tables.normalizeEventsTs(
        graft.Tables.parquetCached(spark, splitDir))).limit(0),
      Seq("event_id", "user_id"))
    val mv = graft.lake.LakeMv.create(spark, mvPath, t, Seq("user_id"), "value")
    var deltaExact = true
    var refreshes = 0
    run(shape(readEventsStream(spark, splitDir, oneFilePerTrigger = true)))(
      _.outputMode(OutputMode.Append())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          if (!batch.isEmpty) {
            val n = batch.count()
            t.appendStream(batch, "lake-mv-demo", id)
            val scanned = mv.refresh()
            refreshes += 1
            deltaExact &&= scanned == n
            ()
          }
        })
    (mv.read(), deltaExact, refreshes)
  }

  /** Unbounded-source demo on the deterministic `rate-micro-batch`
    * source: batch 0 is exactly `rowsPerBatch` rows with values
    * 0..rowsPerBatch-1 at a fixed start timestamp, so a Trigger.Once run
    * is reproducible enough to oracle-check against generate_series.
    */
  def rateDemo(spark: SparkSession, rowsPerBatch: Int, sinkName: String): DataFrame = {
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch.toString)
      .option("startTimestamp", "0")
      .load()
    val agg = src
      .groupBy(pmod(col("value"), lit(10L)).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
    // deliberately the deprecated Once (not AvailableNow): the rate
    // source is unbounded, and Once is the API that pins the run to
    // EXACTLY one microbatch — the determinism the oracle needs
    toMemory(agg, sinkName, OutputMode.Complete(), Trigger.Once())
  }

  /** Arbitrary stateful op: running per-user event count via
    * mapGroupsWithState (state = count so far, emitted per batch).
    */
  def statefulRunningCount(spark: SparkSession, dir: String,
      sinkName: String): DataFrame = {
    import spark.implicits._
    val updateFn = (userId: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) => {
      val prev = state.getOption.getOrElse(0L)
      val total = prev + rows.size
      state.update(total)
      (userId, total)
    }
    val agg = readEventsStream(spark, dir)
      .select(col("user_id"), col("event_id"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(updateFn)
      .toDF("user_id", "n_events")
    toMemory(agg, sinkName, OutputMode.Update())
  }
}
