package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.streaming.StreamingJobs

case class Ev(event_id: Long, ts: Timestamp, user_id: Long)

/** §2.9 streaming semantics: stream results equal batch twins; watermarks
  * drop late data; session windows, dedup, and arbitrary state work.
  */
class StreamingSpec extends AnyFunSuite {
  import SparkFixture._

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  /** File streaming sources require a directory; stage the single events
    * parquet file into one.
    */
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_stream_events")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf, "events.parquet"),
      dir.resolve("events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("stream_tumbling equals its oracle-checked batch twin") {
    val streamed = StreamingJobs.tumbling(spark, eventsDir, "st_tumbling_spec")
      .select("user_id", "win_start", "n", "sum_value").collect().toSet
    val batch = SparkEntry.queries("stream_tumbling_batch")(spark, sf)
      .collect().toSet
    assert(streamed === batch)
  }

  test("stream_session equals batch session_window on the same data") {
    val streamed = StreamingJobs.sessionWindows(spark, eventsDir, "st_session_spec")
      .collect().toSet
    val batch = Tables.events(spark, sf)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("n"))
      .collect().toSet
    assert(streamed === batch)
    // session invariant: total events preserved
    val total = streamed.toSeq.map(_.getAs[Long]("n")).sum
    assert(total === Tables.events(spark, sf).count())
  }

  test("watermark drops events later than 10 minutes behind max ts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamingJobs.watermarkedTumblingQuery(ms.toDF(), "st_watermark_spec")
    try {
      // batch 1: three events in the 10:00 window
      ms.addData(Ev(1, t("2024-01-01 10:00:00"), 7), Ev(2, t("2024-01-01 10:10:00"), 7),
        Ev(3, t("2024-01-01 10:20:00"), 7))
      q.processAllAvailable()
      // batch 2: advance watermark far past the 10:00 window's end
      ms.addData(Ev(4, t("2024-01-01 12:00:00"), 7))
      q.processAllAvailable()
      // batch 3: a late event for the (closed) 10:00 window — must be dropped
      ms.addData(Ev(5, t("2024-01-01 10:05:00"), 7))
      q.processAllAvailable()
      // batch 4: flush
      ms.addData(Ev(6, t("2024-01-01 13:30:00"), 7))
      q.processAllAvailable()
      val rows = spark.table("st_watermark_spec")
        .collect().map(r => (r.getAs[Timestamp]("win_start").toString, r.getAs[Long]("n"))).toMap
      assert(rows.get("2024-01-01 10:00:00.0").contains(3L),
        s"late event must not be counted: $rows")
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event_ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamingJobs.streamingDedupQuery(ms.toDF(), "st_dedup_spec")
    try {
      ms.addData(Ev(1, t("2024-01-01 10:00:00"), 1), Ev(1, t("2024-01-01 10:00:00"), 1),
        Ev(2, t("2024-01-01 10:01:00"), 1))
      q.processAllAvailable()
      ms.addData(Ev(2, t("2024-01-01 10:01:00"), 1), Ev(3, t("2024-01-01 10:02:00"), 1))
      q.processAllAvailable()
      val ids = spark.table("st_dedup_spec").collect().map(_.getAs[Long]("event_id")).toSeq
      assert(ids.sorted === Seq(1L, 2L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("stream-stream join emits only same-user pairs inside the 10-min bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = StreamingJobs.clickPurchaseJoin(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("st_ssjoin_spec")
      .outputMode("append").start()
    try {
      // batch 1: u7 click at 10:00 → purchase 10:05 matches
      clicks.addData(Ev(1, t("2024-01-01 10:00:00"), 7))
      purchases.addData(Ev(101, t("2024-01-01 10:05:00"), 7))
      q.processAllAvailable()
      // batch 2: purchase 10:30 is outside 10 min of the click; a
      // different user's purchase at a matching time must not pair
      purchases.addData(Ev(102, t("2024-01-01 10:30:00"), 7),
        Ev(103, t("2024-01-01 10:02:00"), 8))
      q.processAllAvailable()
      // batch 3: a second click right before an existing purchase —
      // state from earlier purchases must still be joinable
      clicks.addData(Ev(2, t("2024-01-01 10:28:00"), 7))
      q.processAllAvailable()
      val pairs = spark.table("st_ssjoin_spec").collect()
        .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"))).toSet
      assert(pairs === Set((1L, 101L), (2L, 102L)), s"got $pairs")
    } finally q.stop()
  }

  test("mapGroupsWithState running count matches batch counts") {
    val streamed = StreamingJobs.statefulRunningCount(spark, eventsDir, "st_state_spec")
    // keep the last emitted count per user (Update mode may emit per batch)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(desc("n_events"))
    val finalCounts = streamed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("user_id", "n_events")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, sf).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalCounts === batch)
  }

  test("transformWithState running count matches the mapGroupsWithState twin") {
    val streamed = StreamingJobs.statefulRunningCountTws(spark, eventsDir, "st_tws_spec")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(desc("n_events"))
    val finalCounts = streamed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("user_id", "n_events")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, sf).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalCounts === batch)
  }

  test("multi-batch tumbling run executes >= 2 real microbatches and converges to the batch agg") {
    val splitDir = graft.streaming.StreamingDeclared.stagedEventsSplitDir(spark, sf)
    val (sink, batches) =
      StreamingJobs.tumblingMultiBatch(spark, splitDir, "st_tumbling_2b_spec")
    // the whole point: the state store was updated incrementally across
    // at least two non-empty microbatches (one per staged file)
    assert(batches >= 2, s"expected >= 2 non-empty microbatches, saw $batches")
    val streamed = sink
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    val batch = Tables.events(spark, sf)
      .groupBy(col("user_id"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("window.start"), col("n"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("rate-micro-batch demo aggregates exactly batch 0 (values 0..9999)") {
    val out = StreamingJobs.rateDemo(spark, 10000, "st_rate_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.length === 10)
    assert(out.forall(_._2 === 1000L))
    // bucket b holds b, b+10, ..., b+9990: sum = 1000*b + 10*(0+..+999)
    assert(out.forall { case (b, _, s) => s === 1000L * b + 10L * (999L * 1000L / 2) })
  }

  test("stream-stream LEFT OUTER join flushes watermark-gated null rows") {
    val out = SparkEntry.queries("stream_stream_outer")(spark, sf)
    val nulls = out.filter(col("purchase_id").isNull).count()
    val matched = out.filter(col("purchase_id").isNotNull).count()
    // real outer semantics: unmatched clicks surface as null rows, and
    // the inner pairs agree with the inner-join streaming query
    assert(nulls > 0, "no outer null rows flushed — watermark gating broke")
    val inner = SparkEntry.queries("stream_stream_join")(spark, sf).count()
    assert(matched === inner, s"outer matched $matched != inner $inner")
    // every click appears at least once (left-preserving)
    val clicks = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "click").count()
    assert(out.select(col("click_id")).distinct().count() === clicks)
  }

  test("repeated streaming keys replace their sink views and work directories") {
    val keys = Seq("stream_tumbling", "stream_foreachbatch", "stream_state_reader")
    val rt = new java.io.File(System.getProperty("java.io.tmpdir"), "graft_rt")
    def footprint(): (Int, Int) = (
      spark.catalog.listTables().collect().count(_.isTemporary),
      Option(rt.list()).fold(0)(_.length))
    def runAll(): Unit = keys.foreach(k => SparkEntry.queries(k)(spark, sf).collect())
    runAll()
    val first = footprint()
    runAll()
    assert(footprint() === first, "(temp views, graft_rt entries) after run 1 vs run 2")
  }

  test("the streaming workload's keys leave the session conf as they found it") {
    // a fresh session: the shared one already carries what earlier specs set
    val s = spark.newSession()
    val before = s.conf.getAll
    Seq("stream_stream_full_outer", "stream_stream_outer", "stream_tumbling", "stream_dedup",
      "stream_static_join", "stream_stateful", "stream_foreachbatch")
      .foreach(k => SparkEntry.queries(k)(s, sf).collect())
    assert(s.conf.getAll === before)
  }

  test("multi-file streaming keys keep their microbatch counts") {
    // one file per trigger: 2 split files, 4 sentinel-staged files, and
    // one microbatch for a single staged file
    val expected =
      Seq("stream_tumbling_2batch", "stream_map_state", "stream_last_n_state",
        "stream_update_mode", "lake_stream_merge", "lake_stream_append",
        "lake_stream_mv").map(_ -> 2) ++
      Seq("stream_timer_sessions", "stream_stream_outer",
        "stream_stream_full_outer").map(_ -> 4) :+
      ("stream_tumbling" -> 1)
    object counts extends StreamingQueryListener {
      val started = collection.mutable.Set[java.util.UUID]()
      val ended = collection.mutable.Set[java.util.UUID]()
      var nonEmpty = 0
      def reset(): Unit = synchronized { started.clear(); ended.clear(); nonEmpty = 0 }
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        synchronized { started += e.runId }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        synchronized { if (e.progress.numInputRows > 0) nonEmpty += 1 }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        synchronized { ended += e.runId }
    }
    spark.streams.addListener(counts)
    try {
      val seen = expected.map { case (k, _) =>
        counts.reset()
        SparkEntry.queries(k)(spark, sf)
        // a query's progress events reach the listener before its
        // termination event
        eventually(timeout(30.seconds), interval(50.millis)) {
          counts.synchronized {
            assert(counts.started.nonEmpty && counts.ended == counts.started, k)
          }
        }
        k -> counts.synchronized(counts.nonEmpty)
      }
      assert(seen === expected)
    } finally spark.streams.removeListener(counts)
  }
}
