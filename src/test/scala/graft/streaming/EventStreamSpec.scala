package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkTestSession

/** Streaming surface: windowed aggregation parity with batch, and custom
  * sessionization state. Driven through MemoryStream micro-batches — the
  * standard Structured Streaming test harness.
  */
class EventStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ts(minute: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("streaming hourly aggregation over micro-batches equals the batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")

    val query = EventStream.hourlyAgg(events).writeStream
      .format("memory").queryName("hourly_test").outputMode("complete").start()
    try {
      input.addData((1L, ts(5), 1L, "click", 1.5), (2L, ts(10), 2L, "view", 2.0))
      query.processAllAvailable()
      input.addData((3L, ts(20), 1L, "click", 3.0))
      query.processAllAvailable()

      val streamed = spark.table("hourly_test")
        .select(col("event_type"), col("n"), col("total_value")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == Set(("click", 2L, 4.5), ("view", 1L, 2.0)))
    } finally query.stop()
  }

  test("the same hourlyAgg body runs in batch mode (mode-agnostic logical query)") {
    import spark.implicits._
    val batch = Seq(
      (1L, ts(5), 1L, "click", 1.5), (2L, ts(10), 2L, "view", 2.0), (3L, ts(20), 1L, "click", 3.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventStream.hourlyAgg(batch)
      .select(col("event_type"), col("n"), col("total_value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == Set(("click", 2L, 4.5), ("view", 1L, 2.0)))
  }

  test("streaming dedup drops repeated event_ids across micro-batches within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = EventStream.dedupEvents(events).writeStream
      .format("memory").queryName("dedup_test").outputMode("append").start()
    try {
      input.addData((1L, ts(0), 1L, "click", 1.0), (1L, ts(0), 1L, "click", 1.0), (2L, ts(1), 2L, "view", 2.0))
      query.processAllAvailable()
      input.addData((1L, ts(2), 1L, "click", 1.0), (3L, ts(3), 3L, "view", 3.0)) // id 1 repeats across batches
      query.processAllAvailable()
      val ids = spark.table("dedup_test").select("event_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally query.stop()
  }

  test("streaming at-least-once feed dedup equals the batch dedup-parity aggregates on real events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    // The catalog query's at-least-once feed (every 97th event re-delivered),
    // played in timestamp order across two micro-batches so some duplicates
    // arrive in a later batch than their original — the cross-batch state the
    // watermarked dedup exists to handle.
    val ev = graft.ops.Tables.events(spark, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val feed = ev.unionAll(ev.filter(col("event_id") % 97 === 0))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .sortBy(t => (t._2.getTime, t._1))
    assert(feed.length > ev.count(), "feed must contain injected duplicates")
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStream.dedupEvents(events).writeStream
      .format("memory").queryName("dedup_parity").outputMode("append").start()
    val streamed = try {
      val (a, b) = feed.splitAt(feed.length / 2)
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable()
      spark.table("dedup_parity").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_unique"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    } finally q.stop()
    val batch = graft.ops.MoreQueries.qStreamDedupParity(spark, d)
      .select(col("event_type"), col("n_unique"), col("total_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch, s"stream/batch dedup divergence: $streamed vs $batch")
  }

  test("streaming sessionization equals the batch window-function formulation on real events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // real sf0.001 events through the streaming sessionizer, one micro-batch
    // per day-ish slice, plus a far-future sentinel to flush all open
    // sessions via the watermark
    val events = graft.ops.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[EventStream.SessionInput]
      .collect().sortBy(_.ts.getTime)
    val input = MemoryStream[EventStream.SessionInput]
    val withWm = input.toDS().withWatermark("ts", "1 minute")
    val query = EventStream.sessionize(withWm).writeStream
      .format("memory").queryName("session_parity").outputMode("append").start()
    try {
      val (first, second) = events.splitAt(events.length / 2)
      input.addData(first.toSeq); query.processAllAvailable()
      input.addData(second.toSeq); query.processAllAvailable()
      val sentinelTs = new java.sql.Timestamp(events.last.ts.getTime + 10L * 24 * 3600 * 1000)
      input.addData(EventStream.SessionInput(-1L, sentinelTs, "sentinel")); query.processAllAvailable()
      input.addData(EventStream.SessionInput(-2L, sentinelTs, "sentinel2")); query.processAllAvailable()

      val streamed = spark.table("session_parity").as[EventStream.SessionOutput]
        .filter(col("user_id") >= 0)
        .collect().map(s => (s.user_id, s.n_events, math.round(s.duration_sec * 1000))).toSeq.sorted
      val batch = graft.ops.MoreQueries.qSessionizeBatch(spark, "/root/testdata/sf0.001")
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq.sorted
      assert(streamed.size == batch.size, s"session counts differ: ${streamed.size} vs ${batch.size}")
      assert(streamed == batch)
    } finally query.stop()
  }

  test("event-time sessionization: gap splits and watermark timeouts close sessions deterministically") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.SessionInput]
    val withWm = input.toDS().withWatermark("ts", "10 minutes")
    val query = EventStream.sessionize(withWm).writeStream
      .format("memory").queryName("session_test").outputMode("append").start()
    try {
      // batch 1: user 1 has two events 10 min apart; user 2 has one event
      input.addData(
        EventStream.SessionInput(1L, ts(0), "click"),
        EventStream.SessionInput(1L, ts(10), "view"),
        EventStream.SessionInput(2L, ts(5), "click"))
      query.processAllAvailable()
      assert(spark.table("session_test").count() == 0) // all sessions still open

      // batch 2: user 1 comes back 110 min later -> gap split closes session 1
      // and the watermark (12:00 - 10min) passes user 2's 10:35 deadline
      input.addData(EventStream.SessionInput(1L,
        java.sql.Timestamp.valueOf("2026-01-01 12:00:00"), "click"))
      query.processAllAvailable()
      // nudge batch so the just-advanced watermark fires user 2's timeout
      input.addData(EventStream.SessionInput(3L,
        java.sql.Timestamp.valueOf("2026-01-01 12:01:00"), "click"))
      query.processAllAvailable()

      val sessions = spark.table("session_test").as[EventStream.SessionOutput]
        .collect().map(s => (s.user_id, s.n_events, s.duration_sec)).toSet
      assert(sessions.contains((1L, 2L, 600.0)), s"gap-split session missing: $sessions") // 10:00-10:10
      assert(sessions.contains((2L, 1L, 0.0)), s"timeout session missing: $sessions")
    } finally query.stop()
  }

  test("stream-stream interval join equals its batch twin on the same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      // user 1: click at 10:00, purchase at 10:05 (join), purchase at 10:20 (15 min later: no join)
      (1L, ts(0), 1L, "click", 0.0), (2L, ts(5), 1L, "purchase", 9.99), (3L, ts(20), 1L, "purchase", 5.0),
      // user 2: purchase BEFORE its click -> no pair (interval is preceding-only)
      (4L, ts(2), 2L, "purchase", 1.0), (5L, ts(3), 2L, "click", 0.0),
      // user 3: two clicks in-window before one purchase -> two pairs
      (6L, ts(8), 3L, "click", 0.0), (7L, ts(9), 3L, "click", 0.0), (8L, ts(11), 3L, "purchase", 2.0))

    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = EventStream.purchaseClickJoinStream(events).writeStream
      .format("memory").queryName("sj_test").outputMode("append").start()
    val streamed = try {
      input.addData(rows.take(4))
      query.processAllAvailable()
      input.addData(rows.drop(4)) // join pairs across micro-batches
      query.processAllAvailable()
      spark.table("sj_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    } finally query.stop()

    val batch = EventStream.purchaseClickJoinBatch(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    assert(batch == Set((2L, 1L, 300000L), (8L, 6L, 180000L), (8L, 7L, 120000L)))
    assert(streamed == batch, s"stream/batch divergence: $streamed vs $batch")
  }

  test("the file-stream join runner equals the batch twin on the real events table") {
    val d = "/root/testdata/sf0.001"
    val events = graft.ops.Tables.events(spark, d)
    val work = java.nio.file.Files.createTempDirectory("join_stream_spec").toString
    val streamed = EventStream.runJoinFileStream(spark, events, work, slices = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streamed.length == streamed.toSet.size, "a pair surfaced twice")
    val batch = EventStream.purchaseClickJoinBatch(events)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty, "test premise: the fixture joins at least one pair")
    assert(streamed.toSet == batch, "stream/batch divergence on the real table")
  }

  test("the file-stream join runner buffers a click across a micro-batch boundary to meet its purchase") {
    import spark.implicits._
    // The event-time span is [minute 0, minute 25], so the 2-slice split
    // cuts at minute 12.5: user 1's click (minute 10, slice 0) and its
    // purchase (minute 14, slice 1) land in DIFFERENT micro-batches — the
    // pair can only surface through the symmetric join's state store. User
    // 2's pair sits inside slice 1 (same-batch matching), and user 3's
    // unmatched click proves non-pairs stay out.
    val rows = Seq(
      (1L, ts(0), 1L, "view", 0.0),       // span anchor, joins nothing
      (2L, ts(10), 1L, "click", 0.0),     // slice 0
      (3L, ts(14), 1L, "purchase", 1.0),  // slice 1 — cross-batch pair
      (4L, ts(16), 2L, "click", 0.0),     // slice 1
      (5L, ts(18), 2L, "purchase", 1.0),  // slice 1 — same-batch pair
      (6L, ts(25), 3L, "click", 0.0))     // unmatched
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val work = java.nio.file.Files.createTempDirectory("join_stream_cross_spec").toString
    val streamed = EventStream.runJoinFileStream(spark, ev, work, slices = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == Set((3L, 2L, 240000L), (5L, 4L, 120000L)))
  }

  test("the file-stream enrich runner equals the batch body row-for-row on the real events table") {
    val d = "/root/testdata/sf0.001"
    val events = graft.ops.Tables.events(spark, d)
    val dim = events.select(col("event_type")).distinct()
      .withColumn("weight", length(col("event_type")).cast("double") / lit(10.0))
    val work = java.nio.file.Files.createTempDirectory("enrich_stream_spec").toString
    val streamed = EventStream.runEnrichFileStream(spark, events, dim, work, slices = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(streamed.length == events.count(), "every event enriches exactly once")
    val batch = EventStream.enrichWithDim(events, dim)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(streamed.toSet == batch, "stream/batch divergence on the real table")
  }

  test("all four file-stream runners return empty (correctly-shaped) results on an empty corpus") {
    import spark.implicits._
    val empty = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val dim = Seq(("click", 0.5)).toDF("event_type", "weight")
    def work() = java.nio.file.Files.createTempDirectory("runner_empty_spec").toString
    val joined = EventStream.runJoinFileStream(spark, empty, work())
    assert(joined.count() == 0 &&
      joined.columns.toSeq == Seq("purchase_id", "click_id", "gap_ms"))
    val enriched = EventStream.runEnrichFileStream(spark, empty, dim, work())
    assert(enriched.count() == 0 &&
      enriched.columns.toSeq == Seq("event_id", "event_type", "weighted_value"))
    val hourly = EventStream.runHourlyFileStream(spark, empty, work())
    assert(hourly.count() == 0 &&
      hourly.columns.toSeq == Seq("window_start", "event_type", "n", "total_value"))
    val deduped = EventStream.runDedupFileStream(spark, empty, work())
    assert(deduped.count() == 0 &&
      deduped.columns.toSeq == Seq("user_id", "ts", "event_type", "event_id", "value"))
  }

  test("stream-static dimension enrichment equals its batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("click", 0.5), ("purchase", 10.0)).toDF("event_type", "weight")
    val rows = Seq(
      (1L, ts(0), 1L, "click", 2.0), (2L, ts(1), 1L, "purchase", 3.0),
      (3L, ts(2), 2L, "view", 4.0)) // 'view' missing from dim -> weight 0

    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStream.enrichWithDim(events, dim).writeStream
      .format("memory").queryName("enrich_test").outputMode("append").start()
    val streamed = try {
      input.addData(rows)
      q.processAllAvailable()
      spark.table("enrich_test").collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    } finally q.stop()

    val batch = EventStream.enrichWithDim(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"), dim)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    assert(batch == Set((1L, 1.0), (2L, 30.0), (3L, 0.0)))
    assert(streamed == batch)
  }

  test("file-based event stream picks up newly landed parquet files per micro-batch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("evt-drop").toString
    def land(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(dir)

    land(Seq((1L, ts(5), 1L, "click", 1.0), (2L, ts(10), 2L, "view", 2.0)))
    val q = EventStream.hourlyAgg(EventStream.readEventStream(spark, dir))
      .writeStream.format("memory").queryName("drop_test").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val first = spark.table("drop_test").select(sum(col("n"))).head().getLong(0)
      assert(first == 2)
      land(Seq((3L, ts(20), 1L, "click", 3.0))) // a new file lands
      q.processAllAvailable()
      val second = spark.table("drop_test").select(sum(col("n"))).head().getLong(0)
      assert(second == 3, "newly landed file not picked up")
    } finally q.stop()
  }

  test("staged streaming sink commits batches atomically and replays idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("staged-sink").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStream.committedParquetSink(input.toDF().toDF("id", "v"), dir)
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    // plant an unmarked batch dir (hard-kill mid-write) and a staging dir
    // left by a sink that staged and renamed
    for (name <- Seq("batch_99", ".staging_batch_99")) {
      val junk = new java.io.File(s"$dir/$name"); junk.mkdirs()
      java.nio.file.Files.writeString(junk.toPath.resolve("part-junk.parquet"), "not parquet")
    }
    val out = EventStream.readCommittedBatches(spark, dir)
    assert(out.count() == 3)
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // replayed batch: re-running batchId 0's commit must not duplicate
    val replay = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    graft.chunker.ChunkedRewrite.commit(replay, new org.apache.hadoop.fs.Path(s"$dir/batch_0"))
    assert(EventStream.readCommittedBatches(spark, dir).count() == 3) // still 3, no dupes
  }
}
