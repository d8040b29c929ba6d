package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.chunker.ChunkedRewrite

/** Structured Streaming surface over the events table: the same
  * transformations the batch catalog runs (CoreQueries.qEventsHourly),
  * expressed as streaming queries — `readStream` → watermark → windowed agg →
  * `writeStream`, plus custom sessionization state via
  * `flatMapGroupsWithState`.
  *
  * The reference has no streaming surface (SURVEY.md §1.1: time appears only
  * as wall-clock instrumentation); this module is part of the pipeline
  * extension mandate. Batch/stream parity is by construction: the windowed
  * aggregation body is shared, so one logical query runs in either mode —
  * Spark's unified Dataset API at work.
  */
object EventStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** File-based event stream: at scale this is the parquet/Kafka drop
    * directory; each micro-batch picks up newly-landed files. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Hourly tumbling-window counts/sums with a 2h watermark: late events
    * within the watermark update their window, older ones are dropped —
    * bounded state however long the stream runs. Works identically on a
    * batch DataFrame (then the watermark is a no-op). */
  def hourlyAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total_value"))

  /** Streaming exact dedup: drop repeated event_ids with bounded state —
    * the watermark ages out ids older than the lateness bound, so state is
    * O(events per watermark window), not O(stream). The streaming face of
    * the batch `dropDuplicates`/hash-groupBy dedup in ops/Dedup. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join body: each purchase pairs with the same
    * user's clicks in the PRECEDING 10 minutes. Shared by the streaming
    * query (both sides watermarked below) and the batch catalog twin
    * (`q_interval_join` in ops) — one logical join, two execution modes.
    * Gap math on exact epoch-millis longs. */
  def purchaseClickJoinBody(purchases: DataFrame, clicks: DataFrame): DataFrame =
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ms") <= col("p_ms") &&
        col("click_ms") >= col("p_ms") - lit(10 * 60 * 1000L))
      .select(col("purchase_id"), col("click_id"), (col("p_ms") - col("click_ms")).as("gap_ms"))

  private def purchaseSide(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        unix_millis(col("ts")).as("p_ms"), col("event_id").as("purchase_id"))

  private def clickSide(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        unix_millis(col("ts")).as("click_ms"), col("event_id").as("click_id"))

  /** Batch mode: same join body, no watermarks needed. */
  def purchaseClickJoinBatch(events: DataFrame): DataFrame =
    purchaseClickJoinBody(purchaseSide(events), clickSide(events))

  /** Streaming mode: both sides carry watermarks and the join predicate
    * carries the event-time interval, so Spark can age out buffered rows —
    * state is O(events per watermark window), the ONLY way a stream-stream
    * join survives an unbounded stream.
    *
    * The interval is expressed on the WATERMARKED timestamp columns
    * (`c_ts`/`p_ts`), not the derived epoch-millis longs: a range condition
    * on a derived column carries no watermark metadata, so the symmetric
    * hash join could not compute a state watermark and would buffer both
    * sides forever (correct output, unbounded state). The millis columns
    * exist only for the exact integer gap output. Semantically identical to
    * [[purchaseClickJoinBody]]: `unix_millis` is an exact per-row map, so
    * `click_ms <= p_ms  ⇔  c_ts <= p_ts` — a spec asserts row parity. */
  def purchaseClickJoinStream(events: DataFrame): DataFrame =
    purchaseSide(events).withWatermark("p_ts", "1 hour")
      .join(clickSide(events).withWatermark("c_ts", "1 hour"),
        col("p_user") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES"))
      .select(col("purchase_id"), col("click_id"), (col("p_ms") - col("click_ms")).as("gap_ms"))

  /** Stream-static dimension enrichment: each micro-batch joins against a
    * STATIC (batch) dimension — Spark re-plans the static side per batch,
    * so a broadcast hash join runs inside every micro-batch with no
    * streaming state at all. The standard shape for decorating an event
    * stream with slowly-changing reference data; identical code enriches
    * a batch DataFrame (spec asserts parity). */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("event_type"), "left")
      .select(col("event_id"), col("event_type"),
        (col("value") * coalesce(col("weight"), lit(0.0))).as("weighted_value"))

  /** Streaming sink with the same per-unit commit as
    * chunker.ChunkedRewrite: each micro-batch is written straight into a
    * batchId-keyed directory, then its commit marker is written last.
    * Because the directory is keyed by batchId, a REPLAYED batch (failure
    * between sink write and offset commit — the at-least-once window of
    * foreachBatch) overwrites the same directory instead of appending
    * duplicates: idempotence makes the sink effectively exactly-once.
    * [[readCommittedBatches]] never observes a partial batch; a batch
    * being replayed is absent for the length of its write. */
  def committedParquetSink(df: DataFrame, outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      ChunkedRewrite.commit(batch, new org.apache.hadoop.fs.Path(s"$outDir/batch_$batchId"))
    }.start()

  /** Read every committed (marked) batch back as one DataFrame; an empty
    * frame when no batch has committed. */
  def readCommittedBatches(spark: SparkSession, outDir: String): DataFrame =
    ChunkedRewrite.readMarked(spark, outDir, "batch_")

  final case class SessionInput(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class SessionState(nEvents: Long, firstTs: Long, lastTs: Long)
  final case class SessionOutput(user_id: Long, n_events: Long,
      first_ms: Long, last_ms: Long, duration_sec: Double)

  private val SessionGapMs: Long = 30 * 60 * 1000L

  /** Shared staging for the file-stream runners: cut `ev` (must carry
    * `user_id` and `ts`; extra columns ride along) into `slices`
    * CONTIGUOUS event-time ranges, one parquet file each, landed with
    * strictly increasing modification times, followed by the two
    * sentinel batches (watermark advance at +40 min, then the batch in
    * which event-time timeouts fire). Sentinel rows take nulls in any
    * extra column and negative user_ids. One partitioned write stages
    * everything; the rename loop pins deterministic names and mod times
    * (the file source orders its backlog by mod time, so batch order is
    * a property of the data, not of staging-job wall-clock).
    * Returns the data's latest event time (epoch ms) and the staged files'
    * schema, or None when `ev` is empty. */
  private[streaming] def stageEventTimeSlices(s: SparkSession, ev: DataFrame, workDir: String,
      slices: Int, sentinelOffsetsMin: (Int, Int) = (40, 80)): Option[Staged] = {
    import s.implicits._
    val hconf = s.sparkContext.hadoopConfiguration
    val stagePath = new org.apache.hadoop.fs.Path(s"$workDir/stage")
    val fs = stagePath.getFileSystem(hconf)
    fs.mkdirs(stagePath)
    val bounds = ev.agg(min(unix_millis(col("ts"))).as("mn"), max(unix_millis(col("ts"))).as("mx")).head()
    if (bounds.isNullAt(0)) return None
    val (minMs, maxMs) = (bounds.getLong(0), bounds.getLong(1))
    val span = maxMs - minMs + 1
    // Sentinel offsets scale with the consumer's watermark delay: the
    // default (+40/+80 min) suits the sessionize/funnel 30-minute horizon;
    // the hourly runner passes offsets past its 2-hour delay + 1-hour
    // window so the fire batch's watermark clears every data window.
    val sentinels = Seq(
      (-1L, new java.sql.Timestamp(maxMs + sentinelOffsetsMin._1 * 60 * 1000L), "sentinel_wm", slices),
      (-2L, new java.sql.Timestamp(maxMs + sentinelOffsetsMin._2 * 60 * 1000L), "sentinel_fire", slices + 1)
    ).toDF("user_id", "ts", "event_type", "slice")
    val tmp = new org.apache.hadoop.fs.Path(s"$workDir/.stage_tmp")
    val staged = ev.withColumn("slice", ((unix_millis(col("ts")) - minMs) * slices / span).cast("int"))
      .unionByName(sentinels, allowMissingColumns = true)
    staged.repartition(slices + 2, col("slice"))
      .write.mode("overwrite").partitionBy("slice").parquet(tmp.toString)
    val mtimeBase = 1600000000000L
    (0 until slices + 2).foreach { i =>
      val dirP = new org.apache.hadoop.fs.Path(tmp, s"slice=$i")
      // An event-time range with no events stages nothing — legal (one
      // fewer micro-batch); the sentinel slices are non-empty by
      // construction.
      if (fs.exists(dirP)) {
        val part = fs.listStatus(dirP)
          .find(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file staged for slice $i"))
        val dest = new org.apache.hadoop.fs.Path(stagePath, s"slice_$i.parquet")
        if (!fs.rename(part.getPath, dest))
          throw new java.io.IOException(s"stage rename failed for $dest")
        fs.setTimes(dest, mtimeBase + i * 60000L, -1)
      }
    }
    fs.delete(tmp, true)
    Some(Staged(maxMs, StructType(staged.schema.filterNot(_.name == "slice"))))
  }

  private[streaming] final case class Staged(maxMs: Long, schema: StructType)

  /** Drain the slices staged under `workDir` through `query` as one bounded
    * stream ([[StreamTuning.runBounded]]) into the parquet sink
    * `workDir/sink`, and read that sink back. */
  private def drainStaged(s: SparkSession, workDir: String, staged: Staged, sink: String)(
      query: DataFrame => Dataset[_]): DataFrame = {
    StreamTuning.runBounded(s, s"$workDir/stage", staged.schema, s"$workDir/ckpt") { src =>
      query(src).writeStream.format("parquet").option("path", s"$workDir/$sink")
    }
    s.read.parquet(s"$workDir/$sink")
  }

  /** Run [[hourlyAgg]] — the watermarked tumbling-window aggregation — as
    * a REAL file-stream query over the given events relation and return
    * the accumulated window sink. Append mode emits a window only once
    * the watermark passes its end, so the staging sentinels matter here:
    * they ride at +200/+260 minutes (past the 2-hour watermark delay plus
    * the 1-hour window width) and flow through the WHOLE aggregation.
    * Filtering them inside the stream does not work: Catalyst pushes a
    * non-event-time predicate below the EventTimeWatermark node, so the
    * watermark never sees them (measured — the last three data windows
    * never closed). Instead they form their own sentinel-typed windows,
    * which end beyond the final watermark and therefore never emit, and
    * the sink readback filters the type as belt-and-suspenders — the
    * fire batch finalizes every data window.
    * Decimal-exact sums inside streaming state, same body as the
    * batch twin, so the catalog entry `q_stream_hourly_parity` shares the
    * batch oracle — a real-stream run, not a batch-body stand-in. */
  def runHourlyFileStream(s: SparkSession, eventsDf: DataFrame, workDir: String,
      slices: Int = 3): DataFrame = {
    import s.implicits._
    val ev = eventsDf.select(col("user_id"), col("ts"), col("event_type"), col("value"))
    stageEventTimeSlices(s, ev, workDir, slices, sentinelOffsetsMin = (200, 260)) match {
      case None => Seq.empty[(java.sql.Timestamp, String, Long, Double)]
        .toDF("window_start", "event_type", "n", "total_value")
      case Some(staged) => drainStaged(s, workDir, staged, "hourly")(hourlyAgg)
        .filter(!col("event_type").startsWith("sentinel"))
    }
  }

  /** Run [[dedupEvents]] — watermarked exactly-once dedup of an
    * at-least-once feed — as a REAL file-stream query and return the
    * surviving rows. dropDuplicatesWithinWatermark emits each first-seen
    * event_id immediately (no window to close), so no sentinel tuning is
    * needed; duplicates share their original's event time, hence always
    * arrive inside the lateness bound. Sentinels carry null event_ids and
    * are filtered after the watermark node. */
  def runDedupFileStream(s: SparkSession, feedDf: DataFrame, workDir: String,
      slices: Int = 3): DataFrame = {
    import s.implicits._
    val ev = feedDf.select(col("user_id"), col("ts"), col("event_type"),
      col("event_id"), col("value"))
    stageEventTimeSlices(s, ev, workDir, slices) match {
      case None => Seq.empty[(Long, java.sql.Timestamp, String, Long, Double)]
        .toDF("user_id", "ts", "event_type", "event_id", "value")
      case Some(staged) => drainStaged(s, workDir, staged, "unique") { src =>
        src.withWatermark("ts", "1 hour")
          .filter(col("user_id") >= 0)
          .dropDuplicatesWithinWatermark("event_id")
      }
    }
  }

  /** Run [[enrichWithDim]] — stream-static dimension enrichment — as a
    * REAL file-stream query over the given events relation and return the
    * accumulated enriched sink. The streaming shape under test is the
    * stream-STATIC join: Spark re-plans the static side inside every
    * micro-batch, so a broadcast hash join runs per batch with ZERO
    * streaming state — no watermark, no state store, nothing to evict.
    * Enrichment is a per-row map, so stream output equals the batch body
    * on the same rows for any slicing (the catalog entry
    * `q_stream_enrich_parity` rolls both up to the same per-type
    * aggregates and shares one DuckDB oracle). The staging sentinels carry
    * null event_ids and are filtered on readback. Like every runner here
    * it is sized: it runs at the backlog-derived width
    * ([[StreamTuning.partitionsFor]]), which sizes the per-batch join. */
  def runEnrichFileStream(s: SparkSession, eventsDf: DataFrame, dim: DataFrame,
      workDir: String, slices: Int = 3): DataFrame = {
    import s.implicits._
    val ev = eventsDf.select(col("user_id"), col("ts"), col("event_type"),
      col("event_id"), col("value"))
    stageEventTimeSlices(s, ev, workDir, slices) match {
      case None => Seq.empty[(Long, String, Double)].toDF("event_id", "event_type", "weighted_value")
      case Some(staged) => drainStaged(s, workDir, staged, "enriched")(enrichWithDim(_, dim))
        .filter(col("event_id").isNotNull)
    }
  }

  /** Run [[purchaseClickJoinStream]] — the stream-stream interval join —
    * as a REAL file-stream query over the given events relation and return
    * the accumulated pair sink. Staging is [[stageEventTimeSlices]]: the
    * events are cut into contiguous event-time slices, one micro-batch
    * each, so a click and its purchase can land in DIFFERENT micro-batches
    * and the join's symmetric state buffering is genuinely exercised (a
    * click buffers in the state store until its purchase's batch arrives).
    *
    * Why the result is complete for ANY slice count: an INNER stream-stream
    * join emits a pair in the micro-batch where its second side arrives —
    * emission never waits on the watermark (the watermark only bounds state
    * EVICTION). The interval condition requires `c_ts <= p_ts`, and slices
    * are contiguous in event time, so a pair's click always arrives in an
    * earlier-or-equal batch than its purchase and is still buffered when
    * the purchase lands: eviction drops a click only once the watermark
    * passes `c_ts + 10 min`, and the watermark trails the maximum seen
    * event time by a full hour, by which point every purchase that could
    * pair with it (`p_ts <= c_ts + 10 min < watermark`) has already been
    * processed. The sentinel slices ride along but carry null event_ids and
    * non-purchase/click event types, so they join nothing.
    *
    * Hence stream output == the batch twin ([[purchaseClickJoinBatch]],
    * catalog `q_interval_join`) EXACTLY, and the catalog entry
    * `q_stream_join_parity`'s DuckDB oracle is the SAME SQL — the oracle
    * checks stream/batch parity, not just the rows. */
  def runJoinFileStream(s: SparkSession, eventsDf: DataFrame, workDir: String,
      slices: Int = 3): DataFrame = {
    import s.implicits._
    val ev = eventsDf.select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
    stageEventTimeSlices(s, ev, workDir, slices) match {
      case None => Seq.empty[(Long, Long, Long)].toDF("purchase_id", "click_id", "gap_ms")
      case Some(staged) => drainStaged(s, workDir, staged, "pairs")(purchaseClickJoinStream)
    }
  }

  /** Run [[sessionize]] as a REAL file-stream query over the given events
    * relation and return the closed sessions as a batch DataFrame.
    *
    * Staging: the events are cut into `slices` CONTIGUOUS event-time ranges
    * (equal spans of [min ts, max ts] — a distributed projection, no global
    * sort), one parquet file per slice, landed with strictly increasing
    * modification times so the file source replays them oldest-first (the
    * file source orders by mod time; relying on write-order wall-clock would
    * make slice order — and therefore watermark-lateness — a race). Two
    * sentinel batches follow the data: the first advances the watermark past
    * every session's 30-minute deadline, the second is the batch in which
    * those event-time timeouts actually fire (timeouts are evaluated against
    * the watermark computed at the END of the previous batch). Sentinel rows
    * use negative user_ids and are filtered from the result.
    *
    * Because slices are contiguous in event time, a user's events arrive
    * across batches in nondecreasing ts order, so no row is ever late
    * against the 1-minute watermark, and a session that times out between
    * batches would have been split by the very gap that let the watermark
    * pass its deadline — which is why stream output equals the batch
    * window-function formulation EXACTLY for any slice count (spec-proven;
    * the staging here is the test harness's stand-in for a Kafka topic or a
    * file-drop directory — at scale only this staging changes, not the
    * query). */
  def runSessionizeFileStream(s: SparkSession, eventsDf: DataFrame, workDir: String,
      slices: Int = 3): DataFrame = {
    import s.implicits._
    val ev = eventsDf.select(col("user_id"), col("ts"), col("event_type"))
    stageEventTimeSlices(s, ev, workDir, slices) match {
      // no events → no sessions, matching the batch twin on the same input
      case None => Seq.empty[(Long, Long, Long, Long, Double)]
        .toDF("user_id", "n_events", "first_ms", "last_ms", "duration_sec")
      case Some(staged) => drainStaged(s, workDir, staged, "sessions") { src =>
        sessionize(src.withWatermark("ts", "1 minute").as[SessionInput])
      }.filter(col("user_id") >= 0)
    }
  }

  /** Custom per-user sessionization via flatMapGroupsWithState with
    * EVENT-time timeouts: a session closes after 30 minutes of event-time
    * inactivity, detected either by a later event from the same user (gap
    * split) or by the watermark passing the session's deadline (timeout).
    *
    * Event time, not processing time, on purpose: results are deterministic
    * and replayable from the log (a backfill produces identical sessions),
    * and the engine only runs batches when data/watermark move — a
    * processing-time timeout forces continuous empty micro-batches. State is
    * a few longs per ACTIVE user: O(active users), not O(events).
    *
    * Input must carry a watermark on `ts` (see the spec for the standard
    * `withWatermark("ts", ...)` wiring).
    */


  def sessionize(events: Dataset[SessionInput]): Dataset[SessionOutput] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOutput](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[SessionInput], state: GroupState[SessionState]) =>
          def close(s: SessionState): SessionOutput =
            SessionOutput(userId, s.nEvents, s.firstTs, s.lastTs,
              (s.lastTs - s.firstTs) / 1000.0)

          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(close(s))
          } else {
            val closed = List.newBuilder[SessionOutput]
            var current = state.getOption
            rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val t = e.ts.getTime
              current match {
                case Some(s) if t - s.lastTs > SessionGapMs =>
                  closed += close(s)
                  current = Some(SessionState(1, t, t))
                case Some(s) =>
                  current = Some(SessionState(s.nEvents + 1, s.firstTs min t, s.lastTs max t))
                case None =>
                  current = Some(SessionState(1, t, t))
              }
            }
            current.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + SessionGapMs)
            }
            closed.result().iterator
          }
      }
  }

  // -----------------------------------------------------------------------
  // Streaming funnel: the ordered view → click → purchase matcher
  // (MoreQueries.qFunnelSteps) as a REAL stateful streaming query. State is
  // three epoch-micro stage timestamps per ACTIVE user — O(users), never
  // O(events). Unlike sessionize, a funnel stage is never "closed" by a
  // quiet gap: the state must survive to end-of-stream, so the event-time
  // timeout is pinned at a FIXED flush deadline past the data's maximum
  // event time (passed in by the runner) rather than trailing the user's
  // last event — a trailing deadline would flush mid-stream users whose
  // next event is far away, double-emitting them.
  // -----------------------------------------------------------------------
  final case class FunnelInput(user_id: Long, ts: java.sql.Timestamp,
      event_type: String, event_id: java.lang.Long)
  /** Stage timestamps in epoch MICROS (-1 = not reached). Micros, not
    * millis: the batch twin compares full microsecond timestamps, and two
    * events 500 µs apart must not collapse into a tie here. */
  final case class FunnelState(t1: Long, t2: Long, t3: Long)
  final case class FunnelOutput(user_id: Long, t1: Long, t2: Long, t3: Long)

  private def epochMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** In-batch tie key matching the batch windows' `orderBy(ts, event_id)`
    * default NULLS FIRST exactly: null ids sort before EVERY real id —
    * including negative ones, which the previous -1 sentinel collided
    * with. Residual caveat (documented, not fixable with a Long key): a
    * REAL id of Long.MinValue itself would tie with null — that one value
    * is reserved, vs. the whole negative range before. */
  private def nullsFirstId(id: java.lang.Long): Long =
    Option(id).map(_.toLong).getOrElse(Long.MinValue)

  /** The strictly-after stage fold, as a pure function of a TIME-ORDERED
    * (micros, event_type) sequence resuming from `s` — property-pinned
    * (FunnelFoldProps) against the declarative definition (first view,
    * min later click, min later-still purchase), which is what makes the
    * incremental cross-batch replay provably equal to the batch window. */
  private[streaming] def foldFunnel(s0: FunnelState,
      ordered: Iterable[(Long, String)]): FunnelState = {
    var s = s0
    ordered.foreach { case (m, tpe) =>
      tpe match {
        case "view" if s.t1 < 0 => s = s.copy(t1 = m)
        case "click" if s.t2 < 0 && s.t1 >= 0 && m > s.t1 => s = s.copy(t2 = m)
        case "purchase" if s.t3 < 0 && s.t2 >= 0 && m > s.t2 => s = s.copy(t3 = m)
        case _ =>
      }
    }
    s
  }

  def funnelStages(events: Dataset[FunnelInput], flushAtMs: Long): Dataset[FunnelOutput] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOutput](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[FunnelInput], state: GroupState[FunnelState]) =>
          if (userId < 0) {
            // Sentinel groups exist only to advance the watermark; giving
            // them state would set a timeout already behind the watermark
            // in the fire batch (rejected by the state store).
            Iterator.empty
          } else if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(FunnelOutput(userId, s.t1, s.t2, s.t3))
          } else {
            var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
            // Slices are contiguous in event time, so cross-batch arrival is
            // already time-ordered per user; the in-batch sort by
            // (micros, event_id) completes the same total order the batch
            // window uses. The strictly-after fold is then exactly the
            // batch semantics: first view, first later click, first
            // later-still purchase.
            s = foldFunnel(s, rows.toSeq
              .sortBy(e => (epochMicros(e.ts), nullsFirstId(e.event_id)))
              .map(e => (epochMicros(e.ts), e.event_type)))
            state.update(s)
            state.setTimeoutTimestamp(flushAtMs)
            Iterator.empty
          }
      }
  }

  // -----------------------------------------------------------------------
  // Streaming transition matrix: the third stateful shape after sessionize
  // (gap-closed state) and the funnel (end-of-stream flush) — INCREMENTAL
  // EMISSION: each arriving event pairs with the user's stored previous
  // event type and emits one transition immediately; state is one string
  // per active user and never needs a timeout (nothing is withheld, so
  // there is nothing to flush — a production deployment would still expire
  // idle users' state with a timeout to bound the store).
  // -----------------------------------------------------------------------
  final case class TransInput(user_id: Long, ts: java.sql.Timestamp,
      event_type: String, event_id: java.lang.Long)
  final case class TransState(lastType: String)
  final case class TransOutput(user_id: Long, event_type: String, next_type: String)

  /** The per-batch transition fold as a pure function of a TIME-ORDERED
    * type sequence resuming from `prev`: every arriving event pairs with
    * the carried previous type. Property-pinned (FunnelFoldProps) to the
    * chunked-replay law — emitting per chunk with the carried state equals
    * the whole-sequence pairwise zip — which is exactly the boundary-pair
    * correctness the cross-batch stream depends on. */
  private[streaming] def foldTransitions(prev: Option[String],
      ordered: Seq[String]): (Seq[(String, String)], Option[String]) = {
    val all = prev.toSeq ++ ordered
    (all.zip(all.drop(1)), all.lastOption)
  }

  def transitionStream(events: Dataset[TransInput]): Dataset[TransOutput] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransOutput](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[TransInput], state: GroupState[TransState]) =>
          if (userId < 0) Iterator.empty
          else {
            val ordered = rows.toSeq
              .sortBy(e => (epochMicros(e.ts), nullsFirstId(e.event_id)))
              .map(_.event_type)
            val (emitted, last) = foldTransitions(state.getOption.map(_.lastType), ordered)
            last.foreach(p => state.update(TransState(p)))
            emitted.iterator.map { case (a, b) => TransOutput(userId, a, b) }
          }
      }
  }

  /** [[transitionStream]] with an idle-user TTL — the deployment shape.
    * The NoTimeout variant's state grows with distinct-users-EVER; this one
    * expires a user once the event-time watermark passes `idleTtlMs` past
    * their last event, so the store stays O(users active within the
    * horizon). Semantics of expiry: a user who returns AFTER the horizon
    * starts fresh — the boundary pair (last-before-idle → first-after-idle)
    * is NOT emitted, which is the intended reading (separate visits that
    * far apart are separate behavioral sessions, the same judgment the
    * sessionize operator's gap rule makes).
    *
    * Guarantee (spec-pinned, TransitionTtlSpec): a pair whose gap is
    * ≤ idleTtlMs is ALWAYS emitted — expiry fires when the watermark
    * passes last+ttl, and the watermark trails the maximum event time
    * seen, so a return event inside the horizon always lands before its
    * user's timeout can fire. Past the horizon, expiry is best-effort
    * (watermark granularity), exactly like every watermark-based eviction
    * in this module: state may briefly outlive the horizon, never the
    * reverse.
    *
    * The timeout timestamp clamps to watermark+1: a late-arriving group
    * whose last+ttl already trails the watermark must still set a LEGAL
    * timeout (Spark rejects timestamps at or behind the watermark), and
    * "expire at the next opportunity" is the correct reading for a user
    * already idle past the horizon. */
  def transitionStreamTtl(events: Dataset[TransInput], idleTtlMs: Long): Dataset[TransOutput] = {
    require(idleTtlMs > 0, "idleTtlMs must be positive")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransOutput](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[TransInput], state: GroupState[TransState]) =>
          if (userId < 0) Iterator.empty // watermark sentinels carry no state
          else if (state.hasTimedOut) {
            // Transitions are emitted incrementally, so expiry withholds
            // nothing — it only drops the carried lastType.
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq
              .sortBy(e => (epochMicros(e.ts), nullsFirstId(e.event_id)))
            val (emitted, last) = foldTransitions(
              state.getOption.map(_.lastType), sorted.map(_.event_type))
            last.foreach(p => state.update(TransState(p)))
            val lastMs = Math.floorDiv(epochMicros(sorted.last.ts), 1000L)
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1, lastMs + idleTtlMs))
            emitted.iterator.map { case (a, b) => TransOutput(userId, a, b) }
          }
      }
  }

  /** Run [[transitionStream]] (or, with `idleTtlMs`, [[transitionStreamTtl]])
    * over the staged file stream and return every emitted transition as a
    * batch frame. The catalog parity entry passes no TTL — its oracle is the
    * full lead-window matrix; deployments pass a horizon. */
  def runTransitionFileStream(s: SparkSession, eventsDf: DataFrame, workDir: String,
      slices: Int = 3, idleTtlMs: Option[Long] = None): DataFrame = {
    import s.implicits._
    val ev = eventsDf.select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
    stageEventTimeSlices(s, ev, workDir, slices) match {
      case None => Seq.empty[(Long, String, String)].toDF("user_id", "event_type", "next_type")
      case Some(staged) => drainStaged(s, workDir, staged, "transitions") { src =>
        val events = src.withWatermark("ts", "1 minute").as[TransInput]
        idleTtlMs.fold(transitionStream(events))(transitionStreamTtl(events, _))
      }.filter(col("user_id") >= 0)
    }
  }

  /** Run [[funnelStages]] as a file-stream query over the given events
    * relation (same staging harness as [[runSessionizeFileStream]]) and
    * return each real user's final stage timestamps as a batch frame. */
  def runFunnelFileStream(s: SparkSession, eventsDf: DataFrame, workDir: String,
      slices: Int = 3): DataFrame = {
    import s.implicits._
    val ev = eventsDf.select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
    stageEventTimeSlices(s, ev, workDir, slices) match {
      case None => Seq.empty[(Long, Long, Long, Long)].toDF("user_id", "t1", "t2", "t3")
      // Flush deadline: past every data event, before the +40 min sentinel's
      // watermark — so every user times out exactly once, in the fire batch.
      case Some(staged) => drainStaged(s, workDir, staged, "funnel") { src =>
        funnelStages(src.withWatermark("ts", "1 minute").as[FunnelInput], staged.maxMs + 30 * 60 * 1000L)
      }.filter(col("user_id") >= 0)
    }
  }

}
