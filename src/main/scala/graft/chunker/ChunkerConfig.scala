package graft.chunker

/** Inclusive id-range chunk: `end - start + 1` ids wide.
  *
  * Mirrors the reference's `[start, end]` unit of work
  * (reference: lib/DBIx/BatchChunker.pm:1185-1199,
  * lib/DBIx/BatchChunker/LoopState.pm:109-139). All id math is `BigInt` from
  * the start — the reference's dual int/Math::BigInt mode
  * (lib/DBIx/BatchChunker.pm:739-804, exercised with 41-digit ids by
  * t/big-id.t) collapses to always-big in Scala with no measurable cost on
  * the driver-side control plane.
  */
final case class Chunk(start: BigInt, end: BigInt) {
  require(end >= start, s"Chunk end $end < start $start")
  def width: BigInt = end - start + 1

  /** `template` with `{start}`/`{end}` replaced by this chunk's bounds — the
    * stand-in for the reference's `BETWEEN ? AND ?` binds
    * (lib/DBIx/BatchChunker.pm:116-131). */
  def fill(template: String): String =
    template.replace("{start}", start.toString).replace("{end}", end.toString)
}

object Chunk {

  /** `size`-wide chunks from `min`, the last cut at `max`: the engine's walk
    * with resizing off, as a pure function, so a resumed run replans the
    * same boundaries. Empty when `min > max`. */
  def fixedPlan(min: BigInt, max: BigInt, size: BigInt): Vector[Chunk] =
    Iterator.iterate(min)(_ + size).takeWhile(_ <= max).map(s => Chunk(s, (s + size - 1).min(max))).toVector
}

/** Tuning attributes of the chunk loop, mirroring the reference's attribute
  * surface (reference: lib/DBIx/BatchChunker.pm:492-737) with the same
  * defaults:
  *
  * @param chunkSize        ids per chunk before runtime targeting ramps it
  *                         (default 1, ramps up: lib/DBIx/BatchChunker.pm:547-563)
  * @param targetTime       target seconds per chunk; 0 disables runtime
  *                         targeting (lib/DBIx/BatchChunker.pm:579-589)
  * @param sleep            seconds to pause between chunks, letting the
  *                         source system breathe (lib/DBIx/BatchChunker.pm:596-614).
  *                         Default 0.5 in the reference; we keep it for parity
  *                         but most Spark workloads want 0. Only the sequential
  *                         loop sleeps: planning passes and the fixed-size
  *                         parallel paths (`foreachChunkPar`, `readChunked`,
  *                         `executeChunkedDmlPar`) never do.
  * @param maxRuntime       total wall-clock budget in seconds; loop exits
  *                         early and remains resumable (lib/DBIx/BatchChunker.pm:616-634)
  * @param minChunkPercent  chunk density band [p, 1+p]·chunkSize; <=0 disables
  *                         count-based resizing (lib/DBIx/BatchChunker.pm:679-710)
  * @param processPastMax   re-check MAX(id) when the last chunk is reached, to
  *                         catch concurrent inserts (lib/DBIx/BatchChunker.pm:636-655)
  * @param retryAttempts    per-chunk retry budget; the reference uses
  *                         BlockRunner with max_attempts 10 when retry opts are
  *                         given (lib/DBIx/BatchChunker.pm:277-280), else no retry
  * @param retryOn          which failures are worth a retry — the analogue of
  *                         the reference's `retry_handler` / `dbic_retry_opts`
  *                         classification hook (lib/DBIx/BatchChunker.pm:236-288,
  *                         where the DBIC path retries only storage-level
  *                         exceptions by default). Default `NonFatal`: fatal
  *                         JVM errors (OutOfMemoryError, LinkageError) and
  *                         `InterruptedException` (a cancelled run) propagate
  *                         on the FIRST failure instead of burning the budget
  *                         on a doomed or cancelled chunk. Narrow it further
  *                         (e.g. to SQLTransientException) when only specific
  *                         failures are known-transient
  * @param verbose          per-chunk status lines (lib/DBIx/BatchChunker.pm:414-424)
  * @param log              sink for status/progress lines
  * @param stateDir         opt-in to cross-process resume, the persisted form
  *                         of the reference's `min_id = prev_end` write-back
  *                         (lib/DBIx/BatchChunker.pm:1228). ChunkedRewrite and
  *                         journaled `JdbcBatch.executeChunkedDml` resume from
  *                         their own commit records and write nothing here;
  *                         elsewhere the engine persists its resume point here
  *                         per committed chunk ([[ResumeState]]), and
  *                         [[BatchChunker.resumeFrom]] reads it back
  */
final case class ChunkerConfig(
    chunkSize: BigInt = BigInt(1),
    targetTime: Double = 5.0,
    sleep: Double = 0.5,
    maxRuntime: Option[Double] = None,
    minChunkPercent: Double = 0.5,
    processPastMax: Boolean = false,
    retryAttempts: Int = 1,
    verbose: Boolean = false,
    progressName: String = "Processing",
    log: String => Unit = s => System.err.println(s),
    stateDir: Option[String] = None,
    retryOn: Throwable => Boolean = scala.util.control.NonFatal.apply
) {
  require(chunkSize >= 1, "chunkSize must be >= 1")
  require(targetTime >= 0, "targetTime must be >= 0")
  require(sleep >= 0, "sleep must be >= 0")
  require(minChunkPercent < 1.0, "minChunkPercent must be < 1")
  require(retryAttempts >= 1, "retryAttempts must be >= 1")
  require(maxRuntime.forall(_ >= 0), "maxRuntime must be >= 0")
  // Same footgun warning as the reference (lib/DBIx/BatchChunker.pm:931-938):
  // disabling runtime targeting with the default chunk size of 1 means one
  // action per id, forever.
  if (targetTime == 0 && chunkSize == BigInt(1))
    log("WARNING: target_time is disabled but chunk_size is still at its default of 1; " +
      "this results in one chunk per id, which is probably not what you want")

  /** This config without a state file, for runs whose resume point lives
    * elsewhere (a commit record). */
  private[graft] def withoutStateFile: ChunkerConfig =
    if (stateDir.isEmpty) this else copy(stateDir = None)

  /** For entry points that plan every chunk up front ([[Chunk.fixedPlan]]):
    * adaptive resizing is sequential by nature. */
  private[graft] def requireFixedSize(caller: String): Unit =
    require(targetTime == 0 && minChunkPercent <= 0,
      s"$caller plans every chunk up front: it needs targetTime = 0 and minChunkPercent <= 0")
}

/** What happened to one chunk — collected into an [[ExecutionReport]].
  * `count` is the count-probe result (None when counting is disabled/DIY).
  */
final case class ChunkOutcome(
    chunk: Chunk,
    count: Option[BigInt],
    action: String, // "processed" | "skipped" | "skipped-journal" | "aborted"
    runtime: Double,
    chunkSizeAtRun: BigInt
)

/** Summary of one `execute()` run; mirrors what the reference's tests
  * introspect via instrumented callbacks (SURVEY.md §5).
  */
final case class ExecutionReport(
    outcomes: Vector[ChunkOutcome],
    finishedRange: Boolean, // false when maxRuntime stopped us early
    finalMinId: Option[BigInt], // resumability write-back (lib/DBIx/BatchChunker.pm:1228)
    maxIdSeen: Option[BigInt]
) {
  def processed: Vector[ChunkOutcome] = outcomes.filter(_.action == "processed")
  def skipped: Vector[ChunkOutcome] = outcomes.filter(_.action == "skipped")

  /** Chunks whose DML body was NOT executed because their journal row was
    * already committed (a lost-ack retry or a prior process of the same
    * run_id — see `JdbcBatch.executeChunkedDml`'s `commitLog`). Distinct
    * from [[processed]] so an operator auditing an exactly-once resume can
    * tell replayed-and-skipped from executed: `processed` ++ `skipped*`
    * together tile the keyspace the loop walked. */
  def skippedJournal: Vector[ChunkOutcome] = outcomes.filter(_.action == "skipped-journal")
}
