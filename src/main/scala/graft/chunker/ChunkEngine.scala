package graft.chunker

import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import scala.collection.mutable.ArrayBuffer

/** Where the engine learns about the keyspace it is chunking.
  *
  * The reference discovers ranges through one of three backends (DBIC
  * ResultSetColumn, DBIC storage + SQL, DBI connector + SQL — reference:
  * lib/DBIx/BatchChunker.pm:1019-1093); in Spark-land all of them collapse to
  * "run an aggregate over the id column", so one small trait suffices. Each
  * method is a Spark *action* in the DataFrame binding.
  */
trait RangeSource {
  def minId(): Option[BigInt]
  def maxId(): Option[BigInt]
}

/** The chunk loop, ported 1:1 from the reference's `execute`
  * (lib/DBIx/BatchChunker.pm:1143-1236) with the full adaptive machinery:
  *
  *  - count-probe + decision ladder (`_chunk_count_checker`,
  *    lib/DBIx/BatchChunker.pm:1475-1570)
  *  - bisection multiplier search ([[LoopState.increaseMultiplier]] /
  *    [[LoopState.decreaseMultiplier]], LoopState.pm:219-245)
  *  - runtime targeting (`_runtime_checker`, lib/DBIx/BatchChunker.pm:1581-1655)
  *  - `process_past_max` live-max re-check (lib/DBIx/BatchChunker.pm:1394-1460)
  *  - max-runtime budget + resumability (lib/DBIx/BatchChunker.pm:1203-1206, 1228)
  *
  * Deliberately sequential: the whole point of chunked batching is bounding
  * the blast radius of each unit of work (locks, replica lag, memory), so the
  * loop itself must not be parallelized — parallelism lives *inside* each
  * chunk's Spark action, which fans out across executors.
  *
  * This class has zero Spark dependencies; [[graft.chunker.BatchChunker]]
  * binds it to DataFrames. `countProbe` is the per-chunk `COUNT(*)`
  * (lib/DBIx/BatchChunker.pm:1256-1289); None disables density-based resizing
  * exactly like a missing `count_stmt`/`count_rs`.
  *
  * `countWindow`, when set, answers the probe from a [[CountWindow]]: one
  * grouped scan loads exact per-id counts for a few chunk widths ahead, and
  * later rungs and chunks are looked up in it until a probe falls outside.
  * Only a live `countProbe` may skip a block: a window that says 0 is
  * confirmed live first, so rows that appeared since the load are never
  * skipped. Load time counts as planning, not as COUNT or chunk runtime.
  *
  * @param markTimerOnDispatch the reference resets the chunk timer when the
  *   real work starts for statement/resultset dispatch, but NOT for DIY
  *   dispatch (lib/DBIx/BatchChunker.pm:1304-1380) — so DIY runtimes include
  *   the count-probe time. Preserved for parity.
  */
final class ChunkEngine(
    val cfg: ChunkerConfig,
    source: Option[RangeSource] = None,
    countProbe: Option[(BigInt, BigInt) => BigInt] = None,
    clock: Clock = SystemClock,
    countWindow: Option[CountWindow.Loader] = None
) {
  var minId: Option[BigInt] = None
  var maxId: Option[BigInt] = None

  /** Most ids one window load may return. */
  private[chunker] var windowCap: Int = CountWindow.Cap
  private var window: Option[CountWindow] = None

  /** Exposed for introspection mid-run, like the reference's `loop_state`
    * attribute (lib/DBIx/BatchChunker.pm:467-483). */
  var loopState: Option[LoopState] = None

  private val intFmt = java.text.NumberFormat.getIntegerInstance(java.util.Locale.US)

  /** Port of `calculate_ranges` (lib/DBIx/BatchChunker.pm:1019-1093): resolve
    * `[minId, maxId]` from the source; false (and no range set) on an empty
    * keyspace.
    */
  def calculateRanges(): Boolean = source match {
    case None => false
    case Some(s) =>
      (s.minId(), s.maxId()) match {
        case (Some(mn), Some(mx)) =>
          minId = Some(mn); maxId = Some(mx); true
        case _ => false
      }
  }

  private def ceil(bd: BigDecimal): BigInt =
    bd.setScale(0, BigDecimal.RoundingMode.CEILING).toBigInt

  private sealed trait PastMax
  private case object Proceed extends PastMax
  private case object NothingLeft extends PastMax

  /** Main loop. `process` receives each final (possibly resized) chunk;
    * failures are retried up to `cfg.retryAttempts` times with the chunk
    * timer reset per attempt (parity with reference retry semantics at
    * lib/DBIx/BatchChunker.pm:1309, 1319 — a failed chunk restarts whole,
    * which is what makes single-row dispatch retry-safe, t/dbic.t:461-502).
    */
  def execute(process: Chunk => Unit, markTimerOnDispatch: Boolean = true): ExecutionReport =
    executeLabelled(c => { process(c); "processed" }, markTimerOnDispatch)

  /** [[execute]] with a `process` that returns the chunk's outcome action,
    * such as "skipped-journal" for a chunk whose work was already committed. */
  private[graft] def executeLabelled(process: Chunk => String, markTimerOnDispatch: Boolean = true): ExecutionReport = {
    val outcomes = ArrayBuffer.empty[ChunkOutcome]
    val count = for { mn <- minId; mx <- maxId } yield mx - mn + 1
    // count <= 0 happens when a persisted resume point sits past maxId (the
    // previous run finished) or a caller set min > max by hand; either way
    // the keyspace holds nothing to do.
    if (count.forall(_ <= 0)) {
      cfg.log("No chunks; nothing to process...")
      return ExecutionReport(Vector.empty, finishedRange = true, minId, maxId)
    }
    if (cfg.verbose) {
      val totalChunks = ceil(BigDecimal(count.get) / BigDecimal(cfg.chunkSize))
      cfg.log(s"(${intFmt.format(totalChunks)} total chunks; ${intFmt.format(count.get)} total ids)")
    }

    val ls = new LoopState(cfg.chunkSize, clock)
    loopState = Some(ls)
    window = None // a window from an earlier run may be stale
    var finished = true
    var done = false

    // Loop condition port: first chunk || mid-resize || more ids remain
    // (lib/DBIx/BatchChunker.pm:1180-1184).
    while (!done && (ls.prevEnd.isEmpty || ls.start.isDefined || ls.prevEnd.get < maxId.get)) {
      ls.multiplierRange = ls.multiplierRange + ls.multiplierStep

      if (ls.start.isEmpty)
        ls.start = Some(ls.prevEnd.map(_ + 1).orElse(minId).getOrElse(BigInt(1)))

      // ceil: multiplier can be fractional mid-bisection
      ls.end = (ls.start.get + ceil(ls.multiplierRange * BigDecimal(ls.chunkSize)) - 1).min(maxId.get)
      ls.chunkCount = None

      if (cfg.maxRuntime.exists(mr => clock.now() - ls.totalTimer > mr)) {
        cfg.log("Ran past the maximum run time")
        finished = false
        done = true
      } else {
        processPastMaxChecker(ls) match {
          case NothingLeft => done = true
          case Proceed =>
            processBlock(ls, process, markTimerOnDispatch, outcomes).foreach { action =>
              ls.prevRuntime = Some(clock.now() - ls.chunkTimer)
              if (cfg.sleep > 0) clock.sleep(cfg.sleep)
              outcomes += ChunkOutcome(Chunk(ls.start.get, ls.end), ls.chunkCount,
                action, ls.prevRuntime.get, ls.chunkSize)
              printChunkStatus(ls, action)
              runtimeChecker(ls)
              ls.resetChunkState()
              persistResume(ls)
            }
        }
      }
    }

    // Resumability: a re-run picks up where this one stopped
    // (lib/DBIx/BatchChunker.pm:1228).
    if (ls.prevEnd.isDefined) minId = ls.prevEnd
    ExecutionReport(outcomes.toVector, finished, minId, maxId)
  }

  /** Persist the resume point after a committed/skipped block. Errors are
    * NOT swallowed: a resume point that silently stops updating is worse
    * than a failed run (the operator believes the job is restartable). */
  private def persistResume(ls: LoopState): Unit =
    for (dir <- cfg.stateDir; pe <- ls.prevEnd) ResumeState.write(dir, pe)

  /** Port of `_process_past_max_checker` (lib/DBIx/BatchChunker.pm:1394-1460).
    * One deviation, documented: the reference's "no max found" branch returns
    * control to a loop that cannot make progress (the condition that produces
    * it — a live table going empty mid-run — leaves `start` defined forever);
    * we terminate the run instead.
    */
  private def processPastMaxChecker(ls: LoopState): PastMax = {
    if (!cfg.processPastMax) return Proceed
    if (ls.end < maxId.get) return Proceed

    source match {
      case None =>
        // DIY with no max source: no way to size this; blindly add one more
        // chunk past max (lib/DBIx/BatchChunker.pm:1402-1407).
        ls.end = maxId.get + ls.chunkSize
        Proceed
      case Some(s) =>
        if (cfg.verbose) cfg.log("Reached end; re-checking max ID")
        val newMax = s.maxId()
        ls.markChunkTimer() // the max query shouldn't impact runtimes
        newMax match {
          case None =>
            cfg.log("No max ID found; nothing left to process...")
            ls.end = maxId.get
            ls.prevCheck = "no max"
            NothingLeft
          case Some(nm) =>
            if (nm > maxId.get) {
              if (cfg.verbose) cfg.log(s"New max ID set from ${maxId.get} to $nm")
              maxId = Some(nm)
            } else if (cfg.verbose) {
              if (nm == maxId.get) cfg.log(s"Found max ID $nm; same as end")
              else cfg.log(s"Found max ID $nm; ignoring...")
            }
            ls.end = ls.end.min(maxId.get)
            Proceed
        }
    }
  }

  /** Port of `_process_block` (lib/DBIx/BatchChunker.pm:1247-1383): count
    * probe, decision ladder, then the dispatch wrapped in the retry loop.
    * Returns the dispatched block's action; None when it was not dispatched.
    */
  private def processBlock(
      ls: LoopState,
      process: Chunk => String,
      markTimerOnDispatch: Boolean,
      outcomes: ArrayBuffer[ChunkOutcome]
  ): Option[String] = {
    countProbe.foreach(probe => ls.chunkCount = Some(probeCount(ls, probe)))
    if (!chunkCountChecker(ls, outcomes)) None
    else Some(withRetry(() => process(Chunk(ls.start.get, ls.end)), ls, markTimerOnDispatch))
  }

  /** The block's row count: from the window when one covers it, else live.
    * A window's 0 is confirmed live whenever it would skip the block; a live
    * answer that disagrees drops the stale window. */
  private def probeCount(ls: LoopState, probe: (BigInt, BigInt) => BigInt): BigInt = {
    val (s, e) = (ls.start.get, ls.end)
    def live(): BigInt = withRetry(() => probe(s, e), ls, markTimer = false)
    windowFor(ls, s, e) match {
      case Some(w) =>
        val n = w.count(s, e)
        if (n != 0 || cfg.minChunkPercent <= 0) n
        else {
          val c = live()
          if (c != 0) window = None
          c
        }
      case None => live()
    }
  }

  /** A window covering `[s, e]`, loading one starting at `s` if the current
    * one does not. The load's time is moved out of the chunk timer, the way
    * the max re-check's is: it is planning for several chunks ahead. */
  private def windowFor(ls: LoopState, s: BigInt, e: BigInt): Option[CountWindow] =
    countWindow.flatMap { load =>
      val hi = CountWindow.plannedHi(s, e, maxId.get)
      if (!window.exists(_.covers(s, e)) && hi >= e) {
        val t0 = clock.now()
        val rows = withRetry(() => load(s, hi, windowCap), ls, markTimer = false)
        window = Some(CountWindow(s, hi, windowCap, rows))
        ls.chunkTimer += clock.now() - t0
      }
      window.filter(_.covers(s, e))
    }

  private def withRetry[A](f: () => A, ls: LoopState, markTimer: Boolean): A =
    retrying("Chunk") {
      if (markTimer) ls.markChunkTimer() // reset timer on each (re)try
      f()
    }

  /** The engine's retry policy (budget `cfg.retryAttempts`, classification
    * `cfg.retryOn`) applied to an arbitrary action. Public so the per-run
    * STARTUP work — range discovery, a journal high-water-mark probe —
    * enjoys the same budget as the chunks themselves: the reference wraps
    * its whole run in `DBIx::Connector::Retry->run` (reference
    * lib/DBIx/BatchChunker.pm:236-288), so a DB that flaps twice while a
    * run is starting up must not kill a job whose per-chunk path would
    * have survived ten attempts.
    */
  def retrying[A](what: String)(f: => A): A = ChunkEngine.retrying(cfg, what, aborted = false)(f)

  /** Port of `_chunk_count_checker` (lib/DBIx/BatchChunker.pm:1475-1570) —
    * the decision ladder. Returns true when the block should be processed.
    */
  private def chunkCountChecker(ls: LoopState, outcomes: ArrayBuffer[ChunkOutcome]): Boolean = {
    if (cfg.minChunkPercent <= 0 || ls.chunkCount.isEmpty) {
      ls.prevCheck = "disabled"
      return true
    }
    val chunkCount = ls.chunkCount.get
    val chunkPercent = (BigDecimal(chunkCount) / BigDecimal(ls.chunkSize)).toDouble
    val countCheckTime = clock.now() - ls.chunkTimer // only the COUNT so far
    ls.checkedCount += 1

    if (chunkCount == 0) {
      // No rows: skip the block entirely and accelerate the stepping
      // (gap acceleration, lib/DBIx/BatchChunker.pm:1490-1502)
      outcomes += ChunkOutcome(Chunk(ls.start.get, ls.end), ls.chunkCount, "skipped", 0.0, ls.chunkSize)
      printChunkStatus(ls, "skipped")
      val step = ls.multiplierStep
      ls.resetChunkState()
      persistResume(ls) // an empty block is covered ground — resumable past it
      ls.multiplierStep = step * 2
      ls.prevCheck = "skipped rows"
      false
    } else if (ls.end - ls.start.get <= 0) {
      // Down to a single id: we HAVE to process it
      ls.prevCheck = "at a single ID"
      if (chunkCount > 1) {
        cfg.log("WARNING: Processing a single ID with many rows attached because resizing cannot proceed any further.")
        cfg.log("Consider flipping the relationship so that IDs and row counts are 1:1.")
      }
      true
    } else if (chunkPercent > 1 + cfg.minChunkPercent) {
      // Too many rows: backtrack and bisect down
      printChunkStatus(ls, "shrunk")
      ls.markChunkTimer()
      ls.decreaseMultiplier()
      ls.prevCheck = "too many rows"
      false
    } else if (cfg.targetTime > 0 && countCheckTime > cfg.targetTime * 1.05) {
      // COUNT itself too slow: backtrack and bisect down
      cfg.log(f"WARNING: COUNT statement was too slow; took $countCheckTime%5.2f sec to return ${intFmt.format(chunkCount)} rows.")
      printChunkStatus(ls, "shrunk")
      ls.markChunkTimer()
      ls.decreaseMultiplier()
      ls.prevCheck = "COUNT too slow"
      false
    } else if (ls.checkedCount > 10) {
      ls.prevCheck = "too many checks"
      true
    } else if (ls.end >= maxId.get) {
      ls.prevCheck = "at max_id"
      true
    } else if (chunkPercent < cfg.minChunkPercent) {
      // Too few rows: keep the start id, accelerate toward a better endpoint
      printChunkStatus(ls, "expanded")
      ls.markChunkTimer()
      ls.increaseMultiplier()
      ls.prevCheck = "too few rows"
      false
    } else {
      ls.prevCheck = "nothing wrong"
      true
    }
  }

  /** Port of `_runtime_checker` (lib/DBIx/BatchChunker.pm:1581-1655): keep
    * per-chunk latency near `targetTime` by scaling `chunkSize`, growing
    * cautiously (all of the last 5 runs under target, at most 2x, timings
    * reset after growth so it never snowballs) and shrinking readily.
    */
  private def runtimeChecker(ls: LoopState): Unit = {
    if (cfg.targetTime == 0) return
    if (ls.chunkSize == 0 || !ls.prevRuntime.exists(_ > 0)) return // prevent div/0

    // Perl-truthiness parity: a chunk_count of 0/undef falls back to chunk_size
    val effCount = ls.chunkCount.filter(_ != 0).getOrElse(ls.chunkSize)
    ls.lastTimings += Timing(ls.prevRuntime.get, effCount, ls.chunkSize)
    if (ls.lastTimings.size > 5) ls.lastTimings.remove(0)

    val timings = ls.lastTimings
    val avgRowtime = timings.map(_.rowtime).sum / timings.size
    val adjustFactor = cfg.targetTime / avgRowtime

    var newSize = BigDecimal(ls.chunkSize)
    var adjective = ""
    if (adjustFactor > 1.05) {
      // Too fast: raise the chunk size, carefully
      if (timings.size < 5) return
      if (timings.exists(_.runtime >= cfg.targetTime)) return
      newSize *= math.min(2.0, adjustFactor)
      adjective = "fast"
    } else if (adjustFactor < 0.95) {
      // Too slow: lower the chunk size
      if (!(ls.prevRuntime.get > cfg.targetTime)) return
      val factor =
        if (ls.prevRuntime.get < cfg.targetTime * 3) math.max(0.5, adjustFactor)
        else adjustFactor // way off: unbounded shrink
      newSize *= factor
      if (newSize < 1) newSize = BigDecimal(1)
      adjective = "slow"
    } else return

    val truncated = newSize.toBigInt // int-truncate, like the reference
    if (truncated == ls.chunkSize || truncated < 1) return

    if (cfg.verbose)
      cfg.log(f"Processing too $adjective, avg ${100.0 / adjustFactor}%.0f%% of target time, " +
        s"adjusting chunk size from ${intFmt.format(ls.chunkSize)} to ${intFmt.format(truncated)}")

    ls.chunkSize = truncated
    if (adjective == "fast") ls.resetLastTimings() // never snowball too quickly
  }

  /** Per-chunk status line, equivalent of `_print_chunk_status`
    * (lib/DBIx/BatchChunker.pm:1681-1745), extended with the progress-bar
    * information the reference renders via Term::ProgressBar
    * (`_increment_progress`, lib/DBIx/BatchChunker.pm:1663-1671): percent of
    * the id-space covered (`so_far = end - min_id + 1`) and a linear ETA. */
  private def printChunkStatus(ls: LoopState, action: String): Unit = {
    if (!cfg.verbose) return
    // Big-id rendering parity (lib/DBIx/BatchChunker.pm:1696-1741): when
    // start/end reach 1e9 the reference stops applying the CLDR
    // thousands-separators, and above 1e9 it single-spaces the whole line
    // so 41-digit BigInt ids don't blow out the column layout.
    val start = ls.start.getOrElse(BigInt(0))
    val oneB = BigInt(1000000000)
    val seps = start < oneB && ls.end < oneB
    val squeeze = start > oneB || ls.end > oneB
    def num(n: BigInt): String = if (seps) intFmt.format(n) else n.toString
    val countStr = ls.chunkCount.map(num).getOrElse("?")
    val pctStr = ls.chunkCount
      .map(c => f"${(BigDecimal(c) / BigDecimal(ls.chunkSize)).toDouble * 100}%.1f%%")
      .getOrElse("?")
    val rt = action match {
      case "processed" => f"${ls.prevRuntime.getOrElse(0.0)}%.2f sec runtime"
      case _           => ""
    }
    val progress = (for { mn <- minId; mx <- maxId } yield {
      val total = BigDecimal(mx - mn + 1)
      val soFar = BigDecimal((ls.end - mn + 1).min(mx - mn + 1)).max(0)
      val frac = (soFar / total).toDouble
      val elapsed = clock.now() - ls.totalTimer
      val eta = if (frac > 0 && frac < 1) f", ETA ${elapsed / frac - elapsed}%.0f sec" else ""
      f" [${cfg.progressName} ${frac * 100}%.1f%%$eta]"
    }).getOrElse("")
    val line = (s"IDs ${num(start)} to ${num(ls.end)} " +
      s"$action, $countStr rows found ($pctStr of chunk size) $rt").trim + progress
    cfg.log(if (squeeze) line.replaceAll("\\s+", " ").replaceAll("\\(\\s+", "(") else line)
  }
}

object ChunkEngine {

  /** Thrown in place of an attempt once a parallel run is poisoned. */
  private object Aborted extends scala.util.control.ControlThrowable

  /** The one retry loop behind every dispatch path. `aborted` is checked
    * before each attempt; once it holds, the loop throws [[Aborted]], which
    * is neither retried nor logged as a retry. */
  private def retrying[A](cfg: ChunkerConfig, what: String, aborted: => Boolean)(f: => A): A = {
    var attempt = 0
    var result: Option[A] = None
    while (result.isEmpty) {
      if (aborted) throw Aborted
      attempt += 1
      try result = Some(f)
      catch {
        // A failure only earns a retry when the budget allows AND the
        // failure class is retryable (cfg.retryOn, default NonFatal) — the
        // reference's retry_handler classification hook
        // (lib/DBIx/BatchChunker.pm:236-288). Retrying an OutOfMemoryError
        // or a cancellation burns the budget on a doomed run and masks the
        // real failure.
        case e: Throwable if attempt < cfg.retryAttempts && cfg.retryOn(e) =>
          cfg.log(s"$what attempt $attempt/${cfg.retryAttempts} failed, retrying: ${e.getMessage}")
      }
    }
    result.get
  }

  /** Runs a fixed chunk plan on `parallelism` workers, each chunk's `body`
    * (which returns its outcome action) under the retry loop. The first chunk
    * to exhaust its retries poisons the run: no worker takes another chunk,
    * a retry in flight stops before its next attempt ("aborted"), and the
    * failure is rethrown once the chunks already running have finished, so
    * none is cut off mid-commit. Returns the outcomes in plan order. */
  private[graft] def dispatchParallel(cfg: ChunkerConfig, planned: Vector[Chunk], parallelism: Int)(
      body: Chunk => String): Vector[ChunkOutcome] = {
    require(parallelism >= 1, "parallelism must be >= 1")
    val next = new AtomicInteger(0)
    val failure = new AtomicReference[Throwable]()
    val outcomes = new Array[ChunkOutcome](planned.size)
    val worker: Callable[Unit] = () => {
      var i = next.getAndIncrement()
      while (i < planned.size && failure.get == null) {
        val c = planned(i)
        val t0 = System.nanoTime()
        def outcome(action: String) =
          ChunkOutcome(c, None, action, (System.nanoTime() - t0) / 1e9, cfg.chunkSize)
        try outcomes(i) = outcome(retrying(cfg, s"Chunk $c", failure.get != null)(body(c)))
        catch {
          case Aborted      => outcomes(i) = outcome("aborted")
          case e: Throwable => failure.compareAndSet(null, e)
        }
        i = next.getAndIncrement()
      }
    }
    val pool = Executors.newFixedThreadPool(parallelism)
    try pool.invokeAll(java.util.Collections.nCopies(parallelism.min(planned.size), worker))
    finally pool.shutdown()
    Option(failure.get).foreach(e => throw e)
    outcomes.toVector
  }
}
