package graft.chunker

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** Invariant suite for the pure chunk engine, porting the reference's test
  * strategy (SURVEY.md §5): call-count invariants, coverage invariants,
  * resizing bounds, runtime-targeting laws, retry laws, timing laws — driven
  * over gappy id multisets like the reference's deliberately-gappy CD schema
  * (reference: t/lib/CDTest.pm:226-237 "These gaps are intentional").
  */
class ChunkEngineSpec extends AnyFunSuite {

  private def src(ids: Seq[BigInt]): RangeSource = new RangeSource {
    override def minId(): Option[BigInt] = ids.minOption
    override def maxId(): Option[BigInt] = ids.maxOption
  }
  private def probe(ids: Seq[BigInt]): (BigInt, BigInt) => BigInt =
    (s, e) => BigInt(ids.count(id => id >= s && id <= e))

  private val quiet: String => Unit = _ => ()

  private def cfg0 = ChunkerConfig(sleep = 0, targetTime = 0, log = quiet)

  test("fixed-size chunking tiles a dense range exactly (t/dbic.t:80-88 analogue)") {
    val ids = (BigInt(1) to BigInt(100)).toVector
    val eng = new ChunkEngine(cfg0.copy(chunkSize = 10, minChunkPercent = 0), Some(src(ids)))
    assert(eng.calculateRanges())
    val seen = ArrayBuffer.empty[Chunk]
    val rpt = eng.execute(c => seen += c)
    assert(seen.size == 10) // ceil(range / chunk_size)
    assert(seen.head.start == 1)
    assert(seen.last.end == 100) // coverage invariant: max(end) == max_id
    assert(seen.sliding(2).forall(w => w.size < 2 || w(1).start == w(0).end + 1))
    assert(rpt.finishedRange && rpt.finalMinId.contains(BigInt(100)))
  }

  test("range not divisible by chunk size produces a short final chunk") {
    val ids = (BigInt(1) to BigInt(95)).toVector
    val eng = new ChunkEngine(cfg0.copy(chunkSize = 10, minChunkPercent = 0), Some(src(ids)))
    eng.calculateRanges()
    val seen = ArrayBuffer.empty[Chunk]
    eng.execute(c => seen += c)
    assert(seen.size == 10 && seen.last == Chunk(91, 95))
  }

  test("empty source: calculateRanges is false; execute without ranges is a no-op (t/construct.t:27-33)") {
    val eng = new ChunkEngine(cfg0.copy(chunkSize = 10), Some(src(Vector.empty)))
    assert(!eng.calculateRanges())
    val rpt = eng.execute(_ => fail("must not process"))
    assert(rpt.outcomes.isEmpty)
  }

  test("single-id keyspace processes exactly one chunk") {
    val eng = new ChunkEngine(cfg0.copy(chunkSize = 10, minChunkPercent = 0), Some(src(Vector(BigInt(7)))))
    eng.calculateRanges()
    val seen = ArrayBuffer.empty[Chunk]
    eng.execute(c => seen += c)
    assert(seen.toSeq == Seq(Chunk(7, 7)))
  }

  test("gap skipping: empty blocks are skipped with accelerating steps (lib/DBIx/BatchChunker.pm:1490-1502)") {
    val ids = (BigInt(1) to BigInt(20)).toVector ++ (BigInt(1000000) to BigInt(1000019)).toVector
    val eng = new ChunkEngine(
      cfg0.copy(chunkSize = 10, minChunkPercent = 0.5),
      Some(src(ids)), Some(probe(ids)))
    eng.calculateRanges()
    val rpt = eng.execute(_ => ())
    // Coverage: chunks tile [min, max] contiguously, ending exactly at max
    val all = rpt.outcomes.sortBy(_.chunk.start)
    assert(all.head.chunk.start == 1 && all.last.chunk.end == 1000019)
    assert(all.sliding(2).forall { case Seq(a, b) => b.chunk.start == a.chunk.end + 1; case _ => true })
    // Every row lands in exactly one processed chunk
    assert(rpt.processed.flatMap(_.count).sum == ids.size)
    assert(rpt.skipped.nonEmpty)
    // Acceleration: the million-wide gap is crossed in far fewer than gap/chunkSize steps
    assert(rpt.skipped.size < 50)
    assert(rpt.skipped.map(_.chunk.width).max > 10) // step doubling actually grew skips
  }

  test("density band: processed chunks never exceed (1+minChunkPercent)*chunkSize on resizable data (t/dbic.t:220)") {
    // 3 rows per id: chunk of 10 ids holds 30 rows -> must shrink
    val ids = (BigInt(1) to BigInt(200)).flatMap(i => Vector(i, i, i)).toVector
    val eng = new ChunkEngine(
      cfg0.copy(chunkSize = 10, minChunkPercent = 0.5),
      Some(src(ids)), Some(probe(ids)))
    eng.calculateRanges()
    val rpt = eng.execute(_ => ())
    assert(rpt.processed.nonEmpty)
    rpt.processed.foreach { o =>
      assert(BigDecimal(o.count.get) <= BigDecimal(1.5) * BigDecimal(o.chunkSizeAtRun),
        s"chunk ${o.chunk} count ${o.count} vs size ${o.chunkSizeAtRun}")
    }
    assert(rpt.processed.last.chunk.end == 200)
  }

  test("sparse data expands chunks beyond chunkSize (t/dbh.t:149 analogue)") {
    // every 5th id exists: density 0.2 < 0.5 -> expansion must kick in
    val ids = (BigInt(1) to BigInt(500)).filter(_ % 5 == 0).toVector
    val eng = new ChunkEngine(
      cfg0.copy(chunkSize = 10, minChunkPercent = 0.5),
      Some(src(ids)), Some(probe(ids)))
    eng.calculateRanges()
    val rpt = eng.execute(_ => ())
    assert(rpt.processed.map(_.chunk.width).max > 10)
    assert(rpt.processed.flatMap(_.count).sum == ids.size)
  }

  test("single id with many rows is processed anyway (lib/DBIx/BatchChunker.pm:1503-1514)") {
    val ids = Vector.fill(100)(BigInt(42)) ++ Vector(BigInt(43))
    val eng = new ChunkEngine(
      cfg0.copy(chunkSize = 10, minChunkPercent = 0.5),
      Some(src(ids)), Some(probe(ids)))
    eng.calculateRanges()
    val rpt = eng.execute(_ => ())
    assert(rpt.processed.exists(o => o.chunk.start == 42 && o.count.get == 100))
  }

  test("41-digit BigInt ids flow end-to-end (t/big-id.t analogue)") {
    val base = BigInt("9" + "01" * 20)
    val ids = Vector(base, base + 5, base + 100)
    val eng = new ChunkEngine(
      cfg0.copy(chunkSize = 10, minChunkPercent = 0.5),
      Some(src(ids)), Some(probe(ids)))
    assert(eng.calculateRanges())
    val rpt = eng.execute(_ => ())
    assert(rpt.processed.flatMap(_.count).sum == 3)
    assert(rpt.outcomes.last.chunk.end == base + 100)
  }

  test("runtime targeting grows chunk size only after 5 consecutive fast runs, at most 2x (t/dbic.t:255-303)") {
    val clock = new ManualClock
    val ids = (BigInt(1) to BigInt(2000)).toVector
    val eng = new ChunkEngine(
      ChunkerConfig(chunkSize = 10, targetTime = 5.0, sleep = 0, minChunkPercent = 0, log = quiet),
      Some(src(ids)), clock = clock)
    eng.calculateRanges()
    val sizes = ArrayBuffer.empty[BigInt]
    eng.execute { c => sizes += c.width; clock.advance(1.0) }
    // sizes: 5 chunks at 10, then 5 at 20, then 5 at 40, ...
    assert(sizes.take(5).forall(_ == 10))
    assert(sizes.slice(5, 10).forall(_ == 20))
    assert(sizes.slice(10, 15).forall(_ == 40))
    // growth never more than doubles
    sizes.sliding(2).foreach(w => if (w.size == 2) assert(w(1) <= w(0) * 2))
  }

  test("runtime targeting change-count == ceil(calls/5) - 1 for uniformly fast runs (t/dbic.t:255-303)") {
    val clock = new ManualClock
    val ids = (BigInt(1) to BigInt(3000)).toVector
    val eng = new ChunkEngine(
      ChunkerConfig(chunkSize = 10, targetTime = 5.0, sleep = 0, minChunkPercent = 0, log = quiet),
      Some(src(ids)), clock = clock)
    eng.calculateRanges()
    var calls = 0
    val sizes = ArrayBuffer.empty[BigInt]
    eng.execute { c => calls += 1; sizes += c.width; clock.advance(1.0) }
    // every growth requires exactly 5 fresh under-target timings (the
    // timings ring resets after each change), so the number of size changes
    // is ceil(calls / 5) - 1 — the reference's exact law
    val changes = sizes.sliding(2).count(w => w.size == 2 && w(0) != w(1))
    // the final chunk may be a short remainder; ignore a trailing shrink
    val effectiveChanges = if (sizes.size >= 2 && sizes.last < sizes(sizes.size - 2)) changes - 1 else changes
    assert(effectiveChanges == math.ceil(calls / 5.0).toInt - 1,
      s"calls=$calls changes=$effectiveChanges sizes=${sizes.mkString(",")}")
  }

  test("runtime targeting shrinks to 1 when chunks run over target (t/dbic.t:305-352)") {
    val clock = new ManualClock
    val ids = (BigInt(1) to BigInt(100)).toVector
    val eng = new ChunkEngine(
      ChunkerConfig(chunkSize = 16, targetTime = 5.0, sleep = 0, minChunkPercent = 0, log = quiet),
      Some(src(ids)), clock = clock)
    eng.calculateRanges()
    val sizes = ArrayBuffer.empty[BigInt]
    eng.execute { c => sizes += c.width; clock.advance(10.0) } // 2x over target -> halve
    // 16 -> 8 -> 4 -> 2 -> 1, then stays at 1
    assert(sizes.containsSlice(Seq(BigInt(16), BigInt(8), BigInt(4), BigInt(2), BigInt(1))))
    assert(sizes.last == 1)
  }

  test("way-over-target runtimes shrink without the 0.5 floor (lib/DBIx/BatchChunker.pm:1618-1630)") {
    val clock = new ManualClock
    val ids = (BigInt(1) to BigInt(300)).toVector
    val eng = new ChunkEngine(
      ChunkerConfig(chunkSize = 100, targetTime = 5.0, sleep = 0, minChunkPercent = 0, log = quiet),
      Some(src(ids)), clock = clock)
    eng.calculateRanges()
    val sizes = ArrayBuffer.empty[BigInt]
    eng.execute { c => sizes += c.width; clock.advance(50.0) } // 10x over: unbounded shrink
    assert(sizes(1) < 50) // more than halved in one step
  }

  test("maxRuntime stops early and the run is resumable (t/dbic.t:504-544)") {
    val clock = new ManualClock
    val ids = (BigInt(1) to BigInt(100)).toVector
    val eng = new ChunkEngine(
      ChunkerConfig(chunkSize = 10, targetTime = 0, sleep = 0, minChunkPercent = 0,
        maxRuntime = Some(2.5), log = quiet),
      Some(src(ids)), clock = clock)
    eng.calculateRanges()
    val seen = ArrayBuffer.empty[Chunk]
    val rpt = eng.execute { c => seen += c; clock.advance(1.0) }
    assert(!rpt.finishedRange)
    assert(seen.size == 3) // 3 chunks ran before the 2.5s budget tripped
    assert(eng.minId.contains(BigInt(30))) // resume point written back
    // Resume: a second execute picks up at min_id = prev_end (id 30 reprocessed,
    // matching the reference's write-back semantics) and finishes
    val rpt2 = eng.execute { c => seen += c }
    assert(rpt2.finishedRange)
    assert(seen.last.end == 100)
    assert(seen.map(_.width).sum == 30 + 71) // first run ids 1-30; resume covers 30-100
  }

  test("failed chunks retry whole (restarts chunk, t/dbic.t:421-502)") {
    val ids = (BigInt(1) to BigInt(30)).toVector
    val eng = new ChunkEngine(
      cfg0.copy(chunkSize = 10, minChunkPercent = 0, retryAttempts = 3),
      Some(src(ids)))
    eng.calculateRanges()
    var calls = 0
    val rpt = eng.execute { _ =>
      calls += 1
      if (calls % 3 != 0) throw new RuntimeException("flaky") // fail 2 of every 3 attempts
    }
    assert(calls == 9) // 3 chunks x 3 attempts: failing 2/3 triples the calls
    assert(rpt.processed.size == 3)
  }

  test("retry budget exhaustion propagates the failure") {
    val ids = (BigInt(1) to BigInt(10)).toVector
    val eng = new ChunkEngine(cfg0.copy(chunkSize = 10, minChunkPercent = 0, retryAttempts = 2), Some(src(ids)))
    eng.calculateRanges()
    intercept[RuntimeException] {
      eng.execute(_ => throw new RuntimeException("always fails"))
    }
  }

  test("retryOn classification: a non-retryable failure propagates on attempt 1, budget intact") {
    // The reference's retry_handler hook (lib/DBIx/BatchChunker.pm:236-288):
    // only failures the classifier accepts earn the budget. Here only
    // IllegalStateException is retryable; anything else is terminal at once.
    val ids = (BigInt(1) to BigInt(10)).toVector
    val eng = new ChunkEngine(
      cfg0.copy(chunkSize = 10, minChunkPercent = 0, retryAttempts = 10,
        retryOn = _.isInstanceOf[IllegalStateException]),
      Some(src(ids)))
    eng.calculateRanges()
    var calls = 0
    intercept[RuntimeException] {
      eng.execute { _ => calls += 1; throw new RuntimeException("not transient") }
    }
    assert(calls == 1, s"non-retryable failure consumed $calls attempts of the budget")
  }

  test("retryOn classification: the accepted class still uses the full retry law") {
    val ids = (BigInt(1) to BigInt(10)).toVector
    val eng = new ChunkEngine(
      cfg0.copy(chunkSize = 10, minChunkPercent = 0, retryAttempts = 3,
        retryOn = _.isInstanceOf[IllegalStateException]),
      Some(src(ids)))
    eng.calculateRanges()
    var calls = 0
    val rpt = eng.execute { _ =>
      calls += 1
      if (calls <= 2) throw new IllegalStateException("transient")
    }
    assert(calls == 3 && rpt.processed.size == 1)
  }

  test("fatal JVM errors and cancellation are never retried by default (NonFatal)") {
    // Retrying an OutOfMemoryError burns the budget on a doomed run and
    // masks the real failure; an InterruptedException is a cancelled run.
    for (fatal <- Seq[Throwable](new OutOfMemoryError("synthetic"), new InterruptedException)) {
      val ids = (BigInt(1) to BigInt(10)).toVector
      val eng = new ChunkEngine(cfg0.copy(chunkSize = 10, minChunkPercent = 0, retryAttempts = 10), Some(src(ids)))
      eng.calculateRanges()
      var calls = 0
      val thrown = intercept[Throwable] {
        eng.execute { _ => calls += 1; throw fatal }
      }
      assert(thrown eq fatal)
      assert(calls == 1, s"${fatal.getClass.getSimpleName} was retried $calls times")
    }
  }

  test("parallel dispatch: a poisoned run stops a retry in flight, and the abort is not logged as a retry") {
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val cfg = cfg0.copy(chunkSize = 10, minChunkPercent = 0, retryAttempts = 1000,
      retryOn = _.isInstanceOf[IllegalStateException], log = logged.add(_))
    val siblingFailed = new java.util.concurrent.CountDownLatch(1)
    val siblingAttempts = new java.util.concurrent.atomic.AtomicInteger()
    val boom = intercept[RuntimeException] {
      ChunkEngine.dispatchParallel(cfg, Chunk.fixedPlan(1, 20, 10), parallelism = 2) { c =>
        if (c.start == BigInt(1)) {
          assert(siblingFailed.await(10, java.util.concurrent.TimeUnit.SECONDS))
          throw new RuntimeException("terminal")
        }
        siblingAttempts.incrementAndGet()
        siblingFailed.countDown()
        Thread.sleep(20)
        throw new IllegalStateException("transient")
      }
    }
    assert(boom.getMessage == "terminal")
    assert(siblingAttempts.get() < 1000, "the retry ran on after the run was poisoned")
    // One retry line per failed attempt of the sibling, none for the abort.
    assert(logged.size == siblingAttempts.get(), logged)
  }

  test("sleep is honored between chunks (t/dbh.t:89-95)") {
    val clock = new ManualClock
    val ids = (BigInt(1) to BigInt(30)).toVector
    val eng = new ChunkEngine(
      ChunkerConfig(chunkSize = 10, targetTime = 0, sleep = 0.5, minChunkPercent = 0, log = quiet),
      Some(src(ids)), clock = clock)
    eng.calculateRanges()
    eng.execute(_ => ())
    assert(math.abs(clock.current - 1.5) < 1e-9) // 3 chunks x 0.5s
  }

  test("processPastMax extends the range when max grows mid-run (lib/DBIx/BatchChunker.pm:1394-1460)") {
    var currentMax = BigInt(50)
    val source = new RangeSource {
      override def minId(): Option[BigInt] = Some(BigInt(1))
      override def maxId(): Option[BigInt] = Some(currentMax)
    }
    val eng = new ChunkEngine(
      cfg0.copy(chunkSize = 10, minChunkPercent = 0, processPastMax = true),
      Some(source))
    eng.calculateRanges()
    val seen = ArrayBuffer.empty[Chunk]
    var grown = false
    eng.execute { c =>
      seen += c
      if (!grown && c.end >= 21) { currentMax = BigInt(70); grown = true } // simulate concurrent inserts
    }
    assert(seen.last.end == 70) // the appended rows got processed
    assert(seen.map(_.width).sum == 70)
  }

  test("DIY processPastMax without a max source appends one blind tail chunk (lib/DBIx/BatchChunker.pm:1402-1407)") {
    val eng = new ChunkEngine(cfg0.copy(chunkSize = 10, minChunkPercent = 0, processPastMax = true), None)
    eng.minId = Some(BigInt(1))
    eng.maxId = Some(BigInt(50))
    val seen = ArrayBuffer.empty[Chunk]
    eng.execute(c => seen += c)
    assert(seen.last.end == 60) // 41..50 became 41..60 (max + chunk_size)
    assert(seen.size == 5)
  }

  test("COUNT-too-slow shrinks the chunk (ladder case 4, t/dbic.t:354-419)") {
    val clock = new ManualClock
    val ids = (BigInt(1) to BigInt(100)).toVector
    var slowProbes = 0
    val slowProbe: (BigInt, BigInt) => BigInt = (s, e) => {
      // a slow COUNT only when the range is wide; fast once shrunk
      if (e - s >= 19) { clock.advance(6.0); slowProbes += 1 } // > 1.05 * targetTime
      BigInt(ids.count(id => id >= s && id <= e))
    }
    val eng = new ChunkEngine(
      ChunkerConfig(chunkSize = 20, targetTime = 5.0, sleep = 0, minChunkPercent = 0.5, log = quiet),
      Some(src(ids)), Some(slowProbe), clock = clock)
    eng.calculateRanges()
    val rpt = eng.execute(_ => ())
    assert(slowProbes > 0)
    // every processed chunk ended up narrower than the slow-probe threshold
    assert(rpt.processed.nonEmpty)
    assert(rpt.processed.forall(_.chunk.width < 20), rpt.processed.map(_.chunk).mkString(", "))
    assert(rpt.processed.last.chunk.end == 100)
  }

  test("window loads are planning: no COUNT-too-slow shrink, not in a DIY chunk's runtime") {
    val clock = new ManualClock
    val ids = (BigInt(1) to BigInt(100)).toVector
    var loads = 0
    val slowLoader: CountWindow.Loader = (lo, hi, cap) => {
      clock.advance(10.0) // far past targetTime * 1.05
      loads += 1
      ids.filter(id => id >= lo && id <= hi).map(id => (id, 1L)).take(cap)
    }
    val lines = ArrayBuffer.empty[String]
    val eng = new ChunkEngine(
      ChunkerConfig(chunkSize = 10, targetTime = 1.0, sleep = 0, minChunkPercent = 0.5, log = lines += _),
      Some(src(ids)), Some(probe(ids)), clock, countWindow = Some(slowLoader))
    eng.calculateRanges()
    val rpt = eng.execute(_ => clock.advance(0.2), markTimerOnDispatch = false)
    assert(loads > 1)
    assert(!lines.exists(_.contains("COUNT statement was too slow")), lines.mkString("\n"))
    assert(rpt.processed.map(_.chunk.width).sum == 100)
    assert(rpt.processed.forall(o => math.abs(o.runtime - 0.2) < 1e-9), rpt.processed.map(_.runtime))
  }

  test("CountWindow counts exactly and ends a truncated load at its last id") {
    val rows = Seq(BigInt(3) -> 2L, BigInt(5) -> 1L, BigInt(9) -> 4L)
    val w = CountWindow(BigInt(2), BigInt(20), 10, rows)
    assert(w.hi == 20 && w.count(2, 20) == 7 && w.count(4, 8) == 1 && w.count(6, 8) == 0)
    assert(w.count(3, 3) == 2 && w.count(9, 9) == 4 && w.count(10, 20) == 0)
    val cut = CountWindow(BigInt(2), BigInt(20), 3, rows)
    assert(cut.hi == 9 && cut.covers(2, 9) && !cut.covers(2, 10))
    assert(CountWindow.plannedHi(10, 19, maxId = 1000) == 49)
    assert(CountWindow.plannedHi(10, 19, maxId = 30) == 30)
  }

  test("resizing gives up after 10 checks and processes as-is (lib/DBIx/BatchChunker.pm:1549-1553)") {
    // a lying probe that keeps the ladder oscillating: too-many when wide,
    // too-few when narrow — never inside the band
    val lyingProbe: (BigInt, BigInt) => BigInt =
      (s, e) => if (e - s >= 5) BigInt(100) else BigInt(1)
    val eng = new ChunkEngine(
      cfg0.copy(chunkSize = 10, minChunkPercent = 0.5),
      Some(src((BigInt(1) to BigInt(1000)).toVector)), Some(lyingProbe))
    eng.calculateRanges()
    val rpt = eng.execute(_ => ())
    // the run completes (give-up prevents an infinite bisection) and some
    // processed chunk is outside the density band — proof the ladder bailed
    assert(rpt.processed.last.chunk.end == 1000)
    assert(rpt.processed.exists { o =>
      val pct = BigDecimal(o.count.get) / BigDecimal(o.chunkSizeAtRun)
      pct > 1.5 || pct < 0.5
    })
  }

  test("unknown chunk counts print '?' in status lines without errors (t/dbh.t:437-476)") {
    val lines = ArrayBuffer.empty[String]
    val eng = new ChunkEngine(
      ChunkerConfig(chunkSize = 10, targetTime = 0, sleep = 0, minChunkPercent = 0,
        verbose = true, log = lines += _),
      Some(src((BigInt(1) to BigInt(30)).toVector))) // no count probe -> counts unknown
    eng.calculateRanges()
    eng.execute(_ => ())
    val status = lines.filter(_.startsWith("IDs "))
    assert(status.size == 3)
    assert(status.forall(_.contains("? rows found (? of chunk size)")), status.mkString("\n"))
    assert(status.last.contains("100.0%")) // progress reaches completion
  }

  test("big-id status lines drop digit separators and squeeze spacing (BatchChunker.pm:1696-1741)") {
    val lines = ArrayBuffer.empty[String]
    val big = BigInt("12345678901234567890123456789012345678901") // 41 digits, t/big-id.t scale
    val eng = new ChunkEngine(
      ChunkerConfig(chunkSize = 10, targetTime = 0, sleep = 0, minChunkPercent = 0,
        verbose = true, log = lines += _), None)
    eng.minId = Some(big)
    eng.maxId = Some(big + 19)
    eng.execute(_ => ())
    val status = lines.filter(_.startsWith("IDs "))
    assert(status.size == 2)
    assert(status.head.contains(big.toString)) // raw digits, no locale separators
    assert(status.forall(l => !l.matches(".*\\d,\\d.*")), status.mkString("\n"))
    assert(status.forall(l => !l.contains("  ")), status.mkString("\n")) // single-spaced
  }

  test("manual min/max without a source works (DIY planning, t/dbh.t:249-281)") {
    val eng = new ChunkEngine(cfg0.copy(chunkSize = 25, minChunkPercent = 0), None)
    eng.minId = Some(BigInt(100))
    eng.maxId = Some(BigInt(199))
    val seen = ArrayBuffer.empty[Chunk]
    eng.execute(c => seen += c)
    assert(seen.toSeq == Seq(Chunk(100, 124), Chunk(125, 149), Chunk(150, 174), Chunk(175, 199)))
  }
}
