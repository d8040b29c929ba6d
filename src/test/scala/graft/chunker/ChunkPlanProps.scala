package graft.chunker

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property suite: for ANY id multiset and chunk size, the chunk sequence
  * tiles `[min, max]` exactly — contiguous, no overlap, no gap, ending at
  * max — and every row is counted exactly once by the processed chunks.
  * (SURVEY.md §5 port strategy; the reference asserts these as one-off
  * invariants per suite, e.g. t/dbic.t:88.)
  */
object ChunkPlanProps extends Properties("ChunkPlan") {

  private val quiet: String => Unit = _ => ()

  private val genIds: Gen[Vector[BigInt]] = for {
    n <- Gen.choose(1, 300)
    base <- Gen.oneOf(BigInt(0), BigInt(1), BigInt("9" + "01" * 20))
    gaps <- Gen.listOfN(n, Gen.choose(1L, 50L))
    dups <- Gen.listOfN(n, Gen.choose(1, 3))
  } yield {
    val ids = gaps.scanLeft(base)((acc, g) => acc + g).tail
    ids.zip(dups).flatMap { case (id, d) => Vector.fill(d)(id) }.toVector
  }

  private val genChunkSize: Gen[Int] = Gen.choose(1, 64)

  private def mkSource(ids: Vector[BigInt]): RangeSource = new RangeSource {
    override def minId(): Option[BigInt] = ids.minOption
    override def maxId(): Option[BigInt] = ids.maxOption
  }

  property("adaptive chunks tile [min,max] exactly and count every row once") =
    forAll(genIds, genChunkSize) { (ids: Vector[BigInt], chunkSize: Int) =>
      val probe: (BigInt, BigInt) => BigInt =
        (s, e) => BigInt(ids.count(id => id >= s && id <= e))
      val eng = new ChunkEngine(
        ChunkerConfig(chunkSize = chunkSize, targetTime = 0, sleep = 0,
          minChunkPercent = 0.5, log = quiet),
        Some(mkSource(ids)), Some(probe))
      eng.calculateRanges()
      val rpt = eng.execute(_ => ())
      val all = rpt.outcomes

      val contiguous = all.sliding(2).forall {
        case Seq(a, b) => b.chunk.start == a.chunk.end + 1
        case _         => true
      }
      Prop(all.head.chunk.start == ids.min) :| "starts at min" &&
        Prop(all.last.chunk.end == ids.max) :| "ends at max" &&
        Prop(contiguous) :| "contiguous, no gap/overlap" &&
        Prop(rpt.processed.flatMap(_.count).sum == ids.size) :| "every row counted once" &&
        Prop(rpt.skipped.forall(_.count.contains(BigInt(0)))) :| "skips were empty"
    }

  private def liveProbe(ids: Vector[BigInt], calls: Array[Int]): (BigInt, BigInt) => BigInt =
    (s, e) => { calls(0) += 1; BigInt(ids.count(id => id >= s && id <= e)) }

  private def loader(ids: Vector[BigInt]): CountWindow.Loader = (lo, hi, cap) =>
    ids.filter(id => id >= lo && id <= hi).groupBy(identity).toSeq
      .map { case (id, rows) => (id, rows.size.toLong) }.sortBy(_._1).take(cap)

  /** One adaptive walk; returns its report and the number of live probes. */
  private def walk(ids: Vector[BigInt], chunkSize: Int, minChunkPercent: Double,
      windowCap: Option[Int]): (ExecutionReport, Int) = {
    val calls = Array(0)
    val eng = new ChunkEngine(
      ChunkerConfig(chunkSize = chunkSize, targetTime = 0, sleep = 0,
        minChunkPercent = minChunkPercent, log = quiet),
      Some(mkSource(ids)), Some(liveProbe(ids, calls)), new ManualClock,
      countWindow = windowCap.map(_ => loader(ids)))
    windowCap.foreach(eng.windowCap = _)
    eng.calculateRanges()
    (eng.execute(_ => ()), calls(0))
  }

  private val genMinChunkPercent: Gen[Double] = Gen.oneOf(0.0, 0.5)

  // A cap of 3 ids truncates most windows and sends probes past them live.
  property("window-indexed counts give the same plan as live probes, full or truncated windows") =
    forAll(genIds, genChunkSize, genMinChunkPercent) { (ids: Vector[BigInt], chunkSize: Int, pct: Double) =>
      val live = walk(ids, chunkSize, pct, None)._1.outcomes
      Seq(CountWindow.Cap, 3).forall(cap => walk(ids, chunkSize, pct, Some(cap))._1.outcomes == live)
    }

  property("with a window, the only live probes confirm the skips") =
    forAll(genIds, genChunkSize) { (ids: Vector[BigInt], chunkSize: Int) =>
      val (rpt, calls) = walk(ids, chunkSize, 0.5, Some(CountWindow.Cap))
      Prop(calls == rpt.skipped.size) :| s"$calls live probes for ${rpt.skipped.size} skips"
    }

  property("crash + persisted resume tiles [min,max] exactly once, for any crash point") =
    forAll(genIds, genChunkSize, Gen.choose(0, 20)) {
      (ids: Vector[BigInt], chunkSize: Int, crashAfter: Int) =>
        val dir = java.nio.file.Files.createTempDirectory("resume-prop").toString
        val cfg = ChunkerConfig(chunkSize = chunkSize, targetTime = 0, sleep = 0,
          minChunkPercent = 0, stateDir = Some(dir), log = quiet)
        // Run 1 crashes after `crashAfter` processed chunks (terminal:
        // retry budget 1); 0 means it dies before any chunk commits.
        val run1 = scala.collection.mutable.ArrayBuffer.empty[Chunk]
        val eng = new ChunkEngine(cfg, Some(mkSource(ids)))
        eng.calculateRanges()
        try eng.execute { c =>
          if (run1.size >= crashAfter) throw new RuntimeException("crash")
          run1 += c
        } catch { case e: RuntimeException if e.getMessage == "crash" => () }

        // Run 2: fresh engine, resume point only from disk.
        val eng2 = new ChunkEngine(cfg, Some(mkSource(ids)))
        eng2.calculateRanges()
        ResumeState.read(dir).foreach(pe => eng2.minId = Some(pe + 1))
        val run2 = scala.collection.mutable.ArrayBuffer.empty[Chunk]
        val rpt2 = eng2.execute(run2 += _)

        val all = (run1 ++ run2).toVector
        val contiguous = all.sliding(2).forall {
          case Seq(a, b) => b.start == a.end + 1
          case _         => true
        }
        Prop(rpt2.finishedRange) :| "resumed run finishes" &&
          Prop(all.headOption.map(_.start).contains(ids.min)) :| "starts at min" &&
          Prop(all.lastOption.map(_.end).contains(ids.max)) :| "ends at max" &&
          Prop(contiguous) :| "no overlap or gap across the crash" &&
          Prop(all.map(_.width).sum == ids.max - ids.min + 1) :| "exact tiling"
    }

  property("fixed-size planning yields ceil(range/size) uniform chunks") =
    forAll(genIds, genChunkSize) { (ids: Vector[BigInt], chunkSize: Int) =>
      val eng = new ChunkEngine(
        ChunkerConfig(chunkSize = chunkSize, targetTime = 0, sleep = 0,
          minChunkPercent = 0, log = quiet),
        Some(mkSource(ids)))
      eng.calculateRanges()
      val rpt = eng.execute(_ => ())
      val range = ids.max - ids.min + 1
      val expected = (range + chunkSize - 1) / chunkSize
      Prop(rpt.processed.size == expected.toInt) :| "chunk count" &&
        Prop(rpt.processed.init.forall(_.chunk.width == chunkSize)) :| "uniform width" &&
        Prop(Chunk.fixedPlan(ids.min, ids.max, chunkSize) == rpt.processed.map(_.chunk)) :|
          "the parallel paths' pure plan equals the engine's fixed-size walk"
    }
}
