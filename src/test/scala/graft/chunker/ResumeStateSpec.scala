package graft.chunker

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import scala.collection.mutable.ArrayBuffer

/** Cross-process resumability: the persisted form of the reference's
  * `min_id = prev_end` write-back (lib/DBIx/BatchChunker.pm:1228) for the
  * bare engine, and ChunkedRewrite resuming exactly-once from its own
  * per-chunk commits across a simulated driver crash.
  */
class ResumeStateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val quiet: String => Unit = _ => ()

  private def src(ids: Vector[BigInt]): RangeSource = new RangeSource {
    override def minId(): Option[BigInt] = ids.minOption
    override def maxId(): Option[BigInt] = ids.maxOption
  }

  test("state file round-trips atomically and clears") {
    val dir = java.nio.file.Files.createTempDirectory("resume-rt").toString
    assert(ResumeState.read(dir).isEmpty)
    ResumeState.write(dir, BigInt(42))
    assert(ResumeState.read(dir).contains(BigInt(42)))
    ResumeState.write(dir, BigInt("123456789012345678901234567890")) // BigInt-clean
    assert(ResumeState.read(dir).contains(BigInt("123456789012345678901234567890")))
    ResumeState.clear(dir)
    assert(ResumeState.read(dir).isEmpty)
  }

  test("engine persists the resume point per chunk; a fresh engine resumes with zero overlap") {
    val dir = java.nio.file.Files.createTempDirectory("resume-eng").toString
    val clock = new ManualClock
    val ids = (BigInt(1) to BigInt(100)).toVector
    val cfg = ChunkerConfig(chunkSize = 10, targetTime = 0, sleep = 0, minChunkPercent = 0,
      maxRuntime = Some(2.5), stateDir = Some(dir), log = quiet)
    val eng = new ChunkEngine(cfg, Some(src(ids)), clock = clock)
    eng.calculateRanges()
    val run1 = ArrayBuffer.empty[Chunk]
    val rpt1 = eng.execute { c => run1 += c; clock.advance(1.0) }
    assert(!rpt1.finishedRange)
    assert(run1.size == 3)
    assert(ResumeState.read(dir).contains(BigInt(30))) // last committed chunk's end

    // Simulated process restart: a brand-new engine, state only from disk.
    val eng2 = new ChunkEngine(cfg.copy(maxRuntime = None), Some(src(ids)))
    eng2.calculateRanges()
    ResumeState.read(dir).foreach(pe => eng2.minId = Some(pe + 1))
    val run2 = ArrayBuffer.empty[Chunk]
    val rpt2 = eng2.execute(run2 += _)
    assert(rpt2.finishedRange)
    assert(run2.head.start == BigInt(31)) // first unprocessed id, no re-touch
    assert(run2.last.end == BigInt(100))
    // Exactly-once across the crash: both runs tile 1..100 with no overlap.
    assert((run1 ++ run2).map(_.width).sum == BigInt(100))
  }

  test("a finished run's state resumes to 'nothing to process'") {
    val dir = java.nio.file.Files.createTempDirectory("resume-done").toString
    val ids = (BigInt(1) to BigInt(40)).toVector
    val cfg = ChunkerConfig(chunkSize = 10, targetTime = 0, sleep = 0, minChunkPercent = 0,
      stateDir = Some(dir), log = quiet)
    val eng = new ChunkEngine(cfg, Some(src(ids)))
    eng.calculateRanges()
    assert(eng.execute(_ => ()).finishedRange)
    assert(ResumeState.read(dir).contains(BigInt(40)))

    val eng2 = new ChunkEngine(cfg, Some(src(ids)))
    eng2.calculateRanges()
    ResumeState.read(dir).foreach(pe => eng2.minId = Some(pe + 1)) // 41 > maxId
    val rpt = eng2.execute(_ => fail("nothing should be dispatched"))
    assert(rpt.finishedRange)
    assert(rpt.outcomes.isEmpty)
  }

  test("ChunkedRewrite crash-resume: restarted run reprocesses nothing, readback is exactly-once") {
    val dir = java.nio.file.Files.createTempDirectory("resume-cow").toString
    val stateDir = s"$dir/state"
    val outDir = s"$dir/out"
    val srcDf = (1L to 80L).map(i => (i, i * 10.0)).toDF("id", "price")
    srcDf.write.mode("overwrite").parquet(s"$dir/src")
    val table = spark.read.parquet(s"$dir/src")
    val cfg = ChunkerConfig(chunkSize = 10, targetTime = 0, sleep = 0, minChunkPercent = 0,
      stateDir = Some(stateDir), log = quiet)

    // Run 1 "crashes" (retry budget 1 -> first failure is terminal) when it
    // reaches the chunk starting at 41.
    val boom = intercept[RuntimeException] {
      ChunkedRewrite.rewriteWithRange(table, "id", cfg, outDir, countProbe = false) {
        (chunk, chunkDf) =>
          if (chunk.start == BigInt(41)) throw new RuntimeException("simulated driver crash")
          chunkDf.withColumn("price", col("price") * 2)
      }
    }
    assert(boom.getMessage.contains("simulated driver crash"))
    // The committed chunk directories are the resume record; no state file.
    assert(ResumeState.read(stateDir).isEmpty)

    // Run 2: fresh loop, same stateDir — resumes at 41 from outDir's commits.
    val starts2 = ArrayBuffer.empty[BigInt]
    ChunkedRewrite.rewriteWithRange(table, "id", cfg, outDir, countProbe = false) {
      (chunk, chunkDf) =>
        starts2 += chunk.start
        chunkDf.withColumn("price", col("price") * 2)
    }
    assert(starts2.head == BigInt(41)) // zero reprocessed chunks
    assert(starts2.forall(_ > BigInt(40)))

    // Composed with the commit markers: every key exactly once, all rewritten.
    val back = ChunkedRewrite.readBackCommitted(spark, outDir)
    assert(back.count() == 80)
    assert(back.select(countDistinct(col("id"))).head().getLong(0) == 80)
    assert(back.select(sum(col("price"))).head().getDouble(0) ==
      (1L to 80L).map(_ * 20.0).sum)
  }
}
