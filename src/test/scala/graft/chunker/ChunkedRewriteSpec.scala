package graft.chunker

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import scala.collection.mutable.ArrayBuffer

/** Chunked copy-on-write DML: the reference's UPDATE/DELETE workload shape
  * over immutable parquet, with idempotent per-chunk retry.
  */
class ChunkedRewriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val quiet: String => Unit = _ => ()
  private def cfg0 = ChunkerConfig(chunkSize = 25, sleep = 0, targetTime = 0,
    minChunkPercent = 0, log = quiet)

  /** What a kill in the middle of a chunk's write leaves: an unmarked
    * chunk dir holding a junk part file and the committer's `_temporary/`. */
  private def plantKilledWrite(chunkDir: String): Unit = {
    val d = new java.io.File(chunkDir)
    new java.io.File(d, "_temporary/0").mkdirs()
    java.nio.file.Files.writeString(d.toPath.resolve("part-junk.parquet"), "not parquet")
  }

  /** Names under `out` a reader must never meet: unmarked `chunk_*` dirs
    * and `.staging*` leftovers. */
  private def uncommitted(out: String): Seq[String] =
    new java.io.File(out).listFiles().toSeq.map(_.getName).filter(name =>
      name.startsWith(".staging") ||
        name.startsWith("chunk_") && !new java.io.File(s"$out/$name", ChunkedRewrite.CommitMarker).exists())

  test("chunked DELETE (anti-filter rewrite) equals the batch filter") {
    val dir = java.nio.file.Files.createTempDirectory("cow-del").toString
    val src = (1L to 100L).map(i => (i, i % 7)).toDF("id", "v")
    src.write.mode("overwrite").parquet(s"$dir/src")
    val table = spark.read.parquet(s"$dir/src")

    ChunkedRewrite.rewrite(table, "id", cfg0, s"$dir/out")(_.filter(col("v") =!= 0))
    val result = ChunkedRewrite.readBackCommitted(spark, s"$dir/out")
    val expected = table.filter(col("v") =!= 0)
    assert(result.count() == expected.count())
    assert(result.select(sum(col("id"))).head().getLong(0) ==
      expected.select(sum(col("id"))).head().getLong(0))
  }

  test("chunked UPDATE (column rewrite) equals the batch rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("cow-upd").toString
    val src = (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "price")
    src.write.mode("overwrite").parquet(s"$dir/src")
    val table = spark.read.parquet(s"$dir/src")

    ChunkedRewrite.rewrite(table, "id", cfg0, s"$dir/out") { chunk =>
      chunk.withColumn("price", when(col("id") % 2 === 0, col("price") * 2).otherwise(col("price")))
    }
    val result = ChunkedRewrite.readBackCommitted(spark, s"$dir/out")
    val expectedSum = (1L to 100L).map(i => if (i % 2 == 0) i * 2.0 else i.toDouble).sum
    assert(result.select(sum(col("price"))).head().getDouble(0) == expectedSum)
    assert(result.count() == 100)
  }

  test("a failed chunk retries and overwrites its own output idempotently") {
    val dir = java.nio.file.Files.createTempDirectory("cow-retry").toString
    val src = (1L to 100L).toDF("id")
    src.write.mode("overwrite").parquet(s"$dir/src")
    val table = spark.read.parquet(s"$dir/src")

    var failedOnce = false
    val rpt = ChunkedRewrite.rewrite(table, "id",
      cfg0.copy(retryAttempts = 2), s"$dir/out") { chunk =>
      // fail the chunk containing id 30 AFTER its write would have happened:
      // simulate by throwing on first encounter, forcing a re-dispatch
      val hit = chunk.filter(col("id") === 30).count() > 0
      if (hit && !failedOnce) { failedOnce = true; throw new RuntimeException("transient sink failure") }
      chunk
    }
    assert(failedOnce)
    assert(rpt.processed.size == 4)
    val result = ChunkedRewrite.readBackCommitted(spark, s"$dir/out")
    assert(result.count() == 100) // no loss, no duplication
    assert(result.select(countDistinct(col("id"))).head().getLong(0) == 100)
  }

  test("per-chunk commit is atomic: a crash mid-chunk leaves no partial chunk visible, and resume completes") {
    val dir = java.nio.file.Files.createTempDirectory("cow-atomic").toString
    val src = (1L to 100L).toDF("id")
    src.write.mode("overwrite").parquet(s"$dir/src")
    val table = spark.read.parquet(s"$dir/src")

    // Simulate a run killed mid-chunk: the third chunk's transform throws,
    // and the kill's on-disk state is planted below.
    val cfg = cfg0.copy(retryAttempts = 1) // a single attempt: first failure rethrows
    intercept[RuntimeException] {
      ChunkedRewrite.rewrite(table, "id", cfg, s"$dir/out") { chunk =>
        // trigger on the chunk containing id 60 (chunks are 25 wide)
        if (chunk.filter(col("id") === 60).count() > 0)
          throw new RuntimeException("killed mid-chunk")
        chunk
      }
    }
    // Plant an unmarked chunk dir with junk — the on-disk state a hard kill
    // in the middle of the chunk's write leaves behind.
    plantKilledWrite(s"$dir/out/chunk_51_75")
    // The reader's view after the crash: only fully-committed chunks, no
    // partial output from the killed chunk (unmarked dirs are skipped).
    val afterCrash = ChunkedRewrite.readBackCommitted(spark, s"$dir/out")
    val seen = afterCrash.select(col("id")).collect().map(_.getLong(0)).toSet
    assert(seen.forall(id => id <= 50), s"partial chunk leaked into reader view: ${seen.filter(_ > 50)}")
    assert(afterCrash.count() % 25 == 0, "reader observed a partially-written chunk")

    // Resume: re-run the rewrite (idempotent); every chunk commits.
    ChunkedRewrite.rewrite(table, "id", cfg, s"$dir/out")(chunk => chunk)
    val resumed = ChunkedRewrite.readBackCommitted(spark, s"$dir/out")
    assert(resumed.count() == 100)
    assert(resumed.select(countDistinct(col("id"))).head().getLong(0) == 100)
    // no unmarked chunk dir and no staging leftovers
    val leftovers = uncommitted(s"$dir/out")
    assert(leftovers.isEmpty, s"uncommitted dirs not cleaned: $leftovers")
  }

  test("crash mid-chunk during an UPDATE: committed chunks carry the update, resume equals the batch rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("cow-upd-crash").toString
    val src = (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "price")
    src.write.mode("overwrite").parquet(s"$dir/src")
    val table = spark.read.parquet(s"$dir/src")

    def update(chunk: org.apache.spark.sql.DataFrame) =
      chunk.withColumn("price",
        when(col("id") % 2 === 0, col("price") * 2).otherwise(col("price")))

    val cfg = cfg0.copy(retryAttempts = 1)
    intercept[RuntimeException] {
      ChunkedRewrite.rewrite(table, "id", cfg, s"$dir/out") { chunk =>
        if (chunk.filter(col("id") === 60).count() > 0)
          throw new RuntimeException("killed mid-update")
        update(chunk)
      }
    }
    // Committed chunks are fully UPDATED, uncommitted ids absent — never a
    // chunk with half-original half-updated rows.
    val afterCrash = ChunkedRewrite.readBackCommitted(spark, s"$dir/out")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(afterCrash.keySet.forall(_ <= 50))
    afterCrash.foreach { case (id, price) =>
      assert(price == (if (id % 2 == 0) id * 2.0 else id.toDouble),
        s"committed chunk holds a non-updated row: $id -> $price")
    }

    // Resume idempotently; the final table equals the one-shot batch update.
    ChunkedRewrite.rewrite(table, "id", cfg, s"$dir/out")(update)
    val resumed = ChunkedRewrite.readBackCommitted(spark, s"$dir/out")
    assert(resumed.count() == 100)
    val expectedSum = (1L to 100L).map(i => if (i % 2 == 0) i * 2.0 else i.toDouble).sum
    assert(resumed.select(sum(col("price"))).head().getDouble(0) == expectedSum)
  }

  test("chunked MERGE via rewriteWithRange: updates and inserts each land exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("cow-merge").toString
    val src = (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "price")
    src.write.mode("overwrite").parquet(s"$dir/src")
    val table = spark.read.parquet(s"$dir/src")
    // delta: double the price of multiples of 10, insert ids 101..110
    val updates = (Seq(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L, 90L, 100L))
      .map(i => (i, i * 2.0)).toDF("u_id", "u_price")
    val inserts = (101L to 110L).map(i => (i, i.toDouble)).toDF("id", "price")

    ChunkedRewrite.rewriteWithRange(table, "id", cfg0, s"$dir/out",
      rangeDf = Some(table.select(col("id")).unionByName(inserts.select(col("id"))))) {
      (chunk, chunkDf) =>
        val lo = lit(chunk.start.toLong); val hi = lit(chunk.end.toLong)
        chunkDf.join(updates.filter(col("u_id").between(lo, hi)),
            chunkDf("id") === col("u_id"), "left")
          .withColumn("price", when(col("u_id").isNotNull, col("u_price")).otherwise(col("price")))
          .drop("u_id", "u_price")
          .unionByName(inserts.filter(col("id").between(lo, hi)))
    }
    val result = ChunkedRewrite.readBackCommitted(spark, s"$dir/out")
    assert(result.count() == 110)
    assert(result.select(countDistinct(col("id"))).head().getLong(0) == 110) // no key twice
    val expectedSum = (1L to 100L).map(i => if (i % 10 == 0) i * 2.0 else i.toDouble).sum +
      (101L to 110L).map(_.toDouble).sum
    assert(result.select(sum(col("price"))).head().getDouble(0) == expectedSum)
    // the insert keys walked ranges past the target's own max — rangeDf at work
    assert(result.select(max(col("id"))).head().getLong(0) == 110)
  }

  test("pinLocal pins a tiny frame but refuses a corpus-sized one with a clear error") {
    val small = (1L to 10L).toDF("id")
    val pinned = ChunkedRewrite.pinLocal(small)
    assert(pinned.count() == 10)
    assert(pinned.select(sum(col("id"))).head().getLong(0) == 55L)

    // A non-aggregating "audit" over a big frame must fail loudly at the cap,
    // not OOM the driver silently.
    val big = spark.range(1, 1001).toDF("id")
    val e = intercept[IllegalArgumentException] {
      ChunkedRewrite.pinLocal(big, maxRows = 100)
    }
    assert(e.getMessage.contains("not control-plane-sized"))
  }

  test("readBackCommitted skips a torn non-atomic rename (data present, marker absent)") {
    val dir = java.nio.file.Files.createTempDirectory("cow-torn").toString
    val src = (1L to 100L).toDF("id")
    src.write.mode("overwrite").parquet(s"$dir/src")
    val table = spark.read.parquet(s"$dir/src")
    ChunkedRewrite.rewrite(table, "id", cfg0, s"$dir/out")(chunk => chunk)

    // Simulate a crash mid-commit: the chunk dir exists with readable data
    // files but the marker — written strictly last — never landed.
    (101L to 125L).toDF("id").write.parquet(s"$dir/out/chunk_101_125")

    // The committed reader skips it.
    val committed = ChunkedRewrite.readBackCommitted(spark, s"$dir/out")
    assert(committed.count() == 100)
    assert(committed.select(max(col("id"))).head().getLong(0) == 100)
  }

  /** count, distinct ids and sum(v) of a readback, in one job. */
  private def tally(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), countDistinct(col("id")), sum(col("v"))).head()
    (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  test("resume deletes uncommitted leftovers: an unmarked chunk with other bounds is not read twice") {
    val dir = java.nio.file.Files.createTempDirectory("cow-leftover").toString
    (1L to 80L).map(i => (i, 0L)).toDF("id", "v").write.parquet(s"$dir/src")
    val table = spark.read.parquet(s"$dir/src")
    val cfg = cfg0.copy(chunkSize = 10, retryAttempts = 1, stateDir = Some(s"$dir/state"))
    val out = s"$dir/out"
    def bump(c: org.apache.spark.sql.DataFrame) = c.withColumn("v", col("v") + 1)
    intercept[RuntimeException] {
      ChunkedRewrite.rewriteWithRange(table, "id", cfg, out, countProbe = false) { (chunk, c) =>
        if (chunk.start == BigInt(41)) throw new RuntimeException("killed")
        bump(c)
      }
    }
    // What a kill between write and marker leaves when the killed plan had
    // other bounds than the restarted one, plus a chunk killed mid-write.
    table.filter(col("id").between(41L, 60L)).transform(bump).write.parquet(s"$out/chunk_41_60")
    plantKilledWrite(s"$out/chunk_41_50")
    val starts = ArrayBuffer.empty[BigInt]
    ChunkedRewrite.rewriteWithRange(table, "id", cfg, out, countProbe = false) { (chunk, c) =>
      starts += chunk.start
      bump(c)
    }
    assert(starts.head == BigInt(41))
    assert(tally(ChunkedRewrite.readBackCommitted(spark, out)) == ((80L, 80L, 80L)))
    val names = new java.io.File(out).list().toSet
    assert(!names("chunk_41_60") && !new java.io.File(s"$out/chunk_41_50/part-junk.parquet").exists(),
      s"leftovers survived: $names")
  }

  test("exactly-once under a crash at every chunk boundary while chunkSize grows") {
    // The marker-commit twin of JdbcBatchSpec's journal-resume test. Each
    // restart re-plans from the reset chunkSize, so its bounds differ from
    // the grown chunks run 1 committed; resuming from anything but the
    // commit markers writes the overlap twice.
    val dir = java.nio.file.Files.createTempDirectory("cow-every").toString
    val n = 45L
    (1L to n).map(i => (i, 0L)).toDF("id", "v").write.parquet(s"$dir/src")
    val table = spark.read.parquet(s"$dir/src")
    // targetTime > 0 with chunks far faster than it: after 5 timings the
    // engine doubles chunkSize (3 -> 6), so 5 chunks of 3 then 5 of 6.
    val cfg = ChunkerConfig(chunkSize = 3, targetTime = 30, sleep = 0, minChunkPercent = 0,
      retryAttempts = 1, log = quiet)
    def bump(c: org.apache.spark.sql.DataFrame) = c.withColumn("v", col("v") + 1)
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
      java.nio.file.Files.walk(from).forEach { p =>
        java.nio.file.Files.copy(p, to.resolve(from.relativize(p).toString))
      }
    var k = 1
    var finished = false
    while (!finished) {
      val base = s"$dir/k$k"
      val committed = ArrayBuffer.empty[Chunk]
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/asLeft"))
      try {
        ChunkedRewrite.rewriteWithRange(table, "id", cfg.copy(stateDir = Some(s"$base/state")),
          s"$base/asLeft", countProbe = false) { (chunk, c) =>
          if (committed.size == k - 1) throw new RuntimeException(s"killed at chunk $k")
          committed += chunk
          bump(c)
        }
        finished = true // k is past the last chunk: run 1 completed
        assert(committed.size == 10 && committed.map(_.width).distinct.sorted == Seq(3, 6).map(BigInt(_)),
          s"chunk size never grew the way the test assumes: $committed")
      } catch { case e: RuntimeException if e.getMessage == s"killed at chunk $k" => () }
      // The write-then-kill state: the last committed chunk lost its marker.
      copyTree(java.nio.file.Paths.get(s"$base/asLeft"), java.nio.file.Paths.get(s"$base/unmarked"))
      committed.lastOption.foreach { c =>
        java.nio.file.Files.delete(java.nio.file.Paths.get(
          s"$base/unmarked/chunk_${c.start}_${c.end}", ChunkedRewrite.CommitMarker))
      }
      for (state <- Seq("asLeft", "unmarked")) {
        val out = s"$base/$state"
        val stateDir = s"$base/state_$state"
        // A resume file one chunk behind the commits: what dying between
        // a chunk's marker and a state-file write would leave. It must not
        // matter, since the markers are the resume record.
        if (committed.size >= 2) ResumeState.write(stateDir, committed(committed.size - 2).end)
        ChunkedRewrite.rewriteWithRange(table, "id", cfg.copy(stateDir = Some(stateDir)), out,
          countProbe = false)((_, c) => bump(c))
        val label = s"crash at chunk $k, $state"
        assert(tally(ChunkedRewrite.readBackCommitted(spark, out)) == ((n, n, n)), label)
        assert(uncommitted(out).isEmpty, label)
      }
      k += 1
    }
    assert(k == 12) // crashes at chunks 1..10, then the run that completed
  }
}
