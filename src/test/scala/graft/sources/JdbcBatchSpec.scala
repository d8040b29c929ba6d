package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.chunker.ChunkerConfig

/** JDBC chunked source/sink against embedded Derby — a real live-RDBMS
  * round-trip, the reference's native deployment scenario.
  */
class JdbcBatchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val quiet: String => Unit = _ => ()
  private def cfg(size: Int) = ChunkerConfig(chunkSize = BigInt(size), targetTime = 0,
    sleep = 0, minChunkPercent = 0, log = quiet)
  private val url = "jdbc:derby:memory:graftdb;create=true"

  private lazy val seeded: Unit = {
    val src = (1L to 500L).map(i => (i, s"name_$i", i * 1.5)).toDF("id", "name", "val")
    src.write.mode("overwrite").jdbc(url, "chunk_src", new java.util.Properties)
  }

  test("range discovery over JDBC without a Spark job") {
    seeded
    assert(JdbcBatch.discoverRange(url, "chunk_src", "id").contains((BigInt(1), BigInt(500))))
  }

  test("chunk-partitioned JDBC read: one partition per chunk, all rows exactly once") {
    seeded
    val df = JdbcBatch.readChunked(spark, url, "chunk_src", "id", cfg(100))
    assert(df.rdd.getNumPartitions == 5) // 500 ids / 100 per chunk
    assert(df.count() == 500)
    assert(df.select(countDistinct(col("id"))).head().getLong(0) == 500)
    assert(df.select(sum(col("id"))).head().getLong(0) == (1L to 500L).sum)
  }

  test("sequential chunked JDBC write appends every chunk exactly once") {
    seeded
    val src = (1L to 300L).map(i => (i, s"w_$i", i * 2.0)).toDF("id", "name", "val")
    // create empty target with the right schema
    src.limit(0).write.mode("overwrite").jdbc(url, "chunk_sink", new java.util.Properties)
    val rpt = JdbcBatch.writeChunked(src, "id", cfg(75), url, "chunk_sink")
    assert(rpt.processed.size == 4) // ceil(300/75)
    val back = spark.read.jdbc(url, "chunk_sink", new java.util.Properties)
    assert(back.count() == 300)
    assert(back.select(countDistinct(col("id"))).head().getLong(0) == 300)
  }

  test("executeChunkedDml: per-chunk transactions commit at chunk boundaries") {
    seeded
    val src = (1L to 200L).map(i => (i, 0L)).toDF("id", "done")
    src.write.mode("overwrite").jdbc(url, "txn_commit", new java.util.Properties)
    // From a SECOND connection, count committed work strictly below the
    // current chunk: READ_COMMITTED Derby only shows what prior chunks
    // COMMITTED, and the below-start index range scan never visits this
    // chunk's write-locked rows (a heap scan would and would block — which
    // is itself the per-chunk-lock story the reference throttles around).
    val reader = java.sql.DriverManager.getConnection(url)
    reader.createStatement().executeUpdate("""CREATE INDEX txn_commit_id ON txn_commit ("id")""")
    val observed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    try {
      JdbcBatch.executeChunkedDml(url,
        """UPDATE txn_commit SET "done" = 1 WHERE "id" BETWEEN {start} AND {end}""",
        "id", "txn_commit", cfg(50),
        inTxn = { (chunk, _) =>
          // Derby's optimizer prefers a heap scan here (the "done" column
          // forces row fetches anyway), which would walk into the open
          // chunk's write locks — pin the id index so the range scan stops
          // before the current chunk.
          val rs = reader.createStatement().executeQuery(
            s"SELECT COUNT(*) FROM txn_commit --DERBY-PROPERTIES index=TXN_COMMIT_ID\n" +
              s""" WHERE "done" = 1 AND "id" < ${chunk.start}""")
          rs.next()
          observed += ((chunk.start.toLong, rs.getLong(1)))
        })
    } finally reader.close()
    // Everything before each chunk is visible to other connections (ids are
    // dense from 1, so committed-below-start == start - 1); nothing from the
    // open chunk is.
    assert(observed.toList == List((1L, 0L), (51L, 50L), (101L, 100L), (151L, 150L)))
    val back = spark.read.jdbc(url, "txn_commit", new java.util.Properties)
    assert(back.filter(col("done") === 1).count() == 200)
  }

  test("executeChunkedDml: a failed chunk rolls back atomically and the retry re-runs it whole") {
    seeded
    val src = (1L to 100L).map(i => (i, 0L)).toDF("id", "done")
    src.write.mode("overwrite").jdbc(url, "txn_retry", new java.util.Properties)
    val attempts = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
    val rpt = JdbcBatch.executeChunkedDml(url,
      """UPDATE txn_retry SET "done" = "done" + 1 WHERE "id" BETWEEN {start} AND {end}""",
      "id", "txn_retry", cfg(25).copy(retryAttempts = 3),
      inTxn = { (chunk, conn) =>
        val st = chunk.start.toLong
        attempts(st) += 1
        // extra statement in the SAME transaction: must vanish on rollback
        conn.createStatement().executeUpdate(
          s"""INSERT INTO txn_retry VALUES (${9000 + st}, 99)""")
        if (st == 51L && attempts(st) == 1)
          throw new RuntimeException("boom: poisoned first attempt")
      })
    assert(rpt.processed.size == 4)
    assert(attempts(51L) == 2) // failed once, retried whole
    val back = spark.read.jdbc(url, "txn_retry", new java.util.Properties)
    // The template is NOT idempotent ("done" + 1): done == 1 everywhere
    // proves the failed attempt's UPDATE was rolled back before the retry.
    assert(back.filter(col("id") <= 100).filter(col("done") === 1).count() == 100)
    // Exactly one audit row per chunk: the poisoned attempt's insert for
    // chunk 51 was rolled back with it.
    assert(back.filter(col("id") >= 9000).count() == 4)
    assert(back.filter(col("id") === 9051).count() == 1)
  }

  test("executeChunkedDml: failing 2 of 3 attempts per chunk triples the calls (t/dbh.t:283-325)") {
    seeded
    val src = (1L to 120L).map(i => (i, 0L)).toDF("id", "done")
    src.write.mode("overwrite").jdbc(url, "txn_law", new java.util.Properties)
    // The reference's retry law: with a retry budget, a statement that
    // fails its first two attempts and succeeds on the third makes the
    // total call count exactly 3x the chunk count.
    val attempts = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
    val rpt = JdbcBatch.executeChunkedDml(url,
      """UPDATE txn_law SET "done" = "done" + 1 WHERE "id" BETWEEN {start} AND {end}""",
      "id", "txn_law", cfg(30).copy(retryAttempts = 10),
      inTxn = { (chunk, _) =>
        val st = chunk.start.toLong
        attempts(st) += 1
        if (attempts(st) <= 2) throw new RuntimeException(s"flaky chunk $st attempt ${attempts(st)}")
      })
    assert(rpt.processed.size == 4) // 120 ids / 30
    assert(attempts.values.sum == 3 * 4)
    assert(attempts.values.forall(_ == 3))
    val back = spark.read.jdbc(url, "txn_law", new java.util.Properties)
    // rollback before each retry => the non-idempotent increment landed once
    assert(back.filter(col("done") === 1).count() == 120)
  }

  test("executeChunkedDml: a dropped connection is rebuilt before the retry (DBIx::Connector::Retry semantics)") {
    seeded
    val src = (1L to 100L).map(i => (i, 0L)).toDF("id", "done")
    src.write.mode("overwrite").jdbc(url, "txn_reconn", new java.util.Properties)
    val attempts = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
    val seen = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Int]]
    val rpt = JdbcBatch.executeChunkedDml(url,
      """UPDATE txn_reconn SET "done" = "done" + 1 WHERE "id" BETWEEN {start} AND {end}""",
      "id", "txn_reconn", cfg(25).copy(retryAttempts = 3),
      inTxn = { (chunk, conn) =>
        val st = chunk.start.toLong
        attempts(st) += 1
        seen.getOrElseUpdate(st, scala.collection.mutable.Set.empty) += System.identityHashCode(conn)
        // Simulate the connection dropping mid-chunk: roll back the open
        // transaction and CLOSE the handle. The loop's commit then fails
        // with a connection-class SQLException; without a rebuild, every
        // retry would fail on the same dead handle until the budget burns.
        if (st == 51L && attempts(st) == 1) { conn.rollback(); conn.close() }
      })
    assert(rpt.processed.size == 4)
    assert(attempts(51L) == 2) // died once, retried ONCE on a fresh connection
    // the retry ran on a different physical connection than the dead one
    assert(seen(51L).size == 2, s"retry reused the dead handle: ${seen(51L)}")
    // exactly-once key coverage despite the non-idempotent template: the
    // dead attempt's update was rolled back before the handle died
    val back = spark.read.jdbc(url, "txn_reconn", new java.util.Properties)
    assert(back.filter(col("done") === 1).count() == 100)
    assert(back.filter(col("done") =!= 1).count() === 0)
  }

  test("executeChunkedDml: commit log makes a LOST COMMIT ACK idempotent (plain retry double-applies)") {
    seeded
    // Scenario: the connection dies after the server applies COMMIT but
    // before the ack reaches the client — indistinguishable, client-side,
    // from dying before the commit. Simulated by committing manually in
    // inTxn and then closing the handle, so the loop's own commit() fails
    // connection-class while the chunk's work is already durable.
    def lostAck(table: String, log: Option[String]) = {
      val src = (1L to 100L).map(i => (i, 0L)).toDF("id", "done")
      src.write.mode("overwrite").jdbc(url, table, new java.util.Properties)
      val attempts = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
      val rpt = JdbcBatch.executeChunkedDml(url,
        s"""UPDATE $table SET "done" = "done" + 1 WHERE "id" BETWEEN {start} AND {end}""",
        "id", table, cfg(25).copy(retryAttempts = 3),
        inTxn = { (chunk, conn) =>
          val st = chunk.start.toLong
          attempts(st) += 1
          if (st == 51L && attempts(st) == 1) { conn.commit(); conn.close() }
        },
        commitLog = log, runId = if (log.isDefined) "ack-run" else "")
      (attempts, rpt, spark.read.jdbc(url, table, new java.util.Properties))
    }
    // Negative control — plain retry re-runs the already-committed chunk:
    // the non-idempotent increment lands TWICE on the poisoned range.
    val (attemptsPlain, _, backPlain) = lostAck("txn_ack_plain", None)
    assert(attemptsPlain(51L) == 2)
    assert(backPlain.filter(col("done") === 2).count() == 25) // ids 51-75 double-applied
    // With the journal: the retry sees the committed journal row and skips
    // the chunk whole — exactly-once even though the ack was lost.
    val (attemptsLog, rptLog, backLog) = lostAck("txn_ack_log_t", Some("txn_ack_journal"))
    assert(attemptsLog(51L) == 1) // the chunk body never re-ran
    assert(backLog.filter(col("done") === 1).count() == 100)
    assert(backLog.filter(col("done") =!= 1).count() == 0)
    val j = spark.read.jdbc(url, "txn_ack_journal", new java.util.Properties)
    assert(j.count() == 4) // one journal row per chunk
    // Observability: the replayed-and-skipped chunk is reported DISTINCT
    // from executed ones, and processed + skipped-via-journal tile the
    // keyspace — an exactly-once audit can see what actually re-ran.
    assert(rptLog.skippedJournal.map(_.chunk.start) == Vector(BigInt(51)))
    assert(rptLog.processed.size == 3)
    val covered = (rptLog.processed ++ rptLog.skippedJournal).map(_.chunk)
      .sortBy(_.start).flatMap(c => c.start.toLong to c.end.toLong)
    assert(covered == (1L to 100L).toVector)
  }

  test("executeChunkedDml: journaled exactly-once holds for EVERY chunk x both death modes") {
    seeded
    // Exhaustive over the failure space the journal must cover: the
    // connection dies at chunk k either BEFORE its commit (work must be
    // re-run once) or AFTER the server committed but before the ack
    // (work must NOT re-run) — for every chunk of a 4-chunk run.
    for (poisonStart <- Seq(1L, 26L, 51L, 76L); afterCommit <- Seq(false, true)) {
      val table = s"txn_x_${poisonStart}_$afterCommit".replace("true", "t").replace("false", "f")
      val src = (1L to 100L).map(i => (i, 0L)).toDF("id", "done")
      src.write.mode("overwrite").jdbc(url, table, new java.util.Properties)
      val attempts = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
      JdbcBatch.executeChunkedDml(url,
        s"""UPDATE $table SET "done" = "done" + 1 WHERE "id" BETWEEN {start} AND {end}""",
        "id", table, cfg(25).copy(retryAttempts = 3),
        inTxn = { (chunk, conn) =>
          val st = chunk.start.toLong
          attempts(st) += 1
          if (st == poisonStart && attempts(st) == 1) {
            if (afterCommit) conn.commit()
            else conn.rollback()
            conn.close()
          }
        },
        commitLog = Some(s"${table}_j"), runId = "x-run")
      val label = s"chunk $poisonStart afterCommit=$afterCommit"
      // ack-lost: journal row visible, retry skips the body entirely;
      // death-before-commit: nothing durable, retry re-runs the body once
      assert(attempts(poisonStart) == (if (afterCommit) 1 else 2), label)
      val back = spark.read.jdbc(url, table, new java.util.Properties)
      assert(back.filter(col("done") === 1).count() == 100, label)
      assert(back.filter(col("done") =!= 1).count() == 0, label)
    }
  }

  test("executeChunkedDml: journal-derived resume is exactly-once across restarts under ADAPTIVE sizing") {
    seeded
    // The hole this closes: the state file is written AFTER the commit ack,
    // so a process can die with chunk (s, e) durable but the file stale.
    // With runtime targeting on, the restart re-plans from the RESET
    // chunkSize — boundaries shift, the exact-match journal probe misses,
    // and a non-idempotent template double-applies over the overlap. The
    // journal's MAX(chunk_end) commits atomically WITH the work, so
    // resuming from it is exact no matter how sizing diverged.
    val stateDir = java.nio.file.Files.createTempDirectory("jdbc-jresume").toString
    val src = (1L to 200L).map(i => (i, 0L)).toDF("id", "done")
    src.write.mode("overwrite").jdbc(url, "txn_jresume", new java.util.Properties)
    // targetTime > 0 with near-instant chunks: after 5 timings the engine
    // doubles chunkSize (3 -> 6), so run 1 commits chunks of BOTH sizes.
    val cfgA = ChunkerConfig(chunkSize = BigInt(3), targetTime = 30, sleep = 0,
      minChunkPercent = 0, retryAttempts = 1, log = quiet, stateDir = Some(stateDir))
    val chunks1 = scala.collection.mutable.ArrayBuffer.empty[(BigInt, BigInt)]
    intercept[RuntimeException] {
      JdbcBatch.executeChunkedDml(url,
        """UPDATE txn_jresume SET "done" = "done" + 1 WHERE "id" BETWEEN {start} AND {end}""",
        "id", "txn_jresume", cfgA,
        inTxn = { (chunk, _) =>
          chunks1 += ((chunk.start, chunk.end))
          Thread.sleep(2) // a measurable >0 runtime for the targeting law
          if (chunks1.size == 9) throw new RuntimeException("process killed")
        },
        commitLog = Some("txn_jresume_j"), runId = "jresume-run")
    }
    val committed = chunks1.init // chunk 9 threw before its commit
    assert(committed.map(c => c._2 - c._1 + 1).distinct.size > 1,
      s"chunk size never grew — the test premise is broken: $committed")
    // Simulate dying after the last COMMIT but before the state-file write:
    // rewind the resume file to an earlier committed chunk's end. (Deleting
    // it outright is the same scenario one death earlier.)
    graft.chunker.ResumeState.write(stateDir, committed(1)._2)
    // Restart: fresh loop, chunkSize back at 3. Without the journal-derived
    // resume it would re-enter at the stale state point, fail the
    // exact-match probe on the GROWN chunks' boundaries, and double-apply.
    val starts2 = scala.collection.mutable.ArrayBuffer.empty[BigInt]
    JdbcBatch.executeChunkedDml(url,
      """UPDATE txn_jresume SET "done" = "done" + 1 WHERE "id" BETWEEN {start} AND {end}""",
      "id", "txn_jresume", cfgA,
      inTxn = (chunk, _) => starts2 += chunk.start,
      commitLog = Some("txn_jresume_j"), runId = "jresume-run")
    assert(starts2.head == committed.last._2 + 1,
      s"resume point ${starts2.head} is not the journal high-water mark + 1")
    // Exactly-once key coverage under the non-idempotent increment.
    val back = spark.read.jdbc(url, "txn_jresume", new java.util.Properties)
    assert(back.filter(col("done") === 1).count() == 200)
    assert(back.filter(col("done") =!= 1).count() == 0)
  }

  test("the journal is the resume record: journaled and planning paths write no state file") {
    seeded
    val stateDir = java.nio.file.Files.createTempDirectory("jdbc-nostate").toString
    val cfgS = cfg(25).copy(stateDir = Some(stateDir))
    (1L to 100L).map(i => (i, 0L)).toDF("id", "done")
      .write.mode("overwrite").jdbc(url, "txn_nostate", new java.util.Properties)
    val dml = """UPDATE txn_nostate SET "done" = "done" + 1 WHERE "id" BETWEEN {start} AND {end}"""
    val rpt = JdbcBatch.executeChunkedDml(url, dml, "id", "txn_nostate", cfgS,
      commitLog = Some("txn_nostate_j"), runId = "nostate-run")
    assert(rpt.processed.size == 4)
    assert(graft.chunker.ResumeState.read(stateDir).isEmpty, "journaled run wrote a state file")
    // The chunk planners of the parallel DML and the chunked read are no
    // progress either.
    JdbcBatch.executeChunkedDmlPar(url, dml, "id", "txn_nostate", cfgS, parallelism = 2,
      commitLog = "txn_nostate_j", runId = "nostate-par")
    assert(JdbcBatch.readChunked(spark, url, "txn_nostate", "id", cfgS).count() == 100)
    assert(graft.chunker.ResumeState.read(stateDir).isEmpty, "a planner wrote a state file")
    assert(spark.read.jdbc(url, "txn_nostate", new java.util.Properties)
      .filter(col("done") === 2).count() == 100)
  }

  test("executeChunkedDml: run_id scopes the journal — a second logical run applies, a resumed one skips") {
    seeded
    val src = (1L to 60L).map(i => (i, 0L)).toDF("id", "done")
    src.write.mode("overwrite").jdbc(url, "txn_runid", new java.util.Properties)
    def run(id: String): Seq[BigInt] = {
      val starts = scala.collection.mutable.ArrayBuffer.empty[BigInt]
      JdbcBatch.executeChunkedDml(url,
        """UPDATE txn_runid SET "done" = "done" + 1 WHERE "id" BETWEEN {start} AND {end}""",
        "id", "txn_runid", cfg(20),
        inTxn = (chunk, _) => starts += chunk.start,
        commitLog = Some("txn_runid_j"), runId = id)
      starts.toSeq
    }
    // Logical run 1 under one run_id; run 2 is a LEGITIMATE re-application
    // under a fresh run_id — it must apply fully, not no-op on run 1's rows.
    assert(run("2026-07").size == 3)
    assert(run("2026-08").size == 3)
    val back = spark.read.jdbc(url, "txn_runid", new java.util.Properties)
    assert(back.filter(col("done") === 2).count() == 60)
    // Re-entering a COMPLETED run's run_id is a resume: the journal
    // high-water mark covers the whole keyspace, so nothing re-applies.
    assert(run("2026-08").isEmpty)
    assert(spark.read.jdbc(url, "txn_runid", new java.util.Properties)
      .filter(col("done") === 2).count() == 60)
  }

  test("executeChunkedDml: commitLog without a runId fails fast (silent-no-op footgun)") {
    seeded
    // Journal rows are scoped by run_id; with an implicit shared default, a
    // second legitimate run would silently no-op every chunk against the
    // first run's rows. The API refuses the call shape outright.
    val e = intercept[IllegalArgumentException] {
      JdbcBatch.executeChunkedDml(url,
        """UPDATE chunk_src SET "val" = "val" WHERE "id" BETWEEN {start} AND {end}""",
        "id", "chunk_src", cfg(100), commitLog = Some("no_runid_journal"))
    }
    assert(e.getMessage.contains("runId"))
  }

  test("startup probes run under the engine retry budget: a DB that flaps twice at startup still completes") {
    // The JdbcBatch startup shape exactly: range discovery wrapped in
    // engine.retrying. ProbeConnection only survives ONE rebuild-and-reissue
    // per call, so a source that fails twice (rebuild also refused) used to
    // kill the run before the first chunk; under the chunk retry budget it
    // completes.
    val failures = new java.util.concurrent.atomic.AtomicInteger(2)
    val source = new graft.chunker.RangeSource {
      private def flaky[A](v: A): A =
        if (failures.getAndDecrement() > 0)
          throw new java.sql.SQLTransientConnectionException("startup flap")
        else v
      override def minId(): Option[BigInt] = flaky(Some(BigInt(1)))
      override def maxId(): Option[BigInt] = Some(BigInt(100))
    }
    val engine = new graft.chunker.ChunkEngine(cfg(25).copy(retryAttempts = 5), Some(source))
    assert(engine.retrying("Startup range probe")(engine.calculateRanges()))
    val starts = scala.collection.mutable.ArrayBuffer.empty[BigInt]
    engine.execute(c => starts += c.start)
    assert(starts.toList == List(BigInt(1), BigInt(26), BigInt(51), BigInt(76)))
    // With a budget of 2 the same double flap exhausts it and propagates —
    // the classification and budget are the engine's, not a bottomless loop.
    val failures2 = new java.util.concurrent.atomic.AtomicInteger(2)
    val source2 = new graft.chunker.RangeSource {
      override def minId(): Option[BigInt] =
        if (failures2.getAndDecrement() > 0)
          throw new java.sql.SQLTransientConnectionException("startup flap")
        else Some(BigInt(1))
      override def maxId(): Option[BigInt] = Some(BigInt(100))
    }
    val engine2 = new graft.chunker.ChunkEngine(cfg(25).copy(retryAttempts = 2), Some(source2))
    intercept[java.sql.SQLTransientConnectionException] {
      engine2.retrying("Startup range probe")(engine2.calculateRanges())
    }
  }

  test("ProbeConnection: a dropped probe handle is rebuilt and the read re-issued, not failed") {
    seeded
    // The probe side (range discovery, count probes, journal point-SELECTs)
    // serves EVERY chunk of executeChunkedDml, so a single dropped socket
    // must not fail the whole run while the DML side reconnects happily.
    val pc = new ProbeConnection(url, new java.util.Properties)
    try {
      def countSrc(): Long = pc { c =>
        val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM chunk_src")
        rs.next(); rs.getLong(1)
      }
      assert(countSrc() == 500)
      val before = pc.current
      // Fault-inject the drop: Derby embedded has no server-side kill, so
      // closing the handle out from under the caller is the equivalent
      // client-visible failure (statement throws connection-class).
      before.close()
      assert(countSrc() == 500) // same idempotent read, re-issued transparently
      assert(pc.current ne before, "probe read succeeded on the dead handle?")
      assert(!pc.current.isClosed)
    } finally pc.close()
  }

  test("executeChunkedDml: crash-resume re-enters after the last committed transaction") {
    seeded
    val stateDir = java.nio.file.Files.createTempDirectory("jdbc-resume").toString
    val src = (1L to 100L).map(i => (i, 0L)).toDF("id", "done")
    src.write.mode("overwrite").jdbc(url, "txn_resume", new java.util.Properties)
    val cfgS = cfg(25).copy(stateDir = Some(stateDir))
    // Run 1 "crashes" at the chunk starting at 51 (retry budget 1).
    intercept[RuntimeException] {
      JdbcBatch.executeChunkedDml(url,
        """UPDATE txn_resume SET "done" = "done" + 1 WHERE "id" BETWEEN {start} AND {end}""",
        "id", "txn_resume", cfgS,
        inTxn = (chunk, _) => if (chunk.start == BigInt(51)) throw new RuntimeException("crash"))
    }
    assert(graft.chunker.ResumeState.read(stateDir).contains(BigInt(50)))
    // Run 2: fresh loop, same stateDir — picks up at 51.
    val starts = scala.collection.mutable.ArrayBuffer.empty[BigInt]
    JdbcBatch.executeChunkedDml(url,
      """UPDATE txn_resume SET "done" = "done" + 1 WHERE "id" BETWEEN {start} AND {end}""",
      "id", "txn_resume", cfgS,
      inTxn = (chunk, _) => starts += chunk.start)
    assert(starts.head == BigInt(51))
    // Non-idempotent template + rollback of the crashed chunk + resume
    // after the committed ones = every row incremented exactly once.
    val back = spark.read.jdbc(url, "txn_resume", new java.util.Properties)
    assert(back.filter(col("done") === 1).count() == 100)
  }

  test("executeChunkedDml: count probe feeds the density ladder over JDBC") {
    seeded
    val src = (1L to 300L).filter(i => i <= 60 || i > 240).map(i => (i, 0L)).toDF("id", "done")
    src.write.mode("overwrite").jdbc(url, "txn_gappy", new java.util.Properties)
    // 180-id gap in the middle: with the probe on, the ladder SKIPS the
    // empty blocks instead of issuing no-op DML transactions for them.
    val rpt = JdbcBatch.executeChunkedDml(url,
      """UPDATE txn_gappy SET "done" = 1 WHERE "id" BETWEEN {start} AND {end}""",
      "id", "txn_gappy",
      ChunkerConfig(chunkSize = BigInt(60), targetTime = 0, sleep = 0,
        minChunkPercent = 0.3, log = _ => ()),
      enableCountProbe = true)
    assert(rpt.skipped.nonEmpty)
    val back = spark.read.jdbc(url, "txn_gappy", new java.util.Properties)
    assert(back.filter(col("done") === 1).count() == 120)
  }

  test("executeChunkedDmlPar: concurrent chunk commits apply exactly once and a re-run is a no-op") {
    seeded
    val src = (1L to 400L).map(i => (i, i)).toDF("id", "val")
    src.write.mode("overwrite").jdbc(url, "par_bump", new java.util.Properties)
    // Same indexing rule the sequential Derby entry documents: without it
    // every chunk's range DML heap-scans into sibling transactions' row
    // locks and Derby aborts with SQLTransactionRollbackException.
    locally {
      val c = java.sql.DriverManager.getConnection(url)
      try c.createStatement().executeUpdate("""CREATE INDEX par_bump_id ON par_bump ("id")""")
      finally c.close()
    }
    val rpt = JdbcBatch.executeChunkedDmlPar(url,
      """UPDATE par_bump SET "val" = "val" + 1000 WHERE "id" BETWEEN {start} AND {end}""",
      "id", "par_bump", cfg(50), parallelism = 4,
      commitLog = "par_bump_log", runId = "par-bump-1")
    assert(rpt.processed.size == 8 && rpt.skippedJournal.isEmpty)
    // Outcomes come back in PLAN order regardless of completion order.
    assert(rpt.outcomes.map(_.chunk.start) == (0 until 8).map(i => BigInt(1 + 50 * i)).toVector)
    val back = spark.read.jdbc(url, "par_bump", new java.util.Properties)
    assert(back.filter(col("val") === col("id") + 1000).count() == 400,
      "every row must be bumped exactly once across the concurrent chunks")
    // Resume of a COMPLETED run: every chunk journal-skips, nothing re-applies.
    val again = JdbcBatch.executeChunkedDmlPar(url,
      """UPDATE par_bump SET "val" = "val" + 1000 WHERE "id" BETWEEN {start} AND {end}""",
      "id", "par_bump", cfg(50), parallelism = 4,
      commitLog = "par_bump_log", runId = "par-bump-1")
    assert(again.processed.isEmpty && again.skippedJournal.size == 8)
    assert(spark.read.jdbc(url, "par_bump", new java.util.Properties)
      .filter(col("val") === col("id") + 1000).count() == 400)
  }

  test("executeChunkedDmlPar: a crash mid-parallel-run resumes from the journal's coverage set, not MAX(chunk_end)") {
    seeded
    val src = (1L to 400L).map(i => (i, i)).toDF("id", "val")
    src.write.mode("overwrite").jdbc(url, "par_gap", new java.util.Properties)
    // Same indexing rule the sequential Derby entry documents: without it
    // every chunk's range DML heap-scans into sibling transactions' row
    // locks and Derby aborts with SQLTransactionRollbackException.
    locally {
      val c = java.sql.DriverManager.getConnection(url)
      try c.createStatement().executeUpdate("""CREATE INDEX par_gap_id ON par_gap ("id")""")
      finally c.close()
    }
    val tpl = """UPDATE par_gap SET "val" = "val" + 1000 WHERE "id" BETWEEN {start} AND {end}"""
    // Deterministic crash shape: the FIRST chunk's worker waits until every
    // OTHER chunk has reached its transaction body, then dies — out-of-order
    // completion leaves the journal with a gap at the LOW end of the
    // keyspace and MAX(chunk_end) at the top: the exact case where the
    // sequential loop's high-water-mark resume law would skip real work.
    //
    // Chunk 1 ROLLS BACK before waiting (r19, same change as the
    // dml_chunked_update_par entry): its uncommitted UPDATE is discarded by
    // the throw anyway, and holding its row locks across the latch window
    // made the premise depend on Derby's plan choice — under full-suite
    // load the optimizer can compile a sibling's range UPDATE as a heap
    // scan, which then blocks on chunk 1's locks and times out (40XL1)
    // before ever counting down. With the locks released first, no sibling
    // can block on chunk 1 and the premise holds whatever plan Derby picks.
    // The journal shape the test exists to exercise is unchanged: chunk 1
    // un-journaled (the gap), 7 siblings committed.
    val others = new java.util.concurrent.CountDownLatch(7)
    val boom = intercept[RuntimeException] {
      JdbcBatch.executeChunkedDmlPar(url, tpl, "id", "par_gap",
        cfg(50), parallelism = 8, commitLog = "par_gap_log", runId = "par-gap-1",
        inTxn = { (chunk, conn) =>
          if (chunk.start == BigInt(1)) {
            conn.rollback() // release row locks BEFORE the wait
            assert(others.await(120, java.util.concurrent.TimeUnit.SECONDS),
              "test premise: sibling chunks never reached their bodies")
            throw new RuntimeException("simulated mid-run death")
          } else others.countDown()
        })
    }
    assert(boom.getMessage.contains("simulated mid-run death"))
    // The journal now has 7 committed chunks, a GAP at (1, 50), and a plan
    // row pinning the discovered range.
    val jconn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = jconn.createStatement().executeQuery(
        """SELECT COUNT(*), MAX("chunk_end"), MIN("chunk_start") FROM par_gap_log WHERE "run_id" = 'par-gap-1'""")
      rs.next()
      assert(rs.getLong(1) == 7, "expected every sibling chunk committed")
      assert(rs.getLong(2) == 400 && rs.getLong(3) == 51,
        "premise: MAX(chunk_end) covers the keyspace while (1,50) is missing — " +
          "an HWM resume would skip the gap entirely")
      val pr = jconn.createStatement().executeQuery(
        """SELECT "chunk_start", "chunk_end" FROM par_gap_log WHERE "run_id" = 'par-gap-1#plan'""")
      assert(pr.next() && pr.getLong(1) == 1 && pr.getLong(2) == 400, "plan row must pin (1, 400)")
    } finally jconn.close()
    // Resume with the same runId: ONLY the gap runs; committed chunks skip.
    val resumed = JdbcBatch.executeChunkedDmlPar(url, tpl, "id", "par_gap",
      cfg(50), parallelism = 8, commitLog = "par_gap_log", runId = "par-gap-1")
    assert(resumed.processed.map(_.chunk) == Vector(graft.chunker.Chunk(BigInt(1), BigInt(50))))
    assert(resumed.skippedJournal.size == 7)
    val back = spark.read.jdbc(url, "par_gap", new java.util.Properties)
    assert(back.filter(col("val") === col("id") + 1000).count() == 400,
      "after the resume every row must be bumped EXACTLY once — the gap applied, nothing double-applied")
  }

  test("executeChunkedDmlPar: resume replans from the PINNED range after the DML moved the live range") {
    seeded
    val src = (1L to 400L).map(i => (i, i)).toDF("id", "val")
    src.write.mode("overwrite").jdbc(url, "par_del", new java.util.Properties)
    // Same indexing rule the sequential Derby entry documents: without it
    // every chunk's range DML heap-scans into sibling transactions' row
    // locks and Derby aborts with SQLTransactionRollbackException.
    locally {
      val c = java.sql.DriverManager.getConnection(url)
      try c.createStatement().executeUpdate("""CREATE INDEX par_del_id ON par_del ("id")""")
      finally c.close()
    }
    val tpl = """DELETE FROM par_del WHERE "id" BETWEEN {start} AND {end}"""
    val others = new java.util.concurrent.CountDownLatch(7)
    intercept[RuntimeException] {
      JdbcBatch.executeChunkedDmlPar(url, tpl, "id", "par_del",
        cfg(50), parallelism = 8, commitLog = "par_del_log", runId = "par-del-1",
        inTxn = { (chunk, conn) =>
          if (chunk.start == BigInt(1)) {
            conn.rollback() // release row locks BEFORE the wait (see par_gap)
            assert(others.await(120, java.util.concurrent.TimeUnit.SECONDS))
            throw new RuntimeException("simulated mid-run death")
          } else others.countDown()
        })
    }
    // The crashed run DELETED everything but the first chunk's rows: a fresh
    // MIN/MAX discovery would now see (1, 50) and plan ONE chunk — the plan
    // row forces the resume to replan the ORIGINAL eight, so the exact-match
    // coverage probes line up with what the journal recorded.
    val live = spark.read.jdbc(url, "par_del", new java.util.Properties)
    assert(live.count() == 50 && live.agg(max(col("id"))).head().getLong(0) == 50)
    val resumed = JdbcBatch.executeChunkedDmlPar(url, tpl, "id", "par_del",
      cfg(50), parallelism = 8, commitLog = "par_del_log", runId = "par-del-1")
    assert(resumed.outcomes.size == 8, "resume must replan the pinned (1,400) range, not the shrunk live one")
    assert(resumed.processed.map(_.chunk) == Vector(graft.chunker.Chunk(BigInt(1), BigInt(50))))
    assert(resumed.skippedJournal.size == 7)
    assert(spark.read.jdbc(url, "par_del", new java.util.Properties).count() == 0)
  }

  test("executeChunkedDmlPar: a LOST COMMIT ACK journal-skips on retry instead of double-applying") {
    seeded
    val src = (1L to 200L).map(i => (i, i)).toDF("id", "val")
    src.write.mode("overwrite").jdbc(url, "par_ack", new java.util.Properties)
    locally {
      val c = java.sql.DriverManager.getConnection(url)
      try c.createStatement().executeUpdate("""CREATE INDEX par_ack_id ON par_ack ("id")""")
      finally c.close()
    }
    // Simulate the lost ack on chunk (51,100): inTxn COMMITS the chunk's
    // transaction itself (work + journal row durable server-side), then
    // dies with a connection-class failure — to the worker this is
    // indistinguishable from a death BEFORE the commit. The per-ATTEMPT
    // journal probe is what keeps the retry from re-applying the
    // non-idempotent bump.
    val bodyRuns = new java.util.concurrent.atomic.AtomicInteger(0)
    val rpt = JdbcBatch.executeChunkedDmlPar(url,
      """UPDATE par_ack SET "val" = "val" + 1000 WHERE "id" BETWEEN {start} AND {end}""",
      "id", "par_ack", cfg(50).copy(retryAttempts = 3), parallelism = 4,
      commitLog = "par_ack_log", runId = "par-ack-1",
      inTxn = { (chunk, conn) =>
        if (chunk.start == BigInt(51) && bodyRuns.incrementAndGet() == 1) {
          conn.commit() // the server applied it...
          throw new java.sql.SQLNonTransientConnectionException("ack lost") // ...we never heard
        }
      })
    // The retry's PER-ATTEMPT journal probe fired BEFORE the body: the
    // chunk's transaction ran exactly once, the retry never re-entered it.
    assert(bodyRuns.get() == 1, "the lost-ack retry must skip before re-running the body")
    // The retry's journal probe saw the durable row: final dispatch is
    // skipped-journal, the other three chunks processed.
    assert(rpt.skippedJournal.map(_.chunk) == Vector(graft.chunker.Chunk(BigInt(51), BigInt(100))))
    assert(rpt.processed.size == 3)
    val back = spark.read.jdbc(url, "par_ack", new java.util.Properties)
    assert(back.filter(col("val") === col("id") + 1000).count() == 200,
      "every row bumped exactly once — the lost-ack retry must not double-apply")
  }

  test("executeChunkedDmlPar: a crashed run prints no RejectedExecutionException traces") {
    seeded
    (1L to 400L).map(i => (i, i)).toDF("id", "val")
      .write.mode("overwrite").jdbc(url, "par_err", new java.util.Properties)
    val buf = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    try {
      val boom = intercept[RuntimeException] {
        JdbcBatch.executeChunkedDmlPar(url,
          """UPDATE par_err SET "val" = "val" + 1 WHERE "id" BETWEEN {start} AND {end}""",
          "id", "par_err", cfg(10), parallelism = 2, commitLog = "par_err_log", runId = "par-err-1",
          inTxn = (chunk, _) => if (chunk.start == BigInt(1)) throw new RuntimeException("crash"))
      }
      assert(boom.getMessage == "crash")
    } finally System.setErr(stderr)
    assert(!buf.toString.contains("RejectedExecutionException"), buf.toString)
  }

  test("executeChunkedDmlPar: a crash after ANY number of commits resumes exactly once (parallelism 2)") {
    val rows = 60
    val plan = graft.chunker.Chunk.fixedPlan(1, rows, 10)
    for (k <- 0 to plan.size) {
      val (tbl, journal, runId) = (s"par_every_$k", s"par_every_log_$k", s"par-every-$k")
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        st.executeUpdate(s"""CREATE TABLE $tbl ("id" BIGINT NOT NULL, "val" BIGINT NOT NULL)""")
        st.executeUpdate(s"INSERT INTO $tbl VALUES " + (1 to rows).map(i => s"($i, 0)").mkString(", "))
        st.executeUpdate(s"""CREATE INDEX ${tbl}_id ON $tbl ("id")""")
      } finally c.close()
      val tpl = s"""UPDATE $tbl SET "val" = "val" + 1 WHERE "id" BETWEEN {start} AND {end}"""
      // Every chunk body after the k-th poisons the run: exactly k chunks
      // commit, and the in-flight sibling of the poisoned one finishes first.
      val bodies = new java.util.concurrent.atomic.AtomicInteger()
      val crashed = scala.util.Try(JdbcBatch.executeChunkedDmlPar(url, tpl, "id", tbl, cfg(10),
        parallelism = 2, commitLog = journal, runId = runId,
        inTxn = (_, _) => if (bodies.getAndIncrement() >= k) throw new RuntimeException("crash")))
      assert(crashed.isFailure == (k < plan.size), s"k=$k: $crashed")
      val resumed = JdbcBatch.executeChunkedDmlPar(url, tpl, "id", tbl, cfg(10),
        parallelism = 2, commitLog = journal, runId = runId)
      assert(resumed.outcomes.map(_.chunk) == plan, s"k=$k")
      assert(resumed.outcomes.forall(o => o.action == "processed" || o.action == "skipped-journal"), s"k=$k")
      assert(resumed.skippedJournal.size == k, s"k=$k")
      val back = spark.read.jdbc(url, tbl, new java.util.Properties)
      assert(back.filter(col("val") === 1).count() == rows, s"k=$k: every row updated exactly once")
    }
  }

  test("fixed-size plans never sleep, and readChunked needs the fixed-size configuration") {
    seeded
    val sleepy = cfg(100).copy(sleep = 2)
    val t0 = System.nanoTime()
    assert(JdbcBatch.readChunked(spark, url, "chunk_src", "id", sleepy).rdd.getNumPartitions == 5)
    val readS = (System.nanoTime() - t0) / 1e9
    assert(readS < 1.0, s"readChunked took $readS s to plan 5 chunks")
    intercept[IllegalArgumentException] {
      JdbcBatch.readChunked(spark, url, "chunk_src", "id", sleepy.copy(targetTime = 5))
    }
  }

  test("empty table: readChunked returns an empty frame without failing") {
    val empty = Seq.empty[(Long, String)].toDF("id", "name")
    empty.write.mode("overwrite").jdbc(url, "chunk_empty", new java.util.Properties)
    val df = JdbcBatch.readChunked(spark, url, "chunk_empty", "id", cfg(100))
    assert(df.count() == 0)
  }
}
