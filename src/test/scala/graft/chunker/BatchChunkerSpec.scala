package graft.chunker

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructField, StructType, StringType}
import org.apache.spark.sql.Row
import graft.SparkTestSession
import scala.collection.mutable.ArrayBuffer

/** DataFrame-level behavior of the chunk loop: the reference's per-mode
  * coverage matrix (t/dbic.t, t/dbh.t, t/big-id.t) re-expressed over
  * DataFrames, plus the real testdata parquet.
  */
class BatchChunkerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val quiet: String => Unit = _ => ()
  private def cfg0 = ChunkerConfig(sleep = 0, targetTime = 0, log = quiet)

  private def captureStderr(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    try body
    finally System.setErr(old)
    buf.toString
  }

  private def gappyDf = {
    // track-style gappy ids incl. id 0 (t/lib/CDTest.pm:289-338)
    val ids = (0L to 20L) ++ (35L to 40L) ++ (100L to 120L)
    ids.toDF("id")
  }

  test("calculateRanges discovers min/max over a DataFrame (N1)") {
    val bc = new BatchChunker(gappyDf, "id", cfg0.copy(chunkSize = 10, minChunkPercent = 0))
    assert(bc.calculateRanges())
    assert(bc.minId.contains(BigInt(0)) && bc.maxId.contains(BigInt(120)))
  }

  test("calculateRanges on an empty DataFrame is false (lib/DBIx/BatchChunker.pm:1076)") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("id", org.apache.spark.sql.types.LongType))))
    val bc = new BatchChunker(empty, "id", cfg0.copy(chunkSize = 10))
    assert(!bc.calculateRanges())
  }

  test("rangeDf injects a separate range-discovery keyspace (min_stmt/max_stmt, BatchChunker.pm:339-402)") {
    // Work query: a filtered slice whose own MIN/MAX would be 35..40; the
    // injected range keyspace is the unfiltered parent — ranges must come
    // from the parent, the reference's min_stmt/max_stmt contract.
    val work = gappyDf.filter(col("id").between(35, 40))
    val bc = new BatchChunker(work, "id", cfg0.copy(chunkSize = 50, minChunkPercent = 0),
      rangeDf = Some(gappyDf))
    assert(bc.calculateRanges())
    assert(bc.minId.contains(BigInt(0)) && bc.maxId.contains(BigInt(120)),
      s"range should come from rangeDf: ${bc.minId} .. ${bc.maxId}")
    // The loop still walks the FULL injected range but only dispatches the
    // work df's rows.
    var rows = 0L
    val rpt = bc.foreachChunk(chunk => rows += chunk.count())
    assert(rows == 6)
    assert(rpt.outcomes.head.chunk.start == 0 && rpt.outcomes.last.chunk.end == 120)
    // A rangeDf missing the id column is rejected eagerly.
    val bad = new BatchChunker(work, "id", cfg0.copy(chunkSize = 50, minChunkPercent = 0),
      rangeDf = Some(gappyDf.withColumnRenamed("id", "other")))
    intercept[IllegalArgumentException](bad.calculateRanges())
  }

  test("foreachChunk covers every row exactly once over gappy ids (coverage invariant)") {
    val bc = new BatchChunker(gappyDf, "id", cfg0.copy(chunkSize = 10, minChunkPercent = 0.5))
    bc.calculateRanges()
    var rows = 0L
    val rpt = bc.foreachChunk(chunk => rows += chunk.count())
    assert(rows == 48) // 21 + 6 + 21
    assert(rpt.outcomes.last.chunk.end == 120)
  }

  test("foreachRow visits each row once; call count == row count (single_rows, t/dbic.t:126)") {
    val bc = new BatchChunker(gappyDf, "id", cfg0.copy(chunkSize = 10, minChunkPercent = 0.5))
    bc.calculateRanges()
    val seen = ArrayBuffer.empty[Long]
    bc.foreachRow(r => seen += r.getLong(0))
    assert(seen.size == 48)
    assert(seen.toSet == ((0L to 20L) ++ (35L to 40L) ++ (100L to 120L)).toSet)
  }

  test("foreachRow failure restarts the whole chunk (t/dbic.t:461-502)") {
    val df = (1L to 10L).toDF("id")
    val bc = new BatchChunker(df, "id", cfg0.copy(chunkSize = 10, minChunkPercent = 0, retryAttempts = 2))
    bc.calculateRanges()
    val seen = ArrayBuffer.empty[Long]
    var failed = false
    bc.foreachRow { r =>
      val v = r.getLong(0)
      if (v == 5 && !failed) { failed = true; throw new RuntimeException("boom mid-chunk") }
      seen += v
    }
    // first attempt saw 1-4, then the chunk restarted and saw all 10
    assert(seen.size == 14)
    assert(seen.drop(4).toSeq == (1L to 10L).toSeq)
  }

  test("runSql substitutes {start}/{end} per chunk (stmt mode, lib/DBIx/BatchChunker.pm:116-131)") {
    gappyDf.createOrReplaceTempView("gappy_ids")
    val bc = new BatchChunker(gappyDf, "id", cfg0.copy(chunkSize = 50, minChunkPercent = 0))
    bc.calculateRanges()
    var total = 0L
    bc.runSql(spark, "SELECT * FROM gappy_ids WHERE id BETWEEN {start} AND {end}", d => total += d.count())
    assert(total == 48)
  }

  test("foreachRange DIY mode hands out bare ranges (t/dbh.t:201-247)") {
    val bc = new BatchChunker(gappyDf, "id", cfg0.copy(chunkSize = 25, minChunkPercent = 0))
    bc.calculateRanges()
    val ranges = ArrayBuffer.empty[(BigInt, BigInt)]
    bc.foreachRange((s, e) => ranges += ((s, e)))
    assert(ranges.head == ((BigInt(0), BigInt(24))))
    assert(ranges.last._2 == BigInt(120))
  }

  test("manual min/max skips range discovery (t/dbh.t:249-281)") {
    val bc = new BatchChunker(gappyDf, "id", cfg0.copy(chunkSize = 10, minChunkPercent = 0))
    bc.minId = Some(BigInt(100))
    bc.maxId = Some(BigInt(120))
    var rows = 0L
    bc.foreachChunk(c => rows += c.count())
    assert(rows == 21)
  }

  test("DecimalType(38,0) ids beyond Long range work end-to-end (t/big-id.t)") {
    // The reference drives 41-digit ids (arbitrary-precision Perl BigInt);
    // Spark's DecimalType caps at 38 digits, so 38 digits is this engine's
    // documented ceiling. Driver-side planner math stays arbitrary-precision.
    val base = BigInt("9" + "01" * 18) // 37 digits
    val schema = StructType(Seq(StructField("id", DecimalType(38, 0))))
    val rows = Seq(base, base + 3, base + 7).map(v => Row(new java.math.BigDecimal(v.bigInteger)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val bc = new BatchChunker(df, "id", cfg0.copy(chunkSize = 5, minChunkPercent = 0.5))
    assert(bc.calculateRanges())
    assert(bc.minId.contains(base) && bc.maxId.contains(base + 7))
    var n = 0L
    bc.foreachChunk(c => n += c.count())
    assert(n == 3)
  }

  test("numeric string ids compare numerically, not lexically (lib/DBIx/BatchChunker.pm:1756-1770)") {
    // lexical order would put "9" after "100"
    val df = Seq("9", "10", "100", "101").toDF("id")
    val bc = new BatchChunker(df, "id", cfg0.copy(chunkSize = 200, minChunkPercent = 0))
    assert(bc.calculateRanges())
    assert(bc.minId.contains(BigInt(9)) && bc.maxId.contains(BigInt(101)))
    var n = 0L
    bc.foreachChunk(c => n += c.count())
    assert(n == 4)
  }

  test("unsupported id column types are rejected at construction (N17 validation)") {
    val df = Seq(1.5, 2.5).toDF("id")
    intercept[IllegalArgumentException] { new BatchChunker(df, "id", cfg0.copy(chunkSize = 10)) }
    intercept[IllegalArgumentException] { new BatchChunker(gappyDf, "nope", cfg0.copy(chunkSize = 10)) }
  }

  test("constructAndExecute convenience wrapper (N3)") {
    var rows = 0L
    val rpt = BatchChunker.constructAndExecute(gappyDf, "id",
      cfg0.copy(chunkSize = 30, minChunkPercent = 0))(c => rows += c.count())
    assert(rows == 48 && rpt.finishedRange)
  }

  test("real parquet: chunked scan over sf0.001 orders matches a direct count") {
    val orders = spark.read.parquet(s"${SparkTestSession.sfDir}/orders.parquet")
    val expected = orders.count()
    val bc = new BatchChunker(orders, "o_orderkey",
      cfg0.copy(chunkSize = 512, minChunkPercent = 0.5))
    assert(bc.calculateRanges())
    var rows = 0L
    val rpt = bc.foreachChunk(c => rows += c.count())
    assert(rows == expected)
    assert(rpt.processed.flatMap(_.count).sum == BigInt(expected))
  }

  test("between filter on a long id column is pushed down to the parquet scan") {
    val orders = spark.read.parquet(s"${SparkTestSession.sfDir}/orders.parquet")
    val bc = new BatchChunker(orders, "o_orderkey", cfg0.copy(chunkSize = 512))
    val plan = bc.chunkDf(Chunk(BigInt(10), BigInt(500))).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(o_orderkey,10)") &&
      plan.contains("LessThanOrEqual(o_orderkey,500)"),
      s"range predicate must reach the scan:\n$plan")
  }

  test("the chunk scan pushes typed bounds for int and decimal ids too") {
    for (idType <- Seq("int", "decimal(38,0)")) {
      val dir = java.nio.file.Files.createTempDirectory("chunk-push").toString
      (1L to 2000L).toDF("id").select(col("id").cast(idType).as("id")).write.parquet(s"$dir/t")
      val bc = new BatchChunker(spark.read.parquet(s"$dir/t"), "id", cfg0.copy(chunkSize = 512))
      val chunk = bc.chunkDf(Chunk(BigInt(10), BigInt(500)))
      val plan = chunk.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") &&
        plan.contains("GreaterThanOrEqual(id,10)") && plan.contains("LessThanOrEqual(id,500)"),
        s"$idType: range predicate must reach the scan:\n$plan")
      assert(chunk.count() == 491, idType)
    }
  }

  test("one-many rollup chunked on the parent key conserves joined rows (t/one-many.t:29-73)") {
    // chunk the CUSTOMER keyspace; each chunk's work is a join fan-out into
    // orders (one-many) — the reference's Track->CD->Genre shape
    val customer = spark.read.parquet(s"${SparkTestSession.sfDir}/customer.parquet")
    val orders = spark.read.parquet(s"${SparkTestSession.sfDir}/orders.parquet")
    val expected = customer.join(orders, col("c_custkey") === col("o_custkey")).count()
    val bc = new BatchChunker(customer, "c_custkey", cfg0.copy(chunkSize = 40, minChunkPercent = 0.5))
    bc.calculateRanges()
    var joined = 0L
    val rpt = bc.foreachChunk { chunk =>
      joined += chunk.join(orders, col("c_custkey") === col("o_custkey")).count()
    }
    assert(joined == expected)
    // per-chunk counts are of the PARENT entity (customers), not joined rows
    assert(rpt.processed.flatMap(_.count).sum == BigInt(customer.count()))
  }

  test("parallel chunk fan-out covers every row exactly once and rejects adaptive configs") {
    val orders = spark.read.parquet(s"${SparkTestSession.sfDir}/orders.parquet")
    val bc = new BatchChunker(orders, "o_orderkey", cfg0.copy(chunkSize = 256, minChunkPercent = 0))
    bc.calculateRanges()
    val counted = new java.util.concurrent.atomic.AtomicLong()
    val chunks = bc.foreachChunkPar(parallelism = 4)((_, df) => counted.addAndGet(df.count()))
    assert(counted.get() == orders.count())
    assert(chunks.map(_.width).sum == BigInt(1500))
    // adaptive configs must be refused
    val adaptive = new BatchChunker(orders, "o_orderkey",
      ChunkerConfig(chunkSize = 256, targetTime = 5.0, sleep = 0, log = _ => ()))
    adaptive.calculateRanges()
    intercept[IllegalArgumentException] { adaptive.foreachChunkPar(4)((_, _) => ()) }
  }

  test("parallel chunk fan-out fails fast: a poisoned chunk stops the run promptly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("par-failfast").toString
    (1L to 1000L).map(i => (i, i * 2)).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/src")
    val table = spark.read.parquet(s"$dir/src")
    val bc = new BatchChunker(table, "id",
      cfg0.copy(chunkSize = 50, minChunkPercent = 0, retryAttempts = 1),
      enableCountProbe = false)
    bc.calculateRanges()
    val launched = new java.util.concurrent.atomic.AtomicInteger()
    val t0 = System.nanoTime
    val boom = intercept[RuntimeException] {
      bc.foreachChunkPar(parallelism = 2) { (chunk, chunkDf) =>
        launched.incrementAndGet()
        if (chunk.start == BigInt(1)) throw new RuntimeException("poisoned chunk")
        chunkDf.count() // a real (fast) Spark action per surviving chunk
        Thread.sleep(100)
      }
    }
    val elapsed = (System.nanoTime - t0) / 1e9
    assert(boom.getMessage == "poisoned chunk")
    // 20 chunks x 100ms at parallelism 2 would be ~1s+ if we waited for
    // everything; the first terminal failure must surface within ~one
    // chunk duration and stop new launches.
    assert(elapsed < 2.0, s"fail-fast took $elapsed s")
    assert(launched.get() < 20, s"all ${launched.get()} chunks launched despite the failure")
  }

  test("parallel chunk fan-out honors retryOn: non-retryable failures never consume the budget") {
    import spark.implicits._
    val table = (1L to 200L).map(i => (i, i * 2)).toDF("id", "v")
    val bc = new BatchChunker(table, "id",
      cfg0.copy(chunkSize = 50, minChunkPercent = 0, retryAttempts = 5,
        retryOn = _.isInstanceOf[IllegalStateException]),
      enableCountProbe = false)
    bc.calculateRanges()
    val attemptsOnPoisoned = new java.util.concurrent.atomic.AtomicInteger()
    val boom = intercept[RuntimeException] {
      bc.foreachChunkPar(parallelism = 2) { (chunk, _) =>
        if (chunk.start == BigInt(1)) {
          attemptsOnPoisoned.incrementAndGet()
          throw new RuntimeException("config error: not transient")
        }
      }
    }
    assert(boom.getMessage.contains("not transient"))
    assert(attemptsOnPoisoned.get() == 1,
      s"non-retryable failure retried ${attemptsOnPoisoned.get()} times in the parallel path")
  }

  test("a poisoned parallel run prints no RejectedExecutionException traces") {
    val table = (1L to 400L).toDF("id")
    val bc = new BatchChunker(table, "id",
      cfg0.copy(chunkSize = 10, minChunkPercent = 0, retryAttempts = 1), enableCountProbe = false)
    bc.calculateRanges()
    val err = captureStderr {
      intercept[RuntimeException] {
        bc.foreachChunkPar(parallelism = 2) { (chunk, _) =>
          if (chunk.start == BigInt(1)) throw new RuntimeException("poisoned chunk")
          Thread.sleep(20)
        }
      }
      Thread.sleep(500) // queued futures complete after the pool is shut down
    }
    assert(!err.contains("RejectedExecutionException"), err)
  }

  test("a failed parallel run throws only after its in-flight chunks finish") {
    val table = (1L to 40L).toDF("id")
    val bc = new BatchChunker(table, "id",
      cfg0.copy(chunkSize = 10, minChunkPercent = 0, retryAttempts = 1), enableCountProbe = false)
    bc.calculateRanges()
    val running = new java.util.concurrent.atomic.AtomicInteger()
    val siblingStarted = new java.util.concurrent.CountDownLatch(1)
    intercept[RuntimeException] {
      bc.foreachChunkPar(parallelism = 2) { (chunk, _) =>
        running.incrementAndGet()
        try {
          if (chunk.start == BigInt(1)) {
            assert(siblingStarted.await(10, java.util.concurrent.TimeUnit.SECONDS))
            throw new RuntimeException("poisoned chunk")
          }
          siblingStarted.countDown()
          Thread.sleep(300)
        } finally running.decrementAndGet()
      }
    }
    assert(running.get() == 0, "the call threw while a chunk action was still running")
  }

  test("foreachChunkPar: a crash at ANY chunk drains the running chunks, starts none, and a marker-skipping rerun writes every id once") {
    import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import scala.jdk.CollectionConverters._
    val table = (1L to 80L).toDF("id")
    def chunker() = {
      val bc = new BatchChunker(table, "id",
        cfg0.copy(chunkSize = 10, minChunkPercent = 0, retryAttempts = 1), enableCountProbe = false)
      bc.calculateRanges()
      bc
    }
    val plan = Chunk.fixedPlan(1, 80, 10)
    assert(plan.size == 8)
    for ((poisoned, k) <- plan.zipWithIndex) {
      // Staged-rename commit: a chunk's rows become visible together with its
      // marker, and a chunk that crashes before its rename leaves neither.
      val markers = ConcurrentHashMap.newKeySet[Chunk]()
      val written = new ConcurrentLinkedQueue[Long]()
      def commit(c: Chunk, df: org.apache.spark.sql.DataFrame): Unit = {
        val staged = df.select("id").as[Long].collect()
        markers.synchronized { staged.foreach(written.add); markers.add(c) }
      }
      val seq = new AtomicInteger()
      val starts = new ConcurrentLinkedQueue[(Int, Chunk)]()
      val poisonedAt = new AtomicInteger(Int.MaxValue)
      val poisonThrown = new CountDownLatch(1)
      val running = new AtomicInteger()
      val e = intercept[RuntimeException] {
        chunker().foreachChunkPar(parallelism = 2) { (c, df) =>
          val me = seq.getAndIncrement()
          starts.add(me -> c)
          running.incrementAndGet()
          try {
            if (c == poisoned) {
              // Throw once the other worker is inside a chunk started after
              // this one (or when none comes), so a sibling is mid-body.
              val deadline = System.nanoTime() + 300000000L
              while (!starts.asScala.exists(_._1 > me) && System.nanoTime() < deadline) Thread.sleep(1)
              poisonedAt.set(seq.getAndIncrement())
              poisonThrown.countDown()
              throw new RuntimeException(s"poisoned chunk $k")
            }
            // A chunk that is running when the poison lands outlives it.
            if (poisonThrown.await(100, TimeUnit.MILLISECONDS)) Thread.sleep(50)
            commit(c, df)
          } finally running.decrementAndGet()
        }
      }
      assert(e.getMessage == s"poisoned chunk $k")
      assert(running.get() == 0, s"k=$k: the call threw while a chunk body was still running")
      val late = starts.asScala.filter(_._1 > poisonedAt.get).map(_._2)
      assert(late.isEmpty, s"k=$k: chunk bodies started after the poison: $late")
      assert(!markers.contains(poisoned))
      chunker().foreachChunkPar(parallelism = 2) { (c, df) => if (!markers.contains(c)) commit(c, df) }
      assert(written.asScala.toSeq.sorted == (1L to 80L), s"k=$k: ids not written exactly once")
    }
  }

  test("planning passes and the fixed-size parallel plan never sleep") {
    val clock = new ManualClock
    val bc = new BatchChunker((1L to 100L).toDF("id"), "id",
      cfg0.copy(chunkSize = 10, minChunkPercent = 0, sleep = 0.5), clock = clock, enableCountProbe = false)
    bc.calculateRanges()
    assert(bc.planChunks().processed.size == 10)
    assert(bc.foreachChunkPar(parallelism = 2)((_, _) => ()).size == 10)
    assert(clock.now() == 0.0, s"planning slept ${clock.now()} s")
  }

  test("planning passes persist no resume point: planChunks and a poisoned foreachChunkPar") {
    val stateDir = java.nio.file.Files.createTempDirectory("plan-nostate").toString
    val table = (1L to 100L).toDF("id")
    val bc = new BatchChunker(table, "id",
      cfg0.copy(chunkSize = 10, minChunkPercent = 0, retryAttempts = 1, stateDir = Some(stateDir)),
      enableCountProbe = false)
    bc.calculateRanges()
    assert(bc.planChunks().processed.size == 10)
    assert(ResumeState.read(stateDir).isEmpty, "a dry run persisted a resume point")
    assert(bc.minId.contains(BigInt(1)), "a dry run moved the in-memory resume point")
    // Before the fix the planner wrote maxId here, so a resumeFrom after this
    // crash would have skipped every chunk the poisoned run never processed.
    intercept[RuntimeException] {
      bc.foreachChunkPar(parallelism = 1) { (chunk, _) =>
        if (chunk.start == BigInt(21)) throw new RuntimeException("poisoned chunk 3")
      }
    }
    assert(ResumeState.read(stateDir).isEmpty, "the parallel planner persisted a resume point")
    assert(!bc.resumeFrom(stateDir))
  }

  test("count probes cost at most half a Spark job per processed chunk over gaps, sparse and dense runs") {
    // Cycles of: an empty gap ten chunk widths long, ~1 row per 5 ids,
    // 1 row per id, 8 rows per id, 1 row per id (chunk size 100 rows).
    val rnd = new scala.util.Random(11)
    val ids = ArrayBuffer.empty[Long]
    var id = 0L
    for (_ <- 1 to 4; (len, perId) <- Seq((1000, 0.0), (500, 0.2), (150, 1.0), (100, 8.0), (150, 1.0)); _ <- 1 to len) {
      id += 1
      val n = perId.toInt + (if (rnd.nextDouble() < perId - perId.toInt) 1 else 0)
      for (_ <- 1 to n) ids += id
    }
    val dir = java.nio.file.Files.createTempDirectory("probe-jobs").toString
    ids.toSeq.toDF("id").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val bc = new BatchChunker(df, "id", cfg0.copy(chunkSize = 100, minChunkPercent = 0.5))
    bc.calculateRanges()

    val sc = spark.sparkContext
    val probeJobs = new java.util.concurrent.atomic.AtomicInteger()
    val barrier = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("bcspec.phase")).foreach {
          case "probe"   => probeJobs.incrementAndGet()
          case "barrier" => barrier.countDown()
          case _         => ()
        }
    }
    sc.addSparkListener(listener)
    var rows = 0L
    val rpt =
      try {
        sc.setLocalProperty("bcspec.phase", "probe")
        bc.foreachChunk { chunk =>
          sc.setLocalProperty("bcspec.phase", "work")
          rows += chunk.count()
          sc.setLocalProperty("bcspec.phase", "probe")
        }
      } finally {
        // The bus delivers events in order: once this job is seen, so is every probe.
        sc.setLocalProperty("bcspec.phase", "barrier")
        spark.range(1).count()
        sc.setLocalProperty("bcspec.phase", null)
        assert(barrier.await(60, java.util.concurrent.TimeUnit.SECONDS))
        sc.removeSparkListener(listener)
      }
    val expected = df.count()
    assert(rows == expected)
    assert(rpt.processed.flatMap(_.count).sum == BigInt(expected))
    assert(rpt.skipped.nonEmpty)
    assert(probeJobs.get() <= 0.5 * rpt.processed.size,
      s"${probeJobs.get()} probe-side jobs for ${rpt.processed.size} processed chunks")
  }

  test("a block the window saw empty is counted live before it is skipped (Derby-backed source)") {
    val url = "jdbc:derby:memory:bcspec_live;create=true"
    def exec(sql: String): Unit = {
      val c = java.sql.DriverManager.getConnection(url)
      try c.createStatement().executeUpdate(sql) finally c.close()
    }
    exec("CREATE TABLE live_ids (id BIGINT NOT NULL)")
    val initial = (1L to 20L) ++ (100L to 120L)
    initial.foreach(i => exec(s"INSERT INTO live_ids VALUES ($i)"))
    val df = spark.read.jdbc(url, "live_ids", new java.util.Properties)
    val bc = new BatchChunker(df, "id", cfg0.copy(chunkSize = 10, minChunkPercent = 0.5))
    bc.calculateRanges()
    val seen = ArrayBuffer.empty[Long]
    val inserted = 25L to 30L
    val rpt = bc.foreachChunk { chunk =>
      // The first chunk's window spans 1..40; fill part of its empty 21..40
      // after the window was loaded, ahead of the walk.
      if (seen.isEmpty) inserted.foreach(i => exec(s"INSERT INTO live_ids VALUES ($i)"))
      seen ++= chunk.collect().map(_.getLong(0))
    }
    assert(inserted.forall(seen.contains), s"rows inserted into the gap were skipped: ${rpt.outcomes}")
    assert(seen.sorted == (initial ++ inserted).sorted)
  }

  test("distributed per-row dispatch processes all rows on executors") {
    val acc = spark.sparkContext.longAccumulator("rows")
    val bc = new BatchChunker(gappyDf, "id", cfg0.copy(chunkSize = 25, minChunkPercent = 0))
    bc.calculateRanges()
    bc.foreachRowInChunkPartitions(it => it.foreach(_ => acc.add(1)))
    assert(acc.value == 48)
  }
}
