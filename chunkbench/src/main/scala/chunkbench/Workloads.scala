package chunkbench

import java.io.File
import java.sql.DriverManager
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit, sum}
import org.apache.spark.sql.types._
import graft.chunker.{BatchChunker, ChunkedRewrite, ChunkerConfig, ExecutionReport}
import graft.sources.JdbcBatch

/** One repetition: a walk of the whole keyspace through the public API.
  * `[t0, t1]` runs from range discovery to the last commit, and includes
  * the crash and restart where the workload has one. */
final case class RepOutcome(
    t0: Long,
    t1: Long,
    rows: Long,
    processed: Int,
    skipped: Int,
    attempts: Int,
    failed: Int,
    crashes: Int,
    problems: Seq[String],
    outFiles: Int = 0) {
  def wallS: Double = (t1 - t0) / 1e9
}

/** A workload generates its inputs once per set-up, then runs repetitions.
  * Each repetition gets a fresh output directory, state directory and Derby
  * tables, made before its timed part and deleted after its audit. A
  * warm-up repetition stops after `warmChunks` hook calls and is not
  * audited. */
abstract class Workload(val name: String) {
  def usesSpark: Boolean
  /** Dispatching threads per API call. */
  def parallelism: Int = 1
  /** Whether the engine persists a resume point (`stateDir` set). */
  def resumeState: Boolean
  /** Chunks a warm-up repetition runs: about a second of work. The first
    * walks in a fresh JVM run slower while the JIT compiles, so warm-up
    * belongs in set-up. */
  def warmChunks: Int
  /** Hook calls of a whole repetition, for placing its faults. */
  def chunks: Int
  def generate(ctx: Ctx): Unit
  def run(ctx: Ctx, rep: Int, rec: Recorder, warm: Boolean): RepOutcome

  protected def cfg(ctx: Ctx, rec: Recorder, chunkSize: Int, minChunkPercent: Double,
      stateDir: Option[File]): ChunkerConfig =
    ChunkerConfig(chunkSize = BigInt(chunkSize), targetTime = 0, sleep = 0,
      minChunkPercent = minChunkPercent, retryAttempts = 3, retryOn = Injected.retryOn,
      verbose = ctx.tracing, log = rec.log, stateDir = stateDir.map(_.getPath))

  /** The repetition's seeded faults; a warm-up gets only its end. */
  protected def faults(ctx: Ctx, rep: Int, warm: Boolean, transient: Boolean, crash: Boolean): Faults =
    if (warm) new Faults(0, 0, warmChunks)
    else {
      val (tr, cr) = Gen.faults(ctx.seed, rep, chunks)
      new Faults(if (transient) tr else 0, if (crash) cr else 0)
    }

  /** Runs `call`; after an injected crash, runs it once more to resume.
    * Returns the reports of the calls that returned and the crash count. */
  protected def withRestart(rec: Recorder, phase: String)(call: => ExecutionReport): (Seq[ExecutionReport], Int) =
    try (Seq(rec.api(phase)(call)), 0)
    catch {
      case _: InjectedCrash => (Seq(rec.restart(phase)(call)), 1)
      case _: WarmupDone    => (Nil, 0)
    }

  protected def outcome(rec: Recorder, t: (Long, Long), rows: Long, reports: Seq[ExecutionReport],
      crashes: Int, problems: Seq[String], outFiles: Int = 0): RepOutcome = {
    val processed = rec.hookCalls.get - rec.hookFailures.get
    val attempts = processed + rec.retries.get + crashes
    RepOutcome(t._1, t._2, rows, processed, reports.map(_.skipped.size).sum, attempts,
      rec.uninjected.get, crashes, problems, outFiles)
  }
}

object Workload {
  val all: Seq[Workload] = Seq(AdaptiveScan, FixedRewrite, JdbcDml, JdbcDmlPar)

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$name'; one of ${all.map(_.name).mkString(", ")}"))

  def writeParquet(spark: SparkSession, schema: StructType, rows: Seq[Row], dir: File): DataFrame = {
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.option("parquet.block.size", 64 * 1024).parquet(dir.getPath)
    spark.read.parquet(dir.getPath)
  }
}

/** Read-only `foreachChunk` with count probes over a keyspace of gaps,
  * sparse ids and dense runs; each chunk collects a one-row aggregate. */
object AdaptiveScan extends Workload("adaptive_scan") {
  /** About 59 000 rows. */
  val Cycles = 5
  val ChunkRows = 2000
  private var ks: Gen.Keyspace = _
  private var df: DataFrame = _

  def usesSpark = true
  def resumeState = false
  def warmChunks = 4
  def chunks = 0

  def generate(ctx: Ctx): Unit = {
    ks = Gen.scanKeyspace(ctx.seed, Cycles)
    val schema = StructType(Seq(StructField("id", LongType, false), StructField("v", LongType, false)))
    df = Workload.writeParquet(ctx.spark, schema,
      ks.ids.indices.map(i => Row(ks.ids(i), ks.values(i))), ctx.inputDir("scan"))
  }

  def run(ctx: Ctx, rep: Int, rec: Recorder, warm: Boolean): RepOutcome = {
    val aggs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val bc = new BatchChunker(df, "id", cfg(ctx, rec, ChunkRows, 0.5, None))
    val f = faults(ctx, rep, warm, transient = false, crash = false)
    val ((reports, _), t) = ctx.timed {
      rec.api("range")(bc.calculateRanges())
      withRestart(rec, "loop")(bc.foreachChunk(chunk => rec.hook {
        f.check()
        val r = chunk.agg(count(lit(1)), sum(col("v"))).head()
        aggs.add((r.getLong(0), r.getLong(1)))
      }))
    }
    import scala.jdk.CollectionConverters._
    val problems = if (warm) Nil else {
      val report = reports.head
      val done = Damage(ctx.damage, report.processed.map(o => (o.chunk.start, o.chunk.end)).zip(aggs.asScala))
      Audit.scan(done.map(_._2), ks.rows, ks.sum,
        done.map(_._1) ++ report.skipped.map(o => (o.chunk.start, o.chunk.end)), ks.min, ks.max)
    }
    outcome(rec, t, ks.rows, reports, 0, problems)
  }
}

/** `ChunkedRewrite.rewrite` as a copy-on-write UPDATE over a dense uniform
  * keyspace: fixed chunks, no probe, resume state on, one transient failure
  * and one crash followed by a resume. */
object FixedRewrite extends Workload("fixed_rewrite") {
  val Rows = 10000
  val ChunkIds = 200
  private val Bump = BigDecimal("1.00")
  private var ks: Gen.Keyspace = _
  private var df: DataFrame = _

  def usesSpark = true
  def resumeState = true
  def warmChunks = 8
  def chunks = Rows / ChunkIds

  def generate(ctx: Ctx): Unit = {
    ks = Gen.denseKeyspace(ctx.seed, Rows)
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("amount", DecimalType(18, 2), false)))
    df = Workload.writeParquet(ctx.spark, schema, ks.ids.indices.map(i =>
      Row(ks.ids(i), new java.math.BigDecimal(java.math.BigInteger.valueOf(ks.values(i)), 2))),
      ctx.inputDir("rewrite"))
  }

  def run(ctx: Ctx, rep: Int, rec: Recorder, warm: Boolean): RepOutcome = {
    val dir = ctx.repDir(rep)
    val out = new File(dir, "out").getPath
    val f = faults(ctx, rep, warm, transient = true, crash = true)
    val c = cfg(ctx, rec, ChunkIds, 0, Some(new File(dir, "state")))
    val ((reports, crashes), t) = ctx.timed {
      withRestart(rec, "range") {
        ChunkedRewrite.rewrite(df, "id", c, out, countProbe = false) { chunk =>
          rec.hook { f.check(); chunk.withColumn("amount", col("amount") + lit(Bump.bigDecimal)) }
        }
      }
    }
    val problems = if (warm) Nil else {
      ctx.damage.foreach { d =>
        val first = new File(out).listFiles.filter(_.getName.startsWith("chunk_")).minBy(_.getName)
        if (d == Damage.Twice) Files.copy(first, new File(out, first.getName + "_again"))
        else Files.delete(first)
      }
      val r = ChunkedRewrite.readBackCommitted(ctx.spark, out)
        .agg(count(lit(1)), countDistinct(col("id")), sum(col("amount"))).head()
      Audit.rewrite(r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2)),
        Rows, BigDecimal(ks.sum, 2) + Bump * Rows)
    }
    val files = if (ctx.tracing) Files.dataFiles(new File(out)) else 0
    Files.delete(dir)
    outcome(rec, t, Rows, reports, crashes, problems, files)
  }
}

/** Shared Derby side of the two JDBC workloads. Set-up seeds a fresh
  * in-memory database with a template table; each repetition copies it into
  * a fresh indexed table with its own journal, runs a conditional UPDATE
  * template over it, audits it and drops both. */
abstract class DerbyWorkload(name: String) extends Workload(name) {
  def Rows: Int
  val ChunkIds = 100
  val Bump = 7
  protected var ks: Gen.Keyspace = _
  protected var flags: Array[Int] = _

  def usesSpark = false
  def chunks = Rows / ChunkIds

  private def db(ctx: Ctx): String = s"jdbc:derby:memory:cb_${ctx.setupIndex}"

  private def withConn[A](url: String)(f: java.sql.Statement => A): A = {
    val c = DriverManager.getConnection(url)
    try { val st = c.createStatement(); try f(st) finally st.close() }
    finally c.close()
  }

  def generate(ctx: Ctx): Unit = {
    ks = Gen.denseKeyspace(ctx.seed, Rows)
    flags = Gen.flags(ctx.seed, Rows)
    try DriverManager.getConnection(s"jdbc:derby:memory:cb_${ctx.setupIndex - 1};drop=true").close()
    catch { case _: java.sql.SQLException => () } // dropped, or never created
    val c = DriverManager.getConnection(db(ctx) + ";create=true")
    try {
      c.setAutoCommit(false)
      c.createStatement().executeUpdate("""CREATE TABLE TEMPLATE ("id" BIGINT NOT NULL, """ +
        """"bal0" BIGINT NOT NULL, "bal" BIGINT NOT NULL, "flag" INT NOT NULL)""")
      val ps = c.prepareStatement("INSERT INTO TEMPLATE VALUES (?, ?, ?, ?)")
      for (i <- 0 until Rows) {
        ps.setLong(1, ks.ids(i)); ps.setLong(2, ks.values(i)); ps.setLong(3, ks.values(i)); ps.setInt(4, flags(i))
        ps.addBatch()
        if (i % 5000 == 4999) ps.executeBatch()
      }
      ps.executeBatch()
      c.commit()
    } finally { c.rollback(); c.close() }
  }

  private def template(table: String): String =
    s"""UPDATE $table SET "bal" = "bal" + $Bump WHERE "id" BETWEEN {start} AND {end} AND "flag" = 1"""

  /** Self-test damage to the first chunk: its update applied again, or
    * undone together with its journal row. */
  private def damage(ctx: Ctx, table: String, journal: String, runId: String): Unit = ctx.damage.foreach { d =>
    withConn(db(ctx)) { st =>
      val (s, e) = (ks.min, ks.min + ChunkIds - 1)
      d match {
        case Damage.Twice => st.executeUpdate(template(table).replace("{start}", s.toString).replace("{end}", e.toString))
        case Damage.Missing =>
          st.executeUpdate(s"""UPDATE $table SET "bal" = "bal0" WHERE "id" BETWEEN $s AND $e""")
          st.executeUpdate(s"""DELETE FROM $journal WHERE "run_id" = '$runId' AND "chunk_start" = $s""")
      }
    }
  }

  private def audit(ctx: Ctx, table: String, journal: String, runId: String): Seq[String] =
    withConn(db(ctx)) { st =>
      def one(sql: String): Long = { val rs = st.executeQuery(sql); rs.next(); rs.getLong(1) }
      val wrong = one(s"""SELECT COUNT(*) FROM $table WHERE "bal" <> "bal0" + $Bump * "flag"""")
      val total = one(s"""SELECT SUM("bal") FROM $table""")
      val rs = st.executeQuery(s"""SELECT "chunk_start", "chunk_end" FROM $journal WHERE "run_id" = '$runId'""")
      val chunks = Seq.newBuilder[(BigInt, BigInt)]
      while (rs.next()) chunks += ((BigInt(rs.getLong(1)), BigInt(rs.getLong(2))))
      Audit.dml(wrong, total, ks.sum + Bump.toLong * flags.sum, chunks.result(), ks.min, ks.max)
    }

  def call(ctx: Ctx, url: String, template: String, table: String, journal: String, runId: String,
      rep: Int, rec: Recorder, f: Faults): ExecutionReport

  def run(ctx: Ctx, rep: Int, rec: Recorder, warm: Boolean): RepOutcome = {
    val n = rep + 1000
    val (table, journal, runId) = (s"ACCT_$n", s"${TracingDriver.JournalTable}_$n", s"rep$n")
    withConn(db(ctx)) { st =>
      st.executeUpdate(s"CREATE TABLE $table AS SELECT * FROM TEMPLATE WITH NO DATA")
      st.executeUpdate(s"INSERT INTO $table SELECT * FROM TEMPLATE")
      st.executeUpdate(s"""CREATE INDEX ${table}_ID ON $table ("id")""")
    }
    val url = (if (ctx.tracing) TracingDriver.Prefix else "jdbc:") + db(ctx).stripPrefix("jdbc:")
    val f = faults(ctx, rep, warm, transient = parallelism == 1, crash = true)
    val ((reports, crashes), t) = ctx.timed {
      withRestart(rec, "loop")(call(ctx, url, template(table), table, journal, runId, rep, rec, f))
    }
    val problems = if (warm) Nil else { damage(ctx, table, journal, runId); audit(ctx, table, journal, runId) }
    withConn(db(ctx)) { st =>
      st.executeUpdate(s"DROP TABLE $table")
      st.executeUpdate(s"DROP TABLE $journal")
    }
    Files.delete(ctx.repDir(rep))
    outcome(rec, t, Rows, reports, crashes, problems)
  }
}

/** `executeChunkedDml` with a journal and resume state: fixed chunks, one
  * transient failure, one crash and a resume of the same run id. */
object JdbcDml extends DerbyWorkload("jdbc_dml") {
  val Rows = 10000
  def resumeState = true
  def warmChunks = 30

  def call(ctx: Ctx, url: String, template: String, table: String, journal: String, runId: String,
      rep: Int, rec: Recorder, f: Faults): ExecutionReport =
    JdbcBatch.executeChunkedDml(url, template, "id", table,
      cfg(ctx, rec, ChunkIds, 0, Some(new File(ctx.repDir(rep), "state"))),
      commitLog = Some(journal), runId = runId,
      inTxn = (_, _) => rec.hook(f.check()))
}

/** `executeChunkedDmlPar` at parallelism 2 (two connections per worker):
  * one crash, then a coverage-set resume. */
object JdbcDmlPar extends DerbyWorkload("jdbc_dml_par") {
  val Rows = 50000
  override def parallelism = 2
  def resumeState = false
  def warmChunks = 300

  def call(ctx: Ctx, url: String, template: String, table: String, journal: String, runId: String,
      rep: Int, rec: Recorder, f: Faults): ExecutionReport =
    JdbcBatch.executeChunkedDmlPar(url, template, "id", table,
      cfg(ctx, rec, ChunkIds, 0, None), parallelism = parallelism,
      commitLog = journal, runId = runId,
      inTxn = (_, _) => rec.hook(f.check()))
}
