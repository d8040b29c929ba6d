package graft.sources

import java.sql.DriverManager
import java.util.Properties
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.chunker._

/** Chunked JDBC source/sink — the reference's home turf (a live RDBMS,
  * reference lib/DBIx/BatchChunker.pm:70-89) mapped onto Spark's JDBC
  * connector:
  *
  *  - READ: discover `[min, max]` with one MIN/MAX roundtrip (the
  *    reference's `calculate_ranges` against `min_stmt`/`max_stmt`,
  *    lib/DBIx/BatchChunker.pm:1019-1093), plan id-range chunks, and hand
  *    Spark ONE `BETWEEN` predicate per chunk — `spark.read.jdbc(url, table,
  *    predicates, ...)` turns each chunk into its own partition, so the scan
  *    parallelizes across executors with each task reading exactly one
  *    chunk's slice (index-range scan DB-side).
  *  - WRITE: the reference's lock-friendly DML path — each id-range chunk is
  *    appended in its own driver-sequenced batch with the configured `sleep`
  *    between chunks (replica breathing room, lib/DBIx/BatchChunker.pm:596-614)
  *    and per-chunk retry.
  *
  * The semantic difference from the reference is deliberate and documented:
  * chunks in the READ path run CONCURRENTLY (Spark partitions), because a
  * read holds no locks — sequencing only matters for writes, where we keep
  * the reference's strict chunk-at-a-time order.
  */
/** Self-healing autocommit connection for IDEMPOTENT probe reads (range
  * discovery, count probes, journal point-SELECTs). The probe side serves
  * every chunk of a run, so one dropped socket must not fail the whole run
  * while the DML side happily reconnects (DBIx::Connector fixup semantics,
  * reference lib/DBIx/BatchChunker.pm:104-112). Probes are reads, so unlike
  * the DML path we can rebuild the handle and re-issue the SAME statement
  * immediately instead of deferring to the engine's chunk-level retry. No
  * per-call liveness ping (that would be a DB roundtrip per probe): only a
  * connection-class FAILURE triggers the rebuild.
  */
private[graft] final class ProbeConnection(url: String, props: Properties) extends AutoCloseable {
  private var conn = DriverManager.getConnection(url, props)

  /** Current underlying handle — exposed so tests can fault-inject a drop. */
  def current: java.sql.Connection = conn

  private def dead(e: Throwable): Boolean = e match {
    case _: java.sql.SQLNonTransientConnectionException => true
    case _: java.sql.SQLRecoverableException => true
    case _: java.sql.SQLTransientConnectionException => true
    case _ =>
      try conn.isClosed || !conn.isValid(5)
      catch { case _: Throwable => true }
  }

  def apply[A](f: java.sql.Connection => A): A =
    try f(conn)
    catch {
      case e: Throwable if dead(e) =>
        try conn.close() catch { case _: Throwable => () }
        conn = DriverManager.getConnection(url, props)
        f(conn)
    }

  override def close(): Unit = conn.close()
}

object JdbcBatch {

  /** ANSI-quoted identifier — matches how Spark's JDBC dialects create
    * columns (case-sensitive), so `id` written by Spark stays addressable. */
  private def quoted(ident: String): String = "\"" + ident.replace("\"", "\"\"") + "\""

  /** One-roundtrip range discovery over JDBC (no Spark job). */
  def discoverRange(url: String, table: String, idColumn: String, props: Properties = new Properties): Option[(BigInt, BigInt)] = {
    val conn = DriverManager.getConnection(url, props)
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT MIN(${quoted(idColumn)}), MAX(${quoted(idColumn)}) FROM $table")
      if (!rs.next()) None
      else {
        val mn = rs.getBigDecimal(1)
        val mx = rs.getBigDecimal(2)
        if (mn == null || mx == null) None
        else Some((BigInt(mn.toBigInteger), BigInt(mx.toBigInteger)))
      }
    } finally conn.close()
  }

  /** Chunk-partitioned parallel JDBC read: one Spark partition per planned
    * chunk, each bounded by a sargable BETWEEN predicate.
    */
  def readChunked(
      spark: SparkSession,
      url: String,
      table: String,
      idColumn: String,
      cfg: ChunkerConfig,
      props: Properties = new Properties
  ): DataFrame = {
    val engine = new ChunkEngine(cfg.withoutStateFile, None, None) // a plan is no progress
    discoverRange(url, table, idColumn, props).foreach { case (mn, mx) =>
      engine.minId = Some(mn); engine.maxId = Some(mx)
    }
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Chunk]
    engine.execute(c => chunks += c, markTimerOnDispatch = false)
    if (chunks.isEmpty)
      return spark.read.jdbc(url, table, props).limit(0)
    val predicates = chunks.map(c => s"${quoted(idColumn)} BETWEEN ${c.start} AND ${c.end}").toArray
    spark.read.jdbc(url, table, predicates, props)
  }

  /** The reference's Active-DBI mode, literally: a DML template executed
    * once per chunk against a LIVE JDBC database, each chunk inside its own
    * transaction (reference lib/DBIx/BatchChunker.pm:1297-1350 — `stmt`
    * prepared and executed with `(start, end)` binds inside
    * `DBIx::Connector::Retry->run`, i.e. per-chunk BEGIN/COMMIT with
    * rollback + whole-chunk retry on failure; retry law proven by
    * t/dbh.t:283-325). This is the one place the per-chunk-transaction
    * story is literal instead of approximated by staged renames.
    *
    * Mechanics:
    *  - range discovery + the optional COUNT probe run on a separate
    *    autocommit connection (reads must not entangle with the DML
    *    transaction — the reference likewise issues them as standalone
    *    statements, lib/DBIx/BatchChunker.pm:1256-1289);
    *  - the DML connection runs with `autoCommit=false`; per chunk the
    *    template is executed with `{start}`/`{end}` substituted (our
    *    replacement for `BETWEEN ? AND ?` binds), then `inTxn` (extra work
    *    inside the SAME transaction — the multi-statement per-chunk `txn`
    *    shape of single_rows mode, lib/DBIx/BatchChunker.pm:1305-1327),
    *    then COMMIT;
    *  - any failure ROLLS BACK the chunk and rethrows into the engine's
    *    retry wrapper, so a retried chunk re-runs from a clean slate —
    *    exactly the reference's restart-the-whole-chunk guarantee
    *    (t/dbic.t:461-502).
    *
    * The driver loop stays strictly sequential (locks are the point); the
    * full adaptive machinery — density ladder, runtime targeting,
    * max_runtime/resume — applies unchanged because it lives in
    * [[ChunkEngine]], not in the dispatch.
    *
    * @param template DML with `{start}`/`{end}` placeholders; identifier
    *                 quoting is the caller's concern (Spark-created columns
    *                 are ANSI-quoted case-sensitive)
    * @param rangeTable table for MIN/MAX discovery and COUNT probes
    *                   (the `min_stmt`/`max_stmt`/`count_stmt` analogue)
    * @param enableCountProbe per-chunk `SELECT COUNT(*)` feeding the
    *                 density ladder; off by default (each probe is a DB
    *                 roundtrip, and DML templates usually want pure
    *                 runtime targeting)
    * @param inTxn    extra statements inside each chunk's transaction,
    *                 e.g. an audit-table insert that must commit or roll
    *                 back atomically WITH the chunk
    * @param commitLog optional journal table making retries idempotent
    *                 under LOST COMMIT ACKS: with plain retry, a
    *                 connection that dies after the server applies COMMIT
    *                 but before the ack arrives is indistinguishable from
    *                 one that died before it, and re-running the chunk
    *                 would double-apply a non-idempotent template (the
    *                 reference's retry stack has the same hole — it can
    *                 only restart the statement). With a table name set,
    *                 each chunk INSERTs its (run_id, start, end) into the
    *                 journal INSIDE its transaction and the loop skips any
    *                 chunk whose journal row is already committed — one
    *                 indexed point-SELECT per chunk (same cost class as the
    *                 count probe). CROSS-PROCESS restarts are exactly-once
    *                 too, including under adaptive runtime targeting: the
    *                 exact-match probe only covers in-process retries (a
    *                 retried chunk re-plans with identical bounds, a
    *                 restarted PROCESS does not — chunkSize resets, so
    *                 boundaries shift and an overlap would miss the probe),
    *                 so on startup the loop additionally resumes from
    *                 `MAX(chunk_end) in the journal + 1`. Chunks in this
    *                 sequential path are strictly increasing, and the
    *                 journal row commits atomically WITH the chunk's work,
    *                 so MAX(chunk_end) is the true high-water mark. With a
    *                 journal it is the only resume source: `stateDir` is
    *                 neither read nor written (blocks skipped as empty after
    *                 the last journaled chunk are probed again on restart).
    *                 The table is created if missing.
    * @param runId   logical-run scope for the journal — REQUIRED (non-empty)
    *                 whenever `commitLog` is set, enforced with a fail-fast
    *                 `require`: with an implicit shared default, a second
    *                 legitimate run re-using defaults would silently no-op
    *                 every chunk against the first run's journal rows.
    *                 Journal rows are keyed by (run_id, chunk_start,
    *                 chunk_end) and are never purged by the loop, so a
    *                 SECOND legitimate run of the same template over the
    *                 same keyspace (a periodic re-application) MUST use a
    *                 fresh runId (or a fresh journal table). A crashed run
    *                 resumes by re-using its runId. Cleanup is the caller's:
    *                 DELETE FROM journal WHERE run_id = ... once a run is
    *                 confirmed complete.
    */
  def executeChunkedDml(
      url: String,
      template: String,
      idColumn: String,
      rangeTable: String,
      cfg: ChunkerConfig,
      props: Properties = new Properties,
      enableCountProbe: Boolean = false,
      inTxn: (Chunk, java.sql.Connection) => Unit = (_, _) => (),
      commitLog: Option[String] = None,
      runId: String = ""
  ): ExecutionReport = {
    require(commitLog.isEmpty || runId.nonEmpty,
      "commitLog is set but runId is empty: journal rows are scoped by run_id, and an " +
        "implicit shared default would make a second legitimate run a silent no-op " +
        "against the first run's journal. Pass an explicit runId (re-use it to resume " +
        "a crashed run; use a fresh one for a new logical run).")
    val probeConn = new ProbeConnection(url, props)
    var dmlConn = DriverManager.getConnection(url, props)
    val runIdSql = "'" + runId.replace("'", "''") + "'"
    // The reference's retry stack is DBIx::Connector::Retry
    // (lib/DBIx/BatchChunker.pm:104-112, 236-288), whose whole point is
    // RECONNECTING before re-running a failed chunk — a dropped connection
    // is the #1 transient failure this machinery exists for, and retrying
    // on the same dead socket would burn the whole budget. We mirror its
    // fixup-mode shape: no per-chunk liveness ping (that's a DB roundtrip
    // per chunk); only a connection-class FAILURE marks the handle for
    // rebuild, and the retry's next entry into the chunk body reopens it.
    var reconnectPending = false
    def connectionClass(e: Throwable): Boolean = e match {
      case _: java.sql.SQLNonTransientConnectionException => true
      case _: java.sql.SQLRecoverableException => true
      case _: java.sql.SQLTransientConnectionException => true
      case _ => false
    }
    def connectionDead(e: Throwable): Boolean = connectionClass(e) || {
      try dmlConn.isClosed || !dmlConn.isValid(5)
      catch { case _: Throwable => true }
    }
    try {
      dmlConn.setAutoCommit(false)
      // Journal table for ack-lost idempotence (see @param commitLog).
      // Derby has no CREATE TABLE IF NOT EXISTS; SQLState X0Y32 = exists.
      commitLog.foreach { tbl =>
        try probeConn { c =>
          val st = c.createStatement()
          try st.executeUpdate(
            s"""CREATE TABLE $tbl ("run_id" VARCHAR(128) NOT NULL,
               | "chunk_start" BIGINT NOT NULL,
               | "chunk_end" BIGINT NOT NULL,
               | PRIMARY KEY ("run_id", "chunk_start", "chunk_end"))""".stripMargin)
          finally st.close()
        } catch {
          case e: java.sql.SQLException if e.getSQLState == "X0Y32" => ()
        }
      }
      /** Is this chunk's journal row already COMMITTED? (probeConn is a
        * separate autocommit connection, so it sees only committed work —
        * a row from a lost-ack commit is visible, an uncommitted one from
        * a live transaction is not.) */
      def alreadyCommitted(chunk: Chunk): Boolean = commitLog.exists { tbl =>
        probeConn { c =>
          val st = c.createStatement()
          try {
            val rs = st.executeQuery(
              s"""SELECT COUNT(*) FROM $tbl WHERE "run_id" = $runIdSql""" +
                s""" AND "chunk_start" = ${chunk.start} AND "chunk_end" = ${chunk.end}""")
            rs.next(); rs.getLong(1) > 0
          } finally st.close()
        }
      }
      val source = new RangeSource {
        private def agg(fn: String): Option[BigInt] = probeConn { c =>
          val rs = c.createStatement().executeQuery(
            s"SELECT $fn(${quoted(idColumn)}) FROM $rangeTable")
          if (!rs.next()) None
          else Option(rs.getBigDecimal(1)).map(d => BigInt(d.toBigInteger))
        }
        override def minId(): Option[BigInt] = agg("MIN")
        override def maxId(): Option[BigInt] = agg("MAX")
      }
      val probe: Option[(BigInt, BigInt) => BigInt] =
        if (!enableCountProbe) None
        else Some { (s, e) =>
          probeConn { c =>
            val rs = c.createStatement().executeQuery(
              s"SELECT COUNT(*) FROM $rangeTable WHERE ${quoted(idColumn)} BETWEEN $s AND $e")
            rs.next(); BigInt(rs.getLong(1))
          }
        }
      // With a journal, the journal is the resume record; the state file
      // would only add a write per chunk.
      val engine = new ChunkEngine(if (commitLog.isDefined) cfg.withoutStateFile else cfg,
        Some(source), probe)
      // Startup probes run under the SAME retry budget as the chunks:
      // ProbeConnection only survives one rebuild-and-reissue per call, so
      // without this a DB that flaps twice at startup kills a run whose
      // per-chunk path would have survived cfg.retryAttempts attempts.
      engine.retrying("Startup range probe")(engine.calculateRanges())
      // Cross-process resume in the reference's own deployment shape: a
      // restarted run re-enters after the last COMMITTED transaction —
      // nothing is re-executed, nothing is skipped. With a journal the
      // point is its MAX(chunk_end) for this run: the journal row commits
      // atomically WITH the chunk's work, and chunks in this sequential
      // path are strictly increasing, so it is exact even when a restart
      // re-plans from the RESET chunkSize under runtime targeting (shifted
      // boundaries would miss the exact-match probe above). Without one it
      // is the state file the engine writes after each commit.
      val resumePoint = commitLog match {
        case Some(tbl) =>
          engine.retrying("Journal high-water-mark probe")(probeConn { c =>
            val st = c.createStatement()
            try {
              val rs = st.executeQuery(
                s"""SELECT MAX("chunk_end") FROM $tbl WHERE "run_id" = $runIdSql""")
              if (!rs.next()) None
              else Option(rs.getBigDecimal(1)).map(d => BigInt(d.toBigInteger))
            } finally st.close()
          })
        case None => cfg.stateDir.flatMap(ResumeState.read)
      }
      for (pe <- resumePoint if engine.minId.forall(_ <= pe)) engine.minId = Some(pe + 1)
      // Chunks whose body was skipped because their journal row was already
      // committed (lost-ack retry or a prior process): the engine records
      // them as dispatched, so they are re-labelled in the report below —
      // an operator auditing an exactly-once resume must be able to tell
      // replayed-and-skipped from executed.
      val journalSkipped = scala.collection.mutable.Set.empty[Chunk]
      val report = engine.execute { chunk =>
        if (reconnectPending) {
          try dmlConn.close() catch { case _: Throwable => () }
          dmlConn = DriverManager.getConnection(url, props)
          dmlConn.setAutoCommit(false)
          reconnectPending = false
        }
        if (alreadyCommitted(chunk)) journalSkipped += chunk // lost-ack commit or prior process
        else try {
          val sql = template
            .replace("{start}", chunk.start.toString)
            .replace("{end}", chunk.end.toString)
          val st = dmlConn.createStatement()
          try st.executeUpdate(sql) finally st.close()
          // Journal row BEFORE inTxn and commit — same transaction, so it
          // becomes visible to other connections atomically WITH the
          // chunk's work, and a rollback erases both together.
          commitLog.foreach { tbl =>
            val st2 = dmlConn.createStatement()
            try st2.executeUpdate(
              s"INSERT INTO $tbl VALUES ($runIdSql, ${chunk.start}, ${chunk.end})")
            finally st2.close()
          }
          inTxn(chunk, dmlConn)
          dmlConn.commit()
        } catch {
          case e: Throwable =>
            // Clean slate for the engine's retry wrapper; a rollback
            // failure (dead connection) must not mask the original error.
            try dmlConn.rollback() catch { case _: Throwable => () }
            if (connectionDead(e)) reconnectPending = true
            throw e
        }
      }
      // A lost-ack chunk can journal-skip on its RETRY after a first attempt
      // did the work — "skipped-journal" still describes the final dispatch
      // (the body did not run on the attempt that succeeded).
      report.copy(outcomes = report.outcomes.map(o =>
        if (journalSkipped(o.chunk)) o.copy(action = "skipped-journal") else o))
    } finally {
      try probeConn.close() finally dmlConn.close()
    }
  }

  /** PARALLEL chunked DML with the commit journal — the 100-TB extension of
    * [[executeChunkedDml]] for workloads whose chunks don't contend (disjoint
    * key ranges, row-level locking): `parallelism` workers each drive their
    * own JDBC connection, one transaction per chunk, journal row committed
    * atomically WITH the chunk's work. The reference's loop is sequential by
    * design (its chunks hold locks, lib/DBIx/BatchChunker.pm:591-614); this
    * entry point is the Spark-side fan-out for engines where range-disjoint
    * DML is safe to overlap — it trades the reference's lock-safety contract
    * for wall-clock, and keeps the exactly-once contract.
    *
    * Exactly-once under CONCURRENT chunk commits changes the resume math:
    * chunks complete OUT OF ORDER, so a crash can leave the journal with
    * gaps (…c1, c2, c4… committed, c3 not). `MAX(chunk_end)` — the correct
    * high-water mark for the strictly-increasing sequential loop — would
    * silently skip the gap. This path instead resumes from the journal's
    * COVERAGE SET: the fixed-size plan is deterministic, every planned
    * chunk is probed against its exact (start, end) journal row, committed
    * chunks are skipped and gaps re-run. Two pieces make that sound:
    *
    *  - FIXED-SIZE plan required (targetTime = 0, minChunkPercent <= 0,
    *    same rule as [[graft.chunker.BatchChunker.foreachChunkPar]]):
    *    adaptive resizing is sequential by nature, and deterministic
    *    boundaries are what make exact-match journal probes equal interval
    *    coverage.
    *  - PLAN PINNING: the first process to run a runId journals the
    *    discovered (min, max) as a plan row (run_id = `<runId>#plan`,
    *    committed BEFORE any chunk). A resumed process replans from the
    *    PINNED range, not a fresh MIN/MAX — the DML itself may have moved
    *    the live range (DELETEs shrink it), and shifted boundaries would
    *    miss the exact-match probes and double-apply overlaps. If two
    *    processes race the first insert, both re-read and the lowest
    *    (start, end) row deterministically wins for both.
    *
    * Failure semantics match [[graft.chunker.BatchChunker.foreachChunkPar]]:
    * per-chunk retry under `cfg.retryAttempts`/`cfg.retryOn` (with
    * reconnect-on-dead, per worker), first exhausted budget poisons the run
    * — queued chunks stop launching, in-flight chunks complete (their
    * commits are durable and journaled, which is exactly what makes the
    * resume correct). A retried chunk re-probes its journal row first, so a
    * lost commit ack is skipped, not double-applied. A duplicate journal
    * INSERT from a concurrent same-runId process surfaces as a PK violation
    * → rollback → retry → journal-skip: self-healing, never double-applied.
    *
    * `commitLog` and `runId` are REQUIRED here (not optional as in the
    * sequential path): without the journal there is no out-of-order resume
    * story at all, and a parallel non-idempotent DML without one is a
    * double-apply waiting for its first crash.
    *
    * Returns an [[ExecutionReport]] with outcomes in PLAN order (not
    * completion order): "processed" ran this call, "skipped-journal" was
    * already committed (this run's lost-ack retries or a prior process),
    * "aborted" was abandoned unapplied because the run was poisoned (only
    * observable if the outcome map is surfaced on a failure path — a
    * successful run never contains one).
    */
  def executeChunkedDmlPar(
      url: String,
      template: String,
      idColumn: String,
      rangeTable: String,
      cfg: ChunkerConfig,
      parallelism: Int,
      commitLog: String,
      runId: String,
      props: Properties = new Properties,
      inTxn: (Chunk, java.sql.Connection) => Unit = (_, _) => ()
  ): ExecutionReport = {
    require(parallelism >= 1, "parallelism must be >= 1")
    require(runId.nonEmpty, "runId is required: journal rows and the plan row are scoped by it")
    require(cfg.targetTime == 0 && cfg.minChunkPercent <= 0,
      "executeChunkedDmlPar needs the fixed-size configuration (targetTime = 0, " +
        "minChunkPercent <= 0): deterministic chunk boundaries are what make the " +
        "journal's coverage-set resume exact")
    val runIdSql = "'" + runId.replace("'", "''") + "'"
    val planIdSql = "'" + (runId + "#plan").replace("'", "''") + "'"
    val probeConn = new ProbeConnection(url, props)
    // One DML + one probe connection per worker thread, tracked for close.
    val opened = new java.util.concurrent.ConcurrentLinkedQueue[AutoCloseable]()
    try {
      // Journal table (same DDL as the sequential path; X0Y32 = exists).
      try probeConn { c =>
        val st = c.createStatement()
        try st.executeUpdate(
          s"""CREATE TABLE $commitLog ("run_id" VARCHAR(128) NOT NULL,
             | "chunk_start" BIGINT NOT NULL,
             | "chunk_end" BIGINT NOT NULL,
             | PRIMARY KEY ("run_id", "chunk_start", "chunk_end"))""".stripMargin)
        finally st.close()
      } catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () }

      def planRow(): Option[(BigInt, BigInt)] = probeConn { c =>
        val st = c.createStatement()
        try {
          // Deterministic winner under a two-process insert race: lowest
          // (start, end) row wins for everyone.
          val rs = st.executeQuery(
            s"""SELECT "chunk_start", "chunk_end" FROM $commitLog WHERE "run_id" = $planIdSql""" +
              """ ORDER BY "chunk_start", "chunk_end" FETCH FIRST 1 ROWS ONLY""")
          if (!rs.next()) None
          else Some((BigInt(rs.getLong(1)), BigInt(rs.getLong(2))))
        } finally st.close()
      }
      val pinned = planRow().orElse {
        discoverRange(url, rangeTable, idColumn, props).map { case (mn, mx) =>
          try probeConn { c =>
            val st = c.createStatement()
            try st.executeUpdate(s"INSERT INTO $commitLog VALUES ($planIdSql, $mn, $mx)")
            finally st.close()
          } catch {
            // PK violation = another process pinned first; fall through to
            // the deterministic re-read below either way.
            case e: java.sql.SQLException if e.getSQLState == "23505" => ()
          }
          planRow().getOrElse((mn, mx))
        }
      }
      pinned match {
        case None =>
          // Empty keyspace: nothing to plan (mirrors the sequential engine).
          ExecutionReport(Vector.empty, finishedRange = true, None, None)
        case Some((mn, mx)) =>
          // Deterministic fixed-size plan over the PINNED range.
          val planner = new ChunkEngine(cfg.withoutStateFile, None, None)
          planner.minId = Some(mn); planner.maxId = Some(mx)
          val chunkBuf = Vector.newBuilder[Chunk]
          planner.execute(c => chunkBuf += c, markTimerOnDispatch = false)
          val planned = chunkBuf.result()
          // The journal's coverage set for this run — exact-match lookup is
          // sound because the plan above is a pure function of the pinned
          // range. One SELECT for the whole set (not one probe per chunk):
          // a resumed 100k-chunk run should not pay 100k point-SELECTs
          // before its first transaction.
          val covered: Set[(BigInt, BigInt)] = probeConn { c =>
            val st = c.createStatement()
            try {
              val rs = st.executeQuery(
                s"""SELECT "chunk_start", "chunk_end" FROM $commitLog WHERE "run_id" = $runIdSql""")
              val b = Set.newBuilder[(BigInt, BigInt)]
              while (rs.next()) b += ((BigInt(rs.getLong(1)), BigInt(rs.getLong(2))))
              b.result()
            } finally st.close()
          }
          val outcomes =
            new java.util.concurrent.ConcurrentHashMap[Chunk, ChunkOutcome]()
          planned.filter(c => covered((c.start, c.end))).foreach { c =>
            outcomes.put(c, ChunkOutcome(c, None, "skipped-journal", 0.0, cfg.chunkSize))
          }
          val todo = planned.filterNot(c => covered((c.start, c.end)))
          val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutorService(pool)
          val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
          val outcome = scala.concurrent.Promise[Unit]()
          val workerDml = ThreadLocal.withInitial[Array[java.sql.Connection]](() => {
            val c = DriverManager.getConnection(url, props)
            c.setAutoCommit(false)
            opened.add(c)
            Array(c)
          })
          val workerProbe = ThreadLocal.withInitial[ProbeConnection](() => {
            val p = new ProbeConnection(url, props)
            opened.add(p)
            p
          })
          def connectionClass(e: Throwable): Boolean = e match {
            case _: java.sql.SQLNonTransientConnectionException => true
            case _: java.sql.SQLRecoverableException => true
            case _: java.sql.SQLTransientConnectionException => true
            case _ => false
          }
          def alreadyCommitted(chunk: Chunk): Boolean = workerProbe.get() { c =>
            val st = c.createStatement()
            try {
              val rs = st.executeQuery(
                s"""SELECT COUNT(*) FROM $commitLog WHERE "run_id" = $runIdSql""" +
                  s""" AND "chunk_start" = ${chunk.start} AND "chunk_end" = ${chunk.end}""")
              rs.next(); rs.getLong(1) > 0
            } finally st.close()
          }
          try {
            val dbg = sys.env.contains("SPARK_GRAFT_DMLPAR_DEBUG")
            def trace(chunk: Chunk, phase: String): Unit =
              if (dbg) System.err.println(
                f"[dmlpar] ${System.nanoTime() / 1e9}%.3f chunk=${chunk.start} $phase")
            val futures = todo.map { chunk =>
              scala.concurrent.Future {
                val t0 = System.nanoTime()
                var attempt = 0
                var done = failed.get // a poisoned run launches nothing new
                var action = "processed"
                while (!done && !failed.get) {
                  attempt += 1
                  try {
                    // Lost-ack guard: probed on EVERY attempt — a retry after
                    // a commit whose ack was lost must skip, not double-apply.
                    trace(chunk, "probe-start")
                    if (alreadyCommitted(chunk)) { action = "skipped-journal"; done = true }
                    else {
                      trace(chunk, "probe-done")
                      val holder = workerDml.get()
                      val conn = holder(0)
                      try {
                        val sql = template
                          .replace("{start}", chunk.start.toString)
                          .replace("{end}", chunk.end.toString)
                        val st = conn.createStatement()
                        trace(chunk, "update-start")
                        try st.executeUpdate(sql) finally st.close()
                        trace(chunk, "update-done")
                        val st2 = conn.createStatement()
                        try st2.executeUpdate(
                          s"INSERT INTO $commitLog VALUES ($runIdSql, ${chunk.start}, ${chunk.end})")
                        finally st2.close()
                        inTxn(chunk, conn)
                        trace(chunk, "intxn-done")
                        conn.commit()
                        trace(chunk, "committed")
                        done = true
                      } catch {
                        case e: Throwable =>
                          try conn.rollback() catch { case _: Throwable => () }
                          val dead = connectionClass(e) || {
                            try conn.isClosed || !conn.isValid(5)
                            catch { case _: Throwable => true }
                          }
                          if (dead) {
                            try conn.close() catch { case _: Throwable => () }
                            val fresh = DriverManager.getConnection(url, props)
                            fresh.setAutoCommit(false)
                            opened.add(fresh)
                            holder(0) = fresh
                          }
                          throw e
                      }
                    }
                  } catch {
                    case e: Throwable if attempt < cfg.retryAttempts && cfg.retryOn(e) =>
                      cfg.log(s"Chunk $chunk attempt $attempt/${cfg.retryAttempts} failed, retrying: ${e.getMessage}")
                    case e: Throwable =>
                      failed.set(true)
                      outcome.tryFailure(e)
                      throw e
                  }
                }
                // A worker can exit with done == false (launched after the
                // run was poisoned, or the while-condition tripped mid-
                // retry): it applied NOTHING, so it must not report
                // "processed". Unreachable in today's surfaced reports only
                // because the poison path throws before the report is built
                // — recorded correctly anyway so the map stays truthful if
                // the report is ever surfaced on failure (r17 ADVICE).
                if (!done) action = "aborted"
                outcomes.put(chunk,
                  ChunkOutcome(chunk, None, action, (System.nanoTime() - t0) / 1e9, cfg.chunkSize))
              }
            }
            locally {
              // Completion callbacks run inline, not on `pool`: the finally
              // below shuts it down while queued futures still complete.
              implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.parasitic
              scala.concurrent.Future.sequence(futures).foreach(_ => outcome.trySuccess(()))
            }
            scala.concurrent.Await.result(outcome.future, scala.concurrent.duration.Duration.Inf)
          } finally {
            // On the poison path Await throws while sibling chunks are
            // still mid-commit; their commits are the durable journaled
            // work the resume builds on, so WAIT for them before the outer
            // finally closes their connections out from under them.
            pool.shutdown()
            pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
          }
          ExecutionReport(
            planned.flatMap(c => Option(outcomes.get(c))),
            finishedRange = true,
            finalMinId = Some(mx + 1),
            maxIdSeen = Some(mx))
      }
    } finally {
      opened.forEach(c => try c.close() catch { case _: Throwable => () })
      probeConn.close()
    }
  }

  /** Strictly-sequential chunked JDBC append: the reference's "run large
    * database changes safely" write path. Returns the execution report
    * (resume point usable for a re-run after failure).
    */
  def writeChunked(
      df: DataFrame,
      idColumn: String,
      cfg: ChunkerConfig,
      url: String,
      table: String,
      props: Properties = new Properties
  ): ExecutionReport = {
    val bc = new BatchChunker(df, idColumn, cfg)
    bc.calculateRanges()
    bc.foreachChunk { chunk =>
      chunk.write.mode("append").jdbc(url, table, props)
    }
  }
}
