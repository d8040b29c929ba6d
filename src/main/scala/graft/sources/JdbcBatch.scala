package graft.sources

import java.sql.DriverManager
import java.util.Properties
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.chunker._

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

  def apply[A](f: java.sql.Connection => A): A =
    try f(conn)
    catch {
      case e: Throwable if ProbeConnection.dead(e, conn) =>
        try conn.close() catch { case _: Throwable => () }
        conn = DriverManager.getConnection(url, props)
        f(conn)
    }

  override def close(): Unit = conn.close()
}

private[graft] object ProbeConnection {

  /** Did failure `e` leave `c` unusable? A connection-class SQLException
    * says so outright; any other failure is checked with a liveness ping. */
  def dead(e: Throwable, c: java.sql.Connection): Boolean = e match {
    case _: java.sql.SQLNonTransientConnectionException => true
    case _: java.sql.SQLRecoverableException => true
    case _: java.sql.SQLTransientConnectionException => true
    case _ =>
      try c.isClosed || !c.isValid(5)
      catch { case _: Throwable => true }
  }
}

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
object JdbcBatch {

  /** ANSI-quoted identifier — matches how Spark's JDBC dialects create
    * columns (case-sensitive), so `id` written by Spark stays addressable. */
  private def quoted(ident: String): String = "\"" + ident.replace("\"", "\"\"") + "\""

  /** SQL string literal. */
  private def literal(s: String): String = "'" + s.replace("'", "''") + "'"

  private def update(c: java.sql.Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.executeUpdate(sql) finally st.close()
  }

  /** Runs one query on `c` and hands its result set to `read`. */
  private def query[A](c: java.sql.Connection, sql: String)(read: java.sql.ResultSet => A): A = {
    val st = c.createStatement()
    try read(st.executeQuery(sql)) finally st.close()
  }

  /** The first column of the first row as an id; None on no row or NULL. */
  private def idOf(rs: java.sql.ResultSet): Option[BigInt] =
    if (!rs.next()) None else Option(rs.getBigDecimal(1)).map(d => BigInt(d.toBigInteger))

  /** Create the journal table unless it exists (see `commitLog` on
    * [[executeChunkedDml]]). Derby has no CREATE TABLE IF NOT EXISTS;
    * SQLState X0Y32 = exists. */
  private def createJournal(probe: ProbeConnection, tbl: String): Unit =
    try probe(update(_,
      s"""CREATE TABLE $tbl ("run_id" VARCHAR(128) NOT NULL,
         | "chunk_start" BIGINT NOT NULL,
         | "chunk_end" BIGINT NOT NULL,
         | PRIMARY KEY ("run_id", "chunk_start", "chunk_end"))""".stripMargin))
    catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () }

  /** Chunk transactions on one `autoCommit=false` DML connection, with a
    * [[ProbeConnection]] for journal reads. [[run]] is the body the reference
    * wraps in `DBIx::Connector::Retry->run` (lib/DBIx/BatchChunker.pm:1297-1350).
    * One instance per dispatching thread.
    *
    * The two journal statements are prepared once per connection and bound
    * per chunk, as the reference prepares its statement once and binds
    * `(start, end)` on each execute (:116-131): the probe on the probe
    * connection, the insert on the DML connection. The template stays text
    * (see [[executeChunkedDml]]).
    *
    * Reconnect follows DBIx::Connector's fixup mode (:104-112, 236-288): no
    * per-chunk liveness ping; a failure that leaves the DML connection dead
    * marks it, and the next attempt reopens it first — retrying on a dead
    * socket burns the budget, and reopening there keeps each attempt's
    * error the chunk's own.
    *
    * @param journal the `commitLog` table, if any, and the run id
    */
  private final class ChunkTxn(
      url: String,
      props: Properties,
      template: String,
      journal: Option[(String, String)],
      inTxn: (Chunk, java.sql.Connection) => Unit
  ) extends AutoCloseable {
    val probe = new ProbeConnection(url, props)
    private var dml = open()
    private var reconnectPending = false
    /** The run id, and the journal probe and insert that bind it. */
    private val journalSt = journal.map { case (tbl, runId) =>
      (runId,
        new Prepared(s"""SELECT COUNT(*) FROM $tbl WHERE "run_id" = ? AND "chunk_start" = ? AND "chunk_end" = ?"""),
        new Prepared(s"INSERT INTO $tbl VALUES (?, ?, ?)"))
    }

    private def open(): java.sql.Connection = {
      val c = DriverManager.getConnection(url, props)
      c.setAutoCommit(false)
      c
    }

    /** `ps` with the run id and `chunk`'s bounds bound as parameters 1-3. */
    private def bound(ps: java.sql.PreparedStatement, runId: String, chunk: Chunk): java.sql.PreparedStatement = {
      ps.setString(1, runId)
      ps.setLong(2, chunk.start.bigInteger.longValueExact)
      ps.setLong(3, chunk.end.bigInteger.longValueExact)
      ps
    }

    /** Is this chunk's journal row already COMMITTED? (The probe is a
      * separate autocommit connection, so it sees only committed work — a
      * row from a lost-ack commit is visible, an uncommitted one from a live
      * transaction is not.) */
    private def committed(chunk: Chunk): Boolean = journalSt.exists { case (runId, select, _) =>
      probe { c =>
        val rs = bound(select(c), runId, chunk).executeQuery()
        try { rs.next(); rs.getLong(1) > 0 } finally rs.close()
      }
    }

    /** Runs `chunk` in one transaction. Returns "processed", or
      * "skipped-journal" when its journal row is already committed (a lost
      * commit ack or a prior process): probed on EVERY attempt, so a retry
      * after a lost ack skips instead of applying the chunk twice. */
    def run(chunk: Chunk): String = {
      if (reconnectPending) {
        try dml.close() catch { case _: Throwable => () }
        dml = open()
        reconnectPending = false
      }
      if (committed(chunk)) "skipped-journal"
      else try {
        update(dml, chunk.fill(template))
        // Journal row BEFORE inTxn and commit — same transaction, so it
        // becomes visible to other connections atomically WITH the
        // chunk's work, and a rollback erases both together.
        journalSt.foreach { case (runId, _, insert) => bound(insert(dml), runId, chunk).executeUpdate() }
        inTxn(chunk, dml)
        dml.commit()
        "processed"
      } catch {
        case e: Throwable =>
          // Clean slate for the retry; a rollback failure (dead
          // connection) must not mask the original error.
          try dml.rollback() catch { case _: Throwable => () }
          if (ProbeConnection.dead(e, dml)) reconnectPending = true
          throw e
      }
    }

    override def close(): Unit = {
      journalSt.foreach { case (_, select, insert) => select.close(); insert.close() }
      try probe.close() finally dml.close()
    }
  }

  /** `sql` prepared once per connection it runs on: given another (a
    * reopened or rebuilt) connection, it closes the old statement and
    * prepares afresh, so no reconnect path has to reset it. */
  private final class Prepared(sql: String) extends AutoCloseable {
    private var on: java.sql.Connection = null
    private var st: java.sql.PreparedStatement = null

    def apply(c: java.sql.Connection): java.sql.PreparedStatement = {
      if (c ne on) {
        close()
        st = c.prepareStatement(sql)
        on = c
      }
      st
    }

    /** Never throws: the statement may sit on a dead connection. */
    override def close(): Unit = {
      if (st != null) try st.close() catch { case _: Throwable => () }
      st = null
      on = null
    }
  }

  /** One-roundtrip range discovery over JDBC (no Spark job). */
  def discoverRange(url: String, table: String, idColumn: String, props: Properties = new Properties): Option[(BigInt, BigInt)] = {
    val conn = DriverManager.getConnection(url, props)
    try query(conn, s"SELECT MIN(${quoted(idColumn)}), MAX(${quoted(idColumn)}) FROM $table") { rs =>
      for (mn <- idOf(rs); mx <- Option(rs.getBigDecimal(2))) yield (mn, BigInt(mx.toBigInteger))
    } finally conn.close()
  }

  /** Chunk-partitioned parallel JDBC read: one Spark partition per planned
    * chunk, each bounded by a sargable BETWEEN predicate. The chunks are
    * `cfg`'s fixed-size plan over the discovered range ([[Chunk.fixedPlan]]),
    * so `cfg` must be the fixed-size configuration (targetTime = 0,
    * minChunkPercent <= 0); `cfg.sleep` does not apply.
    */
  def readChunked(
      spark: SparkSession,
      url: String,
      table: String,
      idColumn: String,
      cfg: ChunkerConfig,
      props: Properties = new Properties
  ): DataFrame = {
    cfg.requireFixedSize("readChunked")
    val chunks = discoverRange(url, table, idColumn, props)
      .fold(Vector.empty[Chunk]) { case (mn, mx) => Chunk.fixedPlan(mn, mx, cfg.chunkSize) }
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
    * story is literal instead of approximated by commit markers.
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
    * Which statements are prepared: the journal probe and the journal
    * insert are the library's own, so each is prepared once per connection
    * and bound per chunk (Derby compiles a class per distinct statement
    * text, and these two ran once per chunk). The template and the optional
    * COUNT probe stay text, `{start}`/`{end}` filled per chunk: binding the
    * template's bounds as `?` was tried on the `jdbc_dml_par` benchmark
    * (in-memory Derby, conditional UPDATE over an indexed id) and made it
    * 14–18× slower — 25 713 → 1 838 and 28 529 → 1 601 rows/s, per-chunk
    * p50 from about 6.5 to about 100 ms. The cause was not established; the
    * likeliest is Derby choosing no index range scan for a parameterised
    * `BETWEEN ? AND ?`, which it cannot cost without the values.
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
    val runIdSql = literal(runId)
    val txn = new ChunkTxn(url, props, template, commitLog.map((_, runId)), inTxn)
    try {
      commitLog.foreach(createJournal(txn.probe, _))
      val source = new RangeSource {
        private def agg(fn: String): Option[BigInt] =
          txn.probe(query(_, s"SELECT $fn(${quoted(idColumn)}) FROM $rangeTable")(idOf))
        override def minId(): Option[BigInt] = agg("MIN")
        override def maxId(): Option[BigInt] = agg("MAX")
      }
      val probe: Option[(BigInt, BigInt) => BigInt] =
        if (!enableCountProbe) None
        else Some { (s, e) =>
          val sql = s"SELECT COUNT(*) FROM $rangeTable WHERE ${quoted(idColumn)} BETWEEN $s AND $e"
          txn.probe(query(_, sql) { rs => rs.next(); BigInt(rs.getLong(1)) })
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
          engine.retrying("Journal high-water-mark probe")(txn.probe(
            query(_, s"""SELECT MAX("chunk_end") FROM $tbl WHERE "run_id" = $runIdSql""")(idOf)))
        case None => cfg.stateDir.flatMap(ResumeState.read)
      }
      for (pe <- resumePoint if engine.minId.forall(_ <= pe)) engine.minId = Some(pe + 1)
      // "skipped-journal", not "processed", for a chunk already committed
      // (lost ack or prior process): an exactly-once audit must tell
      // replayed-and-skipped from executed.
      engine.executeLabelled(txn.run)
    } finally txn.close()
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
    * Failure semantics match [[graft.chunker.BatchChunker.foreachChunkPar]]
    * (both dispatch through [[graft.chunker.ChunkEngine.dispatchParallel]]):
    * per-chunk retry under `cfg.retryAttempts`/`cfg.retryOn`, with a dead
    * connection reopened by the worker's next attempt, exactly as in
    * [[executeChunkedDml]]; the first exhausted budget poisons the run —
    * queued chunks stop launching, and the call throws once the in-flight
    * chunks complete (their commits are durable and journaled, which is
    * exactly what makes the resume correct). A retried chunk re-probes its
    * journal row first, so a lost commit ack is skipped, not double-applied.
    * A duplicate journal INSERT from a concurrent same-runId process
    * surfaces as a PK violation → rollback → retry → journal-skip:
    * self-healing, never double-applied. `cfg.sleep` does not apply.
    *
    * `commitLog` and `runId` are REQUIRED here (not optional as in the
    * sequential path): without the journal there is no out-of-order resume
    * story at all, and a parallel non-idempotent DML without one is a
    * double-apply waiting for its first crash.
    *
    * Returns an [[ExecutionReport]] with outcomes in PLAN order (not
    * completion order): "processed" ran this call, "skipped-journal" was
    * already committed (this run's lost-ack retries or a prior process),
    * "aborted" was abandoned unapplied because the run was poisoned (a
    * poisoned run throws, so a returned report never contains one).
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
    cfg.requireFixedSize("executeChunkedDmlPar")
    val runIdSql = literal(runId)
    val planIdSql = literal(runId + "#plan")
    val probeConn = new ProbeConnection(url, props)
    // One chunk transaction per worker thread, tracked for close.
    val opened = new java.util.concurrent.ConcurrentLinkedQueue[ChunkTxn]()
    try {
      createJournal(probeConn, commitLog)
      // Deterministic winner under a two-process insert race: lowest
      // (start, end) row wins for everyone.
      def planRow(): Option[(BigInt, BigInt)] = probeConn(query(_,
        s"""SELECT "chunk_start", "chunk_end" FROM $commitLog WHERE "run_id" = $planIdSql""" +
          """ ORDER BY "chunk_start", "chunk_end" FETCH FIRST 1 ROWS ONLY""") { rs =>
        if (!rs.next()) None else Some((BigInt(rs.getLong(1)), BigInt(rs.getLong(2))))
      })
      val pinned = planRow().orElse {
        discoverRange(url, rangeTable, idColumn, props).map { case (mn, mx) =>
          try probeConn(update(_, s"INSERT INTO $commitLog VALUES ($planIdSql, $mn, $mx)"))
          catch {
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
          val planned = Chunk.fixedPlan(mn, mx, cfg.chunkSize)
          // The journal's coverage set for this run — exact-match lookup is
          // sound because the plan above is a pure function of the pinned
          // range. One SELECT for the whole set (not one probe per chunk):
          // a resumed 100k-chunk run should not pay 100k point-SELECTs
          // before its first transaction.
          val covered: Set[(BigInt, BigInt)] = probeConn(query(_,
            s"""SELECT "chunk_start", "chunk_end" FROM $commitLog WHERE "run_id" = $runIdSql""") { rs =>
            val b = Set.newBuilder[(BigInt, BigInt)]
            while (rs.next()) b += ((BigInt(rs.getLong(1)), BigInt(rs.getLong(2))))
            b.result()
          })
          val txn = ThreadLocal.withInitial[ChunkTxn] { () =>
            val t = new ChunkTxn(url, props, template, Some((commitLog, runId)), inTxn)
            opened.add(t)
            t
          }
          // Dispatch waits for in-flight chunks even on the poison path:
          // their commits are the durable journaled work the resume builds
          // on, so their connections must not close under them.
          val outcomes = ChunkEngine.dispatchParallel(cfg, planned, parallelism) { c =>
            if (covered((c.start, c.end))) "skipped-journal" else txn.get.run(c)
          }
          ExecutionReport(outcomes, finishedRange = true, finalMinId = Some(mx + 1), maxIdSeen = Some(mx))
      }
    } finally {
      opened.forEach(t => try t.close() catch { case _: Throwable => () })
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
