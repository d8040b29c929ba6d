package graft.chunker

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max, min}
import org.apache.spark.sql.types._

/** DataFrame binding of the [[ChunkEngine]] — the Spark-native face of the
  * reference's whole API surface (reference: lib/DBIx/BatchChunker.pm:70-169).
  *
  * The reference delegates relational work to an RDBMS and keeps a sequential
  * control loop in the client; here the "RDBMS" is the Spark cluster. Each
  * per-chunk operation is a Spark action over
  * `df.filter(col(id).between(start, end))` — a sargable range predicate that
  * Catalyst pushes into the parquet/JDBC scan (row-group pruning / partition
  * pruning), so a chunk only reads its own slice of a 100 TB table. The loop
  * itself stays on the driver, exactly as the reference's loop stays in the
  * client process — parallelism lives inside each chunk's action, which fans
  * out across executors.
  *
  * Dispatch modes, mirroring reference modes (lib/DBIx/BatchChunker.pm:96-169):
  *  - [[foreachChunk]]  — chunk ResultSet callback (DBIC mode, :1279-1286)
  *  - [[foreachRow]]    — `single_rows` driver-side row loop (:1305-1327);
  *                        chunk-granular retry restarts the whole chunk
  *  - [[foreachRowInChunkPartitions]] — distributed per-row dispatch for
  *                        sink writes (the scale path the reference can't do)
  *  - [[runSql]]        — `stmt` mode: SQL template with `{start}`/`{end}`
  *                        placeholders instead of `BETWEEN ? AND ?` binds (:116-131)
  *  - [[foreachRange]]  — DIY mode, bare `(start, end)` (:155-169)
  *
  * @param df       the keyspace DataFrame (lazy logical plan = the reference's
  *                 ResultSet)
  * @param idColumn integer-ish ordered key column; integral, decimal, and
  *                 numeric-string types supported (strings documented-caveat,
  *                 like reference lib/DBIx/BatchChunker.pm:1756-1770)
  * @param countDf  optional separate counting keyspace (`count_rs`,
  *                 lib/DBIx/BatchChunker.pm:230-234); defaults to `df`
  * @param rangeDf  optional separate RANGE-DISCOVERY keyspace — the
  *                 analogue of `min_stmt`/`max_stmt`/`min_max_rsc`
  *                 (lib/DBIx/BatchChunker.pm:339-402, 1034-1073), which let
  *                 range discovery run against a different statement than
  *                 the work query (e.g. an unfiltered index-only scan when
  *                 the work df carries selective filters that would make
  *                 MIN/MAX expensive, or a driving parent table). Must
  *                 expose `idColumn`. Defaults to `df`. Also consulted by
  *                 the processPastMax re-check (N10), matching the
  *                 reference's use of the same statement there.
  */
final class BatchChunker(
    df: DataFrame,
    val idColumn: String,
    cfg: ChunkerConfig = ChunkerConfig(),
    countDf: Option[DataFrame] = None,
    clock: Clock = SystemClock,
    enableCountProbe: Boolean = true,
    rangeDf: Option[DataFrame] = None
) {
  private val idField: StructField = df.schema.find(_.name.equalsIgnoreCase(idColumn))
    .getOrElse(throw new IllegalArgumentException(
      s"id column '$idColumn' not found in schema ${df.schema.fieldNames.mkString(", ")}"))

  idField.dataType match {
    case ByteType | ShortType | IntegerType | LongType | StringType => ()
    case _: DecimalType => ()
    case t => throw new IllegalArgumentException(
      s"id column '$idColumn' has unsupported type $t; need an integer-ish ordered key " +
        "(the reference makes the same demand, lib/DBIx/BatchChunker.pm:492-507)")
  }

  /** Typed literal for an id value. Matching the column's native type keeps
    * the predicate sargable: a long column compared to a long literal reaches
    * the parquet scan as PushedFilters, while a cast on the column side would
    * disable pushdown and force a full scan per chunk — fatal at 100 TB.
    */
  private def idLit(v: BigInt): Column = idField.dataType match {
    case _: DecimalType => lit(new java.math.BigDecimal(v.bigInteger))
    case _              => lit(v.toLong)
  }

  /** Range predicate for one chunk. String ids compare numerically via a
    * decimal cast (collation order would be wrong, the caveat the reference
    * documents at lib/DBIx/BatchChunker.pm:1756-1770) — pushdown is lost, so
    * prefer numeric id columns at scale.
    */
  def betweenFilter(start: BigInt, end: BigInt): Column = idField.dataType match {
    case StringType =>
      col(idColumn).cast(DecimalType(38, 0))
        .between(lit(new java.math.BigDecimal(start.bigInteger)), lit(new java.math.BigDecimal(end.bigInteger)))
    case _ => col(idColumn).between(idLit(start), idLit(end))
  }

  /** The chunk's slice of the keyspace — the analogue of the reference's
    * `rs.search({ id => { -between => [start, end] } })`
    * (lib/DBIx/BatchChunker.pm:1279-1281). */
  def chunkDf(c: Chunk): DataFrame = df.filter(betweenFilter(c.start, c.end))

  /** The id column of `d` in the numeric form [[betweenFilter]] compares.
    * Resolved against THIS DataFrame's schema: a rangeDf or countDf may
    * carry the key under a different (string-vs-numeric) type than df. */
  private def idNumeric(d: DataFrame): Column = {
    val fld = d.schema.find(_.name.equalsIgnoreCase(idColumn)).getOrElse(
      throw new IllegalArgumentException(
        s"id column '$idColumn' not found in range/count schema ${d.schema.fieldNames.mkString(", ")}"))
    fld.dataType match {
      case StringType => col(idColumn).cast(DecimalType(38, 0))
      case _          => col(idColumn)
    }
  }

  private def aggToBigInt(d: DataFrame, f: Column => Column): Option[BigInt] = {
    val row = d.agg(f(idNumeric(d)).cast(DecimalType(38, 0))).head()
    if (row.isNullAt(0)) None else Some(BigInt(row.getDecimal(0).toBigInteger))
  }

  private val rangeTarget: DataFrame = rangeDf.getOrElse(df)

  private val source: RangeSource = new RangeSource {
    override def minId(): Option[BigInt] = aggToBigInt(rangeTarget, min)
    override def maxId(): Option[BigInt] = aggToBigInt(rangeTarget, max)
  }

  private val probeTarget: DataFrame = countDf.getOrElse(df)

  /** Live COUNT probe. With the probe enabled, the engine answers most
    * probes from a [[CountWindow]] instead (see [[windowLoader]]) and runs
    * this one only to confirm a block is empty before skipping it, or for a
    * probe no window can cover. */
  private val probe: Option[(BigInt, BigInt) => BigInt] =
    if (enableCountProbe) Some((s, e) => BigInt(probeTarget.filter(betweenFilter(s, e)).count()))
    else None

  /** One grouped scan per window: the row count of each distinct id in
    * `[lo, hi]`, lowest `cap` ids first. A window spans a few chunk widths,
    * so sizing costs a fraction of one Spark job per chunk where the live
    * probe cost one job per bisection rung. */
  private val windowLoader: CountWindow.Loader = (lo, hi, cap) => {
    val k = idNumeric(probeTarget).as("k")
    probeTarget.filter(betweenFilter(lo, hi)).groupBy(k).count()
      .orderBy(col("k")).limit(cap).collect().toSeq
      .map { r =>
        val id = r.get(0) match {
          case d: java.math.BigDecimal => BigInt(d.toBigInteger)
          case n: java.lang.Number     => BigInt(n.longValue)
        }
        (id, r.getLong(1))
      }
  }

  private def newEngine(c: ChunkerConfig) =
    new ChunkEngine(c, Some(source), probe, clock, countWindow = probe.map(_ => windowLoader))

  /** The underlying engine; exposed so callers can set min/max manually and
    * skip range discovery, like the reference allows (t/dbh.t:249-281). */
  val engine = newEngine(cfg)

  /** N1: discover `[minId, maxId]` via a min/max aggregate — one Spark job
    * over the id column only (column-pruned scan). */
  def calculateRanges(): Boolean = engine.calculateRanges()

  def minId: Option[BigInt] = engine.minId
  def maxId: Option[BigInt] = engine.maxId
  def minId_=(v: Option[BigInt]): Unit = engine.minId = v
  def maxId_=(v: Option[BigInt]): Unit = engine.maxId = v

  /** Pick up where a previous PROCESS left off: if `stateDir` holds a
    * persisted resume point (written per committed chunk when
    * `ChunkerConfig.stateDir` is set — see [[ResumeState]]), advance
    * `minId` to the first unprocessed id. Call after [[calculateRanges]]
    * (the discovered min is kept when it is already past the resume
    * point, e.g. on a keyspace whose tail was deleted). Returns true when
    * a resume point was applied. */
  def resumeFrom(stateDir: String): Boolean = {
    val prevEnd = ResumeState.read(stateDir)
    prevEnd.foreach(resumeAfter)
    prevEnd.isDefined
  }

  /** Advance `minId` to `prevEnd + 1`, unless it is already past it. */
  private[chunker] def resumeAfter(prevEnd: BigInt): Unit =
    if (engine.minId.forall(_ <= prevEnd)) engine.minId = Some(prevEnd + 1)

  /** N4/N6: bulk callback per chunk. The callback receives the lazily
    * filtered chunk DataFrame and chooses its own action (write, count,
    * collect...). */
  def foreachChunk(f: DataFrame => Unit): ExecutionReport =
    engine.execute(c => f(chunkDf(c)))

  /** Like [[foreachChunk]] but also hands the callback the chunk bounds —
    * needed by sinks that key their output by range (see ChunkedRewrite). */
  def foreachChunkWithRange(f: (Chunk, DataFrame) => Unit): ExecutionReport =
    engine.execute(c => f(c, chunkDf(c)))

  /** N7 `single_rows`: rows fetched to the driver one chunk at a time, the
    * callback invoked per row. A mid-chunk failure rethrows and the retry
    * wrapper restarts the WHOLE chunk (parity with the per-chunk transaction,
    * t/dbic.t:461-502). Driver-side by design — use
    * [[foreachRowInChunkPartitions]] when the per-row work can run on
    * executors. */
  def foreachRow(f: Row => Unit): ExecutionReport =
    engine.execute(c => chunkDf(c).toLocalIterator().forEachRemaining(r => f(r)))

  /** Distributed per-row dispatch: same chunk loop, but each chunk's rows are
    * processed on the executors via `foreachPartition`. `f` must be
    * serializable and idempotent (Spark task retries + our chunk retries =
    * at-least-once). This is the 100 TB path the reference has no analogue
    * for. */
  def foreachRowInChunkPartitions(f: Iterator[Row] => Unit): ExecutionReport =
    engine.execute(c => chunkDf(c).foreachPartition(f))

  /** N5 `stmt` mode: a SQL template executed once per chunk with `{start}` /
    * `{end}` substituted — the Spark-native replacement for
    * `BETWEEN ? AND ?` bind placeholders (lib/DBIx/BatchChunker.pm:116-131).
    * Each substituted statement is run through `spark.sql` (so it can be a
    * SELECT consumed by `action`, or INSERT/MERGE DML against a catalog
    * table). */
  def runSql(spark: SparkSession, template: String, action: DataFrame => Unit = _ => ()): ExecutionReport =
    engine.execute(c => action(spark.sql(c.fill(template))))

  /** N8 DIY mode: bare range callback, no data touched by the engine. Note
    * DIY runtimes include count-probe time, matching the reference
    * (lib/DBIx/BatchChunker.pm:1376-1380), but not count-window loads. */
  def foreachRange(f: (BigInt, BigInt) => Unit): ExecutionReport =
    engine.execute(c => f(c.start, c.end), markTimerOnDispatch = false)

  /** Dry run: drive the full adaptive loop (count probes, resizing, skips)
    * without dispatching any work — the chunk plan as data. No resume
    * point moves, in memory or in `stateDir`: nothing has run. Nothing
    * sleeps either: `cfg.sleep` paces work, and a plan does none. */
  def planChunks(): ExecutionReport = {
    val planner = newEngine(cfg.copy(stateDir = None, sleep = 0))
    planner.minId = engine.minId
    planner.maxId = engine.maxId
    planner.execute(_ => ())
  }

  /** Parallel fan-out over a FIXED-SIZE chunk plan: plan all chunks first
    * ([[Chunk.fixedPlan]], driver-side math, no jobs and no `cfg.sleep`),
    * then run `parallelism` chunk actions concurrently on the scheduler.
    *
    * The reference's loop is deliberately sequential because its chunks hold
    * DB locks (SURVEY.md §7.4); for read-only Spark workloads (chunked
    * export, scan-and-score, reindex) no such constraint exists, and
    * concurrent chunk jobs let the cluster overlap scan latency with
    * compute. Adaptive resizing/runtime-targeting is inherently sequential
    * (each chunk's observation feeds the next plan), so this entry point
    * requires the fixed-size configuration: no count probe, resizing
    * disabled. Retry stays per-chunk. The first chunk to exhaust its retries
    * fails the call once the chunk actions already running have finished
    * ([[ChunkEngine.dispatchParallel]]). Returns the planned chunks.
    */
  def foreachChunkPar(parallelism: Int)(f: (Chunk, DataFrame) => Unit): Vector[Chunk] = {
    cfg.requireFixedSize("foreachChunkPar")
    val planned = (for (mn <- engine.minId; mx <- engine.maxId) yield Chunk.fixedPlan(mn, mx, cfg.chunkSize))
      .getOrElse(Vector.empty)
    ChunkEngine.dispatchParallel(cfg, planned, parallelism) { c => f(c, chunkDf(c)); "processed" }
    planned
  }
}

object BatchChunker {
  /** N3 `construct_and_execute` (lib/DBIx/BatchChunker.pm:975-983). */
  def constructAndExecute(
      df: DataFrame,
      idColumn: String,
      cfg: ChunkerConfig = ChunkerConfig()
  )(f: DataFrame => Unit): ExecutionReport = {
    val bc = new BatchChunker(df, idColumn, cfg)
    bc.calculateRanges()
    bc.foreachChunk(f)
  }
}
