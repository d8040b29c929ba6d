package graft.chunker

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Chunked DML over immutable storage — the reference's bread-and-butter
  * (chunked UPDATE/DELETE against a live RDBMS,
  * reference lib/DBIx/BatchChunker.pm:116-131, examples/basic.pl:21-31)
  * re-expressed as per-chunk copy-on-write:
  *
  *  - DELETE = anti-filter: each chunk writes only the rows that survive;
  *  - UPDATE = column rewrite: each chunk writes its transformed rows;
  *  - each chunk STAGES its output under a dot-prefixed scratch directory
  *    and then RENAMES it into its range-keyed final directory — the
  *    moral equivalent of the reference's per-chunk transaction commit
  *    (lib/DBIx/BatchChunker.pm:1305-1327): a reader listing `chunk_*`
  *    never observes a half-written chunk (dot-dirs are invisible to the
  *    glob AND to Spark's file-index, which skips `.`/`_` paths), a
  *    failed/retried chunk re-stages and re-renames idempotently, and a
  *    crashed run resumes after its last committed chunk without
  *    double-writing earlier chunks (see [[rewriteWithRange]]).
  *
  * The semantic difference from a real transaction (readers can observe a
  * half-rewritten TABLE across chunk boundaries, never within one chunk) is
  * inherent to file storage and documented here on purpose — the reference
  * has the same visibility story across chunks, since each chunk commits
  * independently.
  *
  * At scale: every chunk write is a distributed job over only that chunk's
  * row-group-pruned slice; output directory count = chunk count, so size
  * chunks for sane file counts (targetTime does this automatically when the
  * per-chunk work is timed).
  */
object ChunkedRewrite {

  /** Run `transform` over each chunk of `df` and write the results under
    * `outDir/chunk_<start>_<end>/`. Returns the execution report (chunk
    * stats, resume point).
    */
  def rewrite(
      df: DataFrame,
      idColumn: String,
      cfg: ChunkerConfig,
      outDir: String,
      countProbe: Boolean = true
  )(transform: DataFrame => DataFrame): ExecutionReport =
    rewriteWithRange(df, idColumn, cfg, outDir, countProbe)((_, chunk) => transform(chunk))

  /** Like [[rewrite]], but the transform also receives the chunk bounds —
    * needed by MERGE-shaped rewrites that must co-partition a DELTA side by
    * the same ranges (an unmatched delta row belongs to exactly one chunk,
    * which is what makes per-chunk upsert exactly-once). `rangeDf` extends
    * range discovery past the target's own keyspace (e.g. to cover insert
    * keys that don't exist in the target yet), mirroring
    * BatchChunker's `min_stmt`/`max_stmt` parity.
    *
    * With `cfg.stateDir` set (the opt-in to resume), a restarted run reads
    * its resume point from `outDir` itself: it starts one id past the
    * largest end among the committed `chunk_<start>_<end>` directories,
    * and first deletes every uncommitted `chunk_*` or `.staging_chunk_*`
    * directory a crash left behind. Nothing is written under `stateDir`.
    * Blocks skipped as empty after the last committed chunk are probed
    * again on restart. To start over, use a fresh or emptied `outDir`. */
  def rewriteWithRange(
      df: DataFrame,
      idColumn: String,
      cfg: ChunkerConfig,
      outDir: String,
      countProbe: Boolean = true,
      rangeDf: Option[DataFrame] = None
  )(transform: (Chunk, DataFrame) => DataFrame): ExecutionReport = {
    val bc = new BatchChunker(df, idColumn, cfg.withoutStateFile,
      enableCountProbe = countProbe, rangeDf = rangeDf)
    bc.calculateRanges()
    val root = new Path(outDir)
    val fs = root.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    // The markers are the commit record, written with each chunk's commit,
    // so resuming from them is exact even when sizing diverges on restart.
    if (cfg.stateDir.isDefined && fs.exists(root)) {
      val (committed, uncommitted) = listChunks(fs, root)
      uncommitted.foreach { p =>
        if (!fs.delete(p, true)) throw new java.io.IOException(s"could not delete uncommitted $p")
      }
      val ends = committed.map(_.getName).collect { case ChunkName(_, end) => BigInt(end) }
      if (ends.nonEmpty) bc.resumeAfter(ends.max)
    }
    bc.foreachChunkWithRange { (chunk, chunkDf) =>
      val staging = new Path(root, s".staging_chunk_${chunk.start}_${chunk.end}")
      val finalDir = new Path(root, s"chunk_${chunk.start}_${chunk.end}")
      transform(chunk, chunkDf).write.mode("overwrite").parquet(staging.toString)
      // Commit = swap the fully-written staging dir in. On HDFS/local the
      // rename is atomic and the only non-atomic instant is between delete
      // and rename, during which the chunk is ABSENT (a reader skips it),
      // never partial. On OBJECT STORES (S3A and friends) directory rename
      // is copy-object-by-object + delete — NOT atomic — so a crash mid-
      // rename can leave a chunk dir with some of its files. That is why
      // commit finishes by writing the marker file LAST: a chunk is
      // committed iff `_GRAFT_COMMITTED` exists, and [[readBackCommitted]]
      // gates on it. (Spark's own `_SUCCESS` can't serve: the committer
      // writes it into STAGING, so a torn rename may copy it before the
      // data files.)
      if (fs.exists(finalDir)) fs.delete(finalDir, true)
      if (!fs.rename(staging, finalDir))
        throw new java.io.IOException(s"commit rename failed for $finalDir")
      fs.create(new Path(finalDir, CommitMarker), true).close()
    }
  }

  private val ChunkName = """chunk_(-?\d+)_(-?\d+)""".r

  /** One listing of `root`: the committed `chunk_*` directories (marker
    * present), and the ones a crash left uncommitted — an unmarked
    * `chunk_*` or a `.staging_chunk_*`. */
  private def listChunks(fs: FileSystem, root: Path): (Seq[Path], Seq[Path]) = {
    val dirs = fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
    val (chunks, others) = dirs.partition(_.getName.startsWith("chunk_"))
    val (committed, torn) = chunks.partition(p => fs.exists(new Path(p, CommitMarker)))
    (committed, torn ++ others.filter(_.getName.startsWith(".staging_chunk_")))
  }

  /** Name of the per-chunk commit marker, written strictly after every data
    * file of the chunk is in place. Underscore-prefixed, so Spark's file
    * index ignores it when the chunk is read as parquet. */
  val CommitMarker = "_GRAFT_COMMITTED"

  /** Read the rewritten table back as one DataFrame. Sufficient on
    * filesystems with atomic directory rename (HDFS, local); on object
    * stores use [[readBackCommitted]], which skips torn-rename leftovers. */
  def readBack(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/chunk_*")

  /** Materialize a TINY (control-plane-sized) frame as a driver-local one,
    * severing every dependency on the distributed inputs that produced it —
    * the step that lets a caller release those inputs (temp directory, demo
    * table, in-memory database) before returning a still-usable result.
    *
    * The collect is guarded: a caller that accidentally passes a
    * non-aggregating, corpus-sized frame gets a clear IllegalArgumentException
    * at `maxRows` instead of an unbounded driver collect that OOMs with no
    * explanation. The guard costs one extra LIMIT job only on the failure
    * path — the success path's limit(maxRows+1) IS the materialization. */
  def pinLocal(df: DataFrame, maxRows: Int = 1 << 20): DataFrame = {
    val rows = df.limit(maxRows + 1).collect()
    require(
      rows.length <= maxRows,
      s"pinLocal: frame exceeds $maxRows rows — it is not control-plane-sized. " +
        "Aggregate it first, or keep it distributed (readBackCommitted) and " +
        "own the backing directory's lifetime instead of pinning.")
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Best-effort recursive delete; a cleanup failure must never mask the
    * caller's result or exception, but it must not be silent either. */
  def deleteQuietly(spark: SparkSession, dir: String): Unit =
    try {
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p) && !fs.delete(p, true))
        System.err.println(s"[graft] cleanup failed to delete $dir")
    } catch {
      case e: Throwable => System.err.println(s"[graft] cleanup of $dir threw: $e")
    }

  /** Audit-and-release: run `audit` (expected to aggregate down to a tiny
    * relation) over the committed rewrite, PIN the result on the driver,
    * and delete the rewrite directory — also on failure, so an aborted
    * audit cannot leak the corpus-sized copy. The catalog's chunked-DML
    * entries rewrite a full table into a per-run temp directory purely to
    * demonstrate the loop; without this, every invocation (the bench runs
    * each entry at every scale point) leaks that directory in /tmp.
    * Callers that keep the rewritten table use [[readBackCommitted]]
    * directly and own the directory's lifetime. */
  def auditAndClean(spark: SparkSession, outDir: String)(
      audit: DataFrame => DataFrame): DataFrame =
    try pinLocal(audit(readBackCommitted(spark, outDir)))
    finally deleteQuietly(spark, outDir)

  /** Read back ONLY chunks whose commit marker exists — the object-store-
    * safe reader: a chunk dir abandoned halfway through a non-atomic
    * copy+delete "rename" has no marker (it is written last) and is
    * skipped. */
  def readBackCommitted(spark: SparkSession, outDir: String): DataFrame = {
    val root = new Path(outDir)
    val committed = listChunks(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)._1
    if (committed.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(committed.map(_.toString): _*)
  }
}
