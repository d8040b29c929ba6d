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
  *  - each chunk WRITES its output straight into its range-keyed final
  *    directory and then writes the [[CommitMarker]] LAST — the moral
  *    equivalent of the reference's per-chunk transaction commit
  *    (lib/DBIx/BatchChunker.pm:1305-1327): a chunk is committed iff its
  *    marker exists, and every reader and resume gates on the marker, so
  *    a reader never observes a half-written chunk; a failed/retried chunk
  *    overwrites its own directory idempotently, and a crashed run resumes
  *    after its last committed chunk without double-writing earlier chunks
  *    (see [[rewriteWithRange]]). A chunk being rewritten is absent for the
  *    length of its write, never partial.
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
    * and first deletes every unmarked `chunk_*` directory a crash left
    * behind. Nothing is written under `stateDir`. (Dot-directories that
    * older versions staged chunks in are not deleted; no reader reads a
    * dot-directory.)
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
      val (committed, unmarked) = listMarked(fs, root, "chunk_")
      unmarked.foreach { p =>
        if (!fs.delete(p, true)) throw new java.io.IOException(s"could not delete uncommitted $p")
      }
      val ends = committed.map(_.getName).collect { case ChunkName(_, end) => BigInt(end) }
      if (ends.nonEmpty) bc.resumeAfter(ends.max)
    }
    bc.foreachChunkWithRange { (chunk, chunkDf) =>
      commit(transform(chunk, chunkDf), new Path(root, s"chunk_${chunk.start}_${chunk.end}"))
    }
  }

  private val ChunkName = """chunk_(-?\d+)_(-?\d+)""".r

  /** Name of the per-directory commit marker, written strictly after every
    * data file of the directory is in place. Underscore-prefixed, so
    * Spark's file index ignores it when the directory is read as parquet. */
  val CommitMarker = "_GRAFT_COMMITTED"

  /** Commit `df` as the directory `dir`: overwrite `dir` with the frame's
    * parquet, then create [[CommitMarker]] in it. The overwrite first
    * deletes any earlier marker with the old contents, so until the new
    * marker lands `dir` is unmarked and every reader skips it. (Spark's
    * own `_SUCCESS` cannot serve: whether it is written depends on the
    * session's commit protocol and Hadoop conf.) */
  private[graft] def commit(df: DataFrame, dir: Path): Unit = {
    df.write.mode("overwrite").parquet(dir.toString)
    dir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      .create(new Path(dir, CommitMarker), true).close()
  }

  /** One listing of `root`: its `<prefix>*` directories, split into the
    * committed ones (marker present) and the unmarked ones — a directory
    * still being written, or one a crash left behind. */
  private def listMarked(fs: FileSystem, root: Path, prefix: String): (Seq[Path], Seq[Path]) =
    fs.listStatus(root).toSeq
      .collect { case st if st.isDirectory && st.getPath.getName.startsWith(prefix) => st.getPath }
      .partition(p => fs.exists(new Path(p, CommitMarker)))

  /** Read the committed `<prefix>*` directories under `outDir` as one
    * DataFrame, or an empty frame when there is none. */
  private[graft] def readMarked(spark: SparkSession, outDir: String, prefix: String): DataFrame = {
    val root = new Path(outDir)
    val (dirs, _) = listMarked(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root, prefix)
    if (dirs.isEmpty) spark.emptyDataFrame else spark.read.parquet(dirs.map(_.toString): _*)
  }

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

  /** Read the rewritten table back as one DataFrame — the one reader of a
    * rewrite: only the chunks whose commit marker exists, or an empty frame
    * when there is none. A chunk still being written, or abandoned by a
    * crash, has no marker (it is written last) and is skipped. */
  def readBackCommitted(spark: SparkSession, outDir: String): DataFrame =
    readMarked(spark, outDir, "chunk_")
}
