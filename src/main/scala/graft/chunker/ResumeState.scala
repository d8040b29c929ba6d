package graft.chunker

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Cross-process resume point for chunk loops with no commit record of
  * their own (the `foreachChunk*` family, `runSql`, and
  * `JdbcBatch.executeChunkedDml` without a `commitLog`).
  *
  * The reference makes an interrupted run resumable by writing
  * `min_id = prev_end` back onto the object (lib/DBIx/BatchChunker.pm:1228)
  * — which survives as long as the Perl process does. A 100 TB migration
  * restarts processes, so this persists the same resume point as a tiny
  * state file, updated after every committed chunk and read back by
  * [[BatchChunker.resumeFrom]]. ChunkedRewrite and the journaled JdbcBatch
  * path resume from their own commit records instead and never write this
  * file.
  *
  * Semantics, deliberately one id stricter than the in-memory write-back:
  * the in-memory `minId = prevEnd` keeps verbatim reference parity (the
  * reference's restarted loop re-touches the boundary id — harmless for
  * idempotent SQL DML). The persisted file instead records `prevEnd` = the
  * last PROCESSED id, and resume starts at `prevEnd + 1`, so a restarted
  * run never hands the boundary id to the callback twice.
  *
  * Each write creates a new numbered file, `chunker_state.<n>.json` (one
  * JSON line), then deletes the older ones; a read takes the highest-
  * numbered file holding a complete line. So a crash at any step leaves the
  * last completed write readable. Nothing is renamed over a file: on ext4
  * that waits behind other writers' dirty data, tens of ms under load.
  *
  * Durability: a completed write survives a PROCESS crash (it is in the OS
  * page cache). It is not forced to disk: after a power loss or OS crash an
  * older point, or none, may be read back, and the chunks after it re-run.
  */
object ResumeState {

  /** The file name older versions wrote; read as write number 0. */
  val FileName = "chunker_state.json"

  private val RecordName = """chunker_state(?:\.(\d+))?\.json""".r

  /** The state files in `stateDir`, newest first. */
  private def records(stateDir: String): Vector[(Long, Path)] = {
    val dir = Paths.get(stateDir)
    if (!Files.isDirectory(dir)) Vector.empty
    else {
      val ls = Files.list(dir)
      try ls.iterator.asScala.toVector.map(p => (p, p.getFileName.toString))
        .collect { case (p, RecordName(n)) => (Option(n).fold(0L)(_.toLong), p) }
        .sortBy(-_._1)
      finally ls.close()
    }
  }

  /** Record `prevEnd` as the resume point — call only after the chunk's
    * work is durably committed. */
  def write(stateDir: String, prevEnd: BigInt): Unit = {
    val dir = Files.createDirectories(Paths.get(stateDir))
    val old = records(stateDir)
    val n = old.headOption.fold(1L)(_._1 + 1)
    Files.writeString(dir.resolve(s"chunker_state.$n.json"), s"""{"prevEnd":"$prevEnd"}""",
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    old.foreach { case (_, p) => Files.deleteIfExists(p) }
  }

  private val StatePattern = """\{"prevEnd":"(-?\d+)"\}""".r

  /** The persisted resume point, if a previous run left one. */
  def read(stateDir: String): Option[BigInt] =
    records(stateDir).iterator.map { case (_, p) => Files.readString(p).trim }
      .collectFirst { case StatePattern(v) => BigInt(v) }

  /** Forget the resume point (start the next run from scratch). */
  def clear(stateDir: String): Unit = records(stateDir).foreach { case (_, p) => Files.deleteIfExists(p) }
}
