package graft.chunker

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Cross-process resume point for chunk loops with no commit record of
  * their own (the `foreachChunk*` family, `runSql`, and
  * `JdbcBatch.executeChunkedDml` without a `commitLog`).
  *
  * The reference makes an interrupted run resumable by writing
  * `min_id = prev_end` back onto the object (lib/DBIx/BatchChunker.pm:1228)
  * — which survives as long as the Perl process does. A 100 TB migration
  * restarts processes, so this persists the same resume point as a tiny
  * state file, updated atomically after every committed chunk and read back
  * by [[BatchChunker.resumeFrom]]. ChunkedRewrite and the journaled
  * JdbcBatch path resume from their own commit records instead and never
  * write this file.
  *
  * Semantics, deliberately one id stricter than the in-memory write-back:
  * the in-memory `minId = prevEnd` keeps verbatim reference parity (the
  * reference's restarted loop re-touches the boundary id — harmless for
  * idempotent SQL DML). The persisted file instead records `prevEnd` = the
  * last PROCESSED id, and resume starts at `prevEnd + 1`, so a restarted
  * run never hands the boundary id to the callback twice.
  *
  * The file is one JSON line; the write is staged + `ATOMIC_MOVE`d so a
  * crash mid-update leaves the previous resume point intact. Driver-side
  * control plane: one tiny local/DFS file per run, written once per chunk.
  */
object ResumeState {

  val FileName = "chunker_state.json"

  private def stateFile(stateDir: String): Path = Paths.get(stateDir, FileName)

  /** Record `prevEnd` as the resume point — call only after the chunk's
    * work is durably committed. */
  def write(stateDir: String, prevEnd: BigInt): Unit = {
    val dir = Paths.get(stateDir)
    Files.createDirectories(dir)
    val tmp = dir.resolve("." + FileName + ".tmp")
    Files.writeString(tmp, s"""{"prevEnd":"$prevEnd"}""")
    Files.move(tmp, stateFile(stateDir),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private val StatePattern = """\{"prevEnd":"(-?\d+)"\}""".r

  /** The persisted resume point, if a previous run left one. */
  def read(stateDir: String): Option[BigInt] = {
    val f = stateFile(stateDir)
    if (!Files.exists(f)) None
    else Files.readString(f).trim match {
      case StatePattern(v) => Some(BigInt(v))
      case other => throw new IllegalStateException(
        s"unparseable chunker state file $f: '$other'")
    }
  }

  /** Forget the resume point (start the next run from scratch). */
  def clear(stateDir: String): Unit = Files.deleteIfExists(stateFile(stateDir))
}
