package chunkbench

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Local Hadoop file system that times rename, delete and create. Installed
  * for traced runs through `spark.hadoop.fs.file.impl`. An operation called
  * directly from `ChunkedRewrite` (its staged-rename commit) is recorded as
  * `commit.<op>`; every other one (Spark's own output committer, task
  * writers) as `fs.<op>`. */
class CountingLocalFs extends LocalFileSystem {
  private def op[A](name: String)(f: => A): A =
    if (!Trace.on) f
    else Trace.timed((if (CountingLocalFs.calledFromRewrite()) "commit." else "fs.") + name)(f)

  override def rename(src: Path, dst: Path): Boolean = op("rename")(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean = op("delete")(super.delete(f, recursive))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    op("create")(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
}

object CountingLocalFs {
  private val walker = StackWalker.getInstance()

  private def calledFromRewrite(): Boolean =
    walker.walk[java.lang.Boolean](frames => frames.limit(12).anyMatch(f =>
      f.getClassName.startsWith("graft.chunker.ChunkedRewrite")))
}
