package chunkbench

import java.io.File

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  def copy(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles).foreach(_.foreach(f => copy(f, new File(to, f.getName))))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  /** Data files in the committed `chunk_*` directories under `out`. */
  def dataFiles(out: File): Int =
    Option(out.listFiles).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("chunk_"))
      .flatMap(d => Option(d.listFiles).toSeq.flatten)
      .count(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
}
