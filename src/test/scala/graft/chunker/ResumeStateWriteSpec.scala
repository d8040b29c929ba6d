package graft.chunker

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The resume file's write protocol: a crash at any step of a write leaves
  * the last completed write readable, and a write does not wait on other
  * writers' dirty data.
  */
class ResumeStateWriteSpec extends AnyFunSuite {

  private def files(dir: String): Set[String] = {
    val ls = Files.list(java.nio.file.Paths.get(dir))
    try ls.iterator.asScala.map(_.getFileName.toString).toSet finally ls.close()
  }

  test("a crash at any step of a write leaves the last completed write readable") {
    val dir = Files.createTempDirectory("resume-steps").toString
    def record(n: Int): Path = java.nio.file.Paths.get(dir, s"chunker_state.$n.json")
    // The first write, cut short at each step: nothing completed, nothing read.
    Files.createFile(record(1))
    assert(ResumeState.read(dir).isEmpty)
    Files.writeString(record(1), """{"prevEnd":"1""")
    assert(ResumeState.read(dir).isEmpty)
    Files.delete(record(1))

    ResumeState.write(dir, BigInt(10))
    assert(files(dir) == Set("chunker_state.1.json"))
    // Write 2 by hand, one step at a time: created, partly written, fully
    // written with the old record still present, old record deleted.
    Files.createFile(record(2))
    assert(ResumeState.read(dir).contains(BigInt(10)))
    Files.writeString(record(2), """{"prevEnd":"2""") // "20" cut after one digit
    assert(ResumeState.read(dir).contains(BigInt(10)))
    Files.writeString(record(2), """{"prevEnd":"20"}""")
    assert(ResumeState.read(dir).contains(BigInt(20)))
    Files.delete(record(1))
    assert(ResumeState.read(dir).contains(BigInt(20)))

    // A torn record left by a crash is cleaned up by the next write.
    Files.createFile(record(3))
    ResumeState.write(dir, BigInt(30))
    assert(files(dir) == Set("chunker_state.4.json"))
    assert(ResumeState.read(dir).contains(BigInt(30)))

    // A file written before numbered records is read, and replaced by the next write.
    ResumeState.clear(dir)
    Files.writeString(java.nio.file.Paths.get(dir, ResumeState.FileName), """{"prevEnd":"7"}""")
    assert(ResumeState.read(dir).contains(BigInt(7)))
    ResumeState.write(dir, BigInt(8))
    assert(files(dir) == Set("chunker_state.1.json"))
    assert(ResumeState.read(dir).contains(BigInt(8)))
  }

  test("a write does not wait on another thread writing 64 MB files") {
    val scratch = Files.createTempDirectory("resume-load")
    val stateDir = scratch.resolve("state").toString
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bigWritten = new java.util.concurrent.CountDownLatch(1)
    val writer = new Thread(() => {
      val block = java.nio.ByteBuffer.allocate(1 << 20)
      var i = 0
      while (!done.get) {
        // Overwrite in place, so writeback always has this file's data queued.
        val ch = java.nio.channels.FileChannel.open(scratch.resolve(s"big_${i % 2}"),
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
        try for (_ <- 1 to 64 if !done.get) { block.clear(); ch.write(block) } finally ch.close()
        bigWritten.countDown()
        i += 1
      }
    })
    writer.start()
    val ms =
      try {
        assert(bigWritten.await(60, java.util.concurrent.TimeUnit.SECONDS))
        (1 to 200).map { i =>
          val t0 = System.nanoTime()
          ResumeState.write(stateDir, BigInt(i))
          val t = (System.nanoTime() - t0) / 1e6
          Thread.sleep(5)
          t
        }.sorted
      } finally {
        done.set(true)
        writer.join()
        Files.list(scratch).iterator.asScala.filter(Files.isRegularFile(_)).foreach(Files.delete)
      }
    val (p50, p90) = (ms(ms.size / 2), ms(ms.size * 9 / 10))
    info(f"resume write under a concurrent writer: p50 $p50%.3f ms, p90 $p90%.3f ms")
    assert(ResumeState.read(stateDir).contains(BigInt(200)))
    // Renaming a staged file over the old one measured p50 1.4-2.4 ms and
    // p90 41-94 ms under this load (4-core VM, ext4); numbered files p50
    // 0.27-0.66 ms and p90 0.36-2.2 ms.
    assert(p50 < 2.0 && p90 < 20.0, f"p50 $p50%.3f ms, p90 $p90%.3f ms: the write waits on the other writer")
  }
}
