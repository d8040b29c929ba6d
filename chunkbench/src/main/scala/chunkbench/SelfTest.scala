package chunkbench

import java.io.File

/** Audit self-test: every workload's audit accepts a clean repetition and
  * rejects one whose output was damaged after the run, once with one chunk
  * written twice and once with one chunk missing. Exits 1 on any mismatch.
  *
  * Usage: chunkbench.SelfTest --work DIR
  */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val work = new File(argv.sliding(2).collectFirst { case Array("--work", d) => d }.getOrElse(
      throw new IllegalArgumentException("--work DIR is required")))
    work.mkdirs()
    System.setProperty("derby.stream.error.file", new File(work, "derby.log").getPath)
    val ctx = new Ctx(seed = 7, work = work, cores = 2, traced = false)
    var failures = 0
    def check(what: String, ok: Boolean): Unit = {
      println((if (ok) "PASS " else "FAIL ") + what)
      if (!ok) failures += 1
    }

    check("tiles accepts a tiling", Audit.tiles(Seq((1, 5), (6, 9)).map(t => (BigInt(t._1), BigInt(t._2))), 1, 9).isEmpty)
    check("tiles rejects an overlap", Audit.tiles(Seq((1, 5), (5, 9)).map(t => (BigInt(t._1), BigInt(t._2))), 1, 9).nonEmpty)
    check("tiles rejects a gap", Audit.tiles(Seq((1, 4), (6, 9)).map(t => (BigInt(t._1), BigInt(t._2))), 1, 9).nonEmpty)

    var rep = 0
    for (w <- Workload.all) {
      if (w.usesSpark && ctx.spark == null) ctx.startSpark()
      ctx.setupIndex += 1
      w.generate(ctx)
      for (damage <- Seq(None, Some(Damage.Twice), Some(Damage.Missing))) {
        rep += 1
        ctx.damage = damage
        val o = w.run(ctx, rep, new Recorder(ctx.sc), warm = false)
        val label = s"${w.name} audit ${damage.fold("accepts a clean run")(d => s"rejects $d")}"
        check(label + o.problems.headOption.fold("")(p => s" ($p)"), o.problems.isEmpty == damage.isEmpty)
      }
    }
    ctx.damage = None
    Option(ctx.spark).foreach(_.stop())
    println(if (failures == 0) "self-test passed" else s"self-test: $failures failures")
    if (failures != 0) sys.exit(1)
  }
}
