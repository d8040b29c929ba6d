package chunkbench

import scala.collection.mutable

/** Splits a traced repetition's wall time into per-layer self time.
  *
  * Each dispatching thread's timeline inside the repetition window is cut at
  * every span boundary, and each piece goes to the deepest layer whose span
  * covers it. Inside an API call, time no deeper span covers is the
  * engine's own (loop control, bisection, planning); for the parallel
  * dispatcher it is `dispatch` (hand-off and idle worker time). Time outside
  * every API call is `other`. The layers therefore sum to wall time on each
  * timeline; parallel timelines are averaged over the worker count.
  *
  * Spans derived here from the recorded ones:
  *  - `resume`, where the workload persists a resume point: from a chunk
  *    status line ("processed"/"skipped"; the engine logs it just before
  *    persisting its resume point) to the next recorded event on that
  *    thread;
  *  - `commit` (ChunkedRewrite): from the first to the last staged-rename
  *    file operation after a hook call;
  *  - `rewrite.write`: from the end of a ChunkedRewrite hook call to that
  *    commit, the chunk's write outside its Spark job.
  */
object Layers {
  val Names: Seq[String] = Seq("range", "probe", "work.job", "work.driver", "commit", "resume",
    "jdbc.update", "jdbc.journal", "jdbc.commit", "jdbc.other", "engine", "dispatch", "other")

  private def layerOf(name: String): Option[(String, Int)] = name match {
    case "api"                              => Some(("engine", 1))
    case "dispatch"                         => Some(("dispatch", 1))
    case "hook" | "rewrite.write"           => Some(("work.driver", 2))
    case "commit" | "resume"                => Some((name, 3))
    case "sql.range"                        => Some(("range", 3))
    case "sql.probe"                        => Some(("probe", 3))
    case "sql.work"                         => Some(("work.driver", 3))
    case "spark.range" | "jdbc.range"       => Some(("range", 4))
    case "spark.probe" | "jdbc.probe"       => Some(("probe", 4))
    case "spark.work"                       => Some(("work.job", 4))
    case "jdbc.update" | "jdbc.journal"     => Some((name, 4))
    case "jdbc.commit" | "jdbc.rollback"    => Some(("jdbc.commit", 4))
    case "jdbc.other" | "jdbc.connect"      => Some(("jdbc.other", 4))
    case _                                  => None
  }

  /** Derived `resume`, `commit` and `rewrite.write` spans of one thread. */
  def derive(spans: Seq[Span], resumeState: Boolean): Seq[Span] = {
    val s = spans.sortBy(_.start)
    val events = s.filter(x => x.name != "log.chunk" && x.name != "api" && x.name != "job").map(_.start)
    val apiEnds = s.filter(_.name == "api").map(_.end)
    val resume = s.filter(_.name == "log.chunk" && resumeState).map { m =>
      val next = (events.filter(_ > m.start) ++ apiEnds.filter(_ >= m.start)).minOption.getOrElse(m.start)
      m.copy(name = "resume", end = next)
    }
    val hooks = s.filter(_.name == "hook")
    val commitOps = s.filter(_.name.startsWith("commit."))
    val rewrite = hooks.zipWithIndex.flatMap { case (h, i) =>
      val until = if (i + 1 < hooks.size) hooks(i + 1).start else Long.MaxValue
      val ops = commitOps.filter(o => o.start >= h.end && o.end <= until)
      if (ops.isEmpty) Nil
      else {
        val c0 = ops.map(_.start).min
        Seq(h.copy(name = "rewrite.write", start = h.end, end = c0),
          h.copy(name = "commit", start = c0, end = ops.map(_.end).max))
      }
    }
    resume ++ rewrite
  }

  /** Self time in ns per layer on one timeline over `[t0, t1]`. */
  def selfTime(spans: Seq[Span], t0: Long, t1: Long): Map[String, Long] = {
    val layered = spans.flatMap(s => layerOf(s.name).map { case (l, p) =>
      (math.max(s.start, t0), math.min(s.end, t1), l, p)
    }).filter(x => x._2 > x._1)
    val cuts = (layered.flatMap(x => Seq(x._1, x._2)) ++ Seq(t0, t1)).distinct.sorted
    val byStart = layered.sortBy(_._1)
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val active = mutable.ArrayBuffer.empty[(Long, Long, String, Int)]
    var next = 0
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        while (next < byStart.size && byStart(next)._1 <= a) { active += byStart(next); next += 1 }
        active.filterInPlace(_._2 > a)
        val layer = if (active.isEmpty) "other" else active.maxBy(x => (x._4, x._1))._3
        out(layer) += b - a
      case _ =>
    }
    out.toMap
  }

  /** The whole split of one repetition: sequential workloads use the
    * calling thread; parallel ones average `parallelism` worker timelines,
    * on which every API call of the calling thread counts as `dispatch`. */
  def split(spans: Seq[Span], mainThread: Long, parallelism: Int, resumeState: Boolean,
      t0: Long, t1: Long): Map[String, Long] =
    if (parallelism == 1) {
      val mine = spans.filter(_.thread == mainThread)
      selfTime(mine ++ derive(mine, resumeState), t0, t1)
    } else {
      val apis = spans.filter(s => s.thread == mainThread && s.name == "api").map(_.copy(name = "dispatch"))
      val workers = spans.filter(_.thread != mainThread).groupBy(_.thread).values.toSeq
        .sortBy(-_.size).take(parallelism)
      val timelines = workers ++ Seq.fill(parallelism - workers.size)(Seq.empty[Span])
      val sums = timelines.map(w => selfTime(w ++ derive(w, resumeState) ++ apis, t0, t1))
      Names.map(l => l -> sums.map(_.getOrElse(l, 0L)).sum / parallelism).toMap
    }

  /** Sum over threads of transaction time: each `jdbc.update` to the next
    * `jdbc.commit`/`jdbc.rollback` on the same thread. */
  def transactionNs(spans: Seq[Span]): Long =
    spans.groupBy(_.thread).values.map { ts =>
      val s = ts.sortBy(_.start)
      var open = -1L
      var total = 0L
      s.foreach { x =>
        if (x.name == "jdbc.update" && open < 0) open = x.start
        else if ((x.name == "jdbc.commit" || x.name == "jdbc.rollback") && open >= 0) {
          total += x.end - open; open = -1L
        }
      }
      total
    }.sum

  /** Connections opened on a thread after that thread closed one during the
    * same API call: reconnects after a dead connection. */
  def reconnects(spans: Seq[Span], mainThread: Long): Int = {
    val apiStarts = spans.filter(s => s.thread == mainThread && s.name == "api").map(_.start).sorted
    def callOf(t: Long): Long = apiStarts.filter(_ <= t).lastOption.getOrElse(Long.MinValue)
    spans.groupBy(_.thread).values.map { ts =>
      val s = ts.filter(x => x.name == "jdbc.close" || x.name == "jdbc.connect").sortBy(_.start)
      var closedIn: Option[Long] = None
      s.count { x =>
        if (x.name == "jdbc.close") { closedIn = Some(callOf(x.start)); false }
        else closedIn.contains(callOf(x.start))
      }
    }.sum
  }
}
