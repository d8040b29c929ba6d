package chunkbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.jdk.CollectionConverters._

/** Task metrics of one finished task; `endNs` on the span timeline. */
final case class TaskRec(endNs: Long, runMs: Long, cpuNs: Long, gcMs: Long, rows: Long, bytes: Long)

/** Records every SQL execution (one Spark action: planning, codegen and its
  * jobs) as a span `sql.<kind>`, every Spark job as `spark.<kind>`, and every
  * task's metrics. Registered only while traced repetitions run.
  *
  * The kind is `range`, `probe` or `work`. It comes from the phase the
  * benchmark set as a thread-local property on the submitting thread:
  * `range` while the benchmark's own range window is open, `work` while its
  * per-chunk hook runs. Outside both, a `count` action is the engine's count
  * probe and any other action is chunk work the library issues itself (the
  * staged write of `ChunkedRewrite`). A job takes the kind of the action
  * that ran it.
  *
  * Listener events carry wall-clock milliseconds; `offsetNs` maps them onto
  * the `System.nanoTime` timeline of the other spans. Spans whose thread is
  * unknown are put on `defaultThread`. */
final class JobListener(offsetNs: Long, defaultThread: Long) extends SparkListener {
  private final case class Exec(startNs: Long, description: String, var phase: String = "",
      var thread: Long = -1L)
  private val execs = new ConcurrentHashMap[Long, Exec]()
  private val started = new ConcurrentHashMap[Int, (Long, Long, Option[Long])]()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()

  private def toNs(ms: Long): Long = ms * 1000000L - offsetNs

  private def kind(phase: String, description: String): String = phase match {
    case "range" | "work" => phase
    case _                => if (description.startsWith("count at")) "probe" else "work"
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, Exec(toNs(s.time), Option(s.description).getOrElse("")))
    case s: SparkListenerSQLExecutionEnd =>
      Option(execs.get(s.executionId)).foreach { x =>
        val thread = if (x.thread >= 0) x.thread else defaultThread
        spans.add(Span("sql." + kind(x.phase, x.description), x.startNs, math.max(x.startNs, toNs(s.time)),
          thread, "-", Trace.run))
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val thread = prop(JobListener.ThreadKey) match { case "" => defaultThread; case t => t.toLong }
    val exec = prop("spark.sql.execution.id") match { case "" => None; case id => Some(id.toLong) }
    exec.flatMap(id => Option(execs.get(id))).foreach { x =>
      if (x.phase.isEmpty) x.phase = prop(JobListener.PhaseKey)
      if (x.thread < 0) x.thread = thread
    }
    started.put(e.jobId, (toNs(e.time), thread, exec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach { case (t0, thread, exec) =>
      val k = exec.flatMap(id => Option(execs.get(id))).map(x => kind(x.phase, x.description)).getOrElse("work")
      spans.add(Span("spark." + k, t0, math.max(t0, toNs(e.time)), thread, "-", Trace.run))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.add(TaskRec(toNs(e.taskInfo.finishTime), m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead))
    }

  /** Spans and tasks recorded so far; the caller drains the bus first. */
  def drain(): (Vector[Span], Vector[TaskRec]) = {
    val r = (spans.asScala.toVector, tasks.asScala.toVector)
    spans.clear(); tasks.clear(); execs.clear()
    r
  }
}

object JobListener {
  val PhaseKey = "chunkbench.phase"
  val ThreadKey = "chunkbench.thread"
}
