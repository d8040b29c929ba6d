package chunkbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

final class InjectedTransient extends RuntimeException(s"${Injected.Marker} transient failure")
final class InjectedCrash extends RuntimeException(s"${Injected.Marker} crash")
/** Ends a warm-up repetition after a fixed number of chunks. */
final class WarmupDone extends RuntimeException(s"${Injected.Marker} end of warm-up")

object Injected {
  val Marker = "chunkbench-injected"
  /** The crash must end the API call, as a killed process would; every
    * other non-fatal failure earns the engine's retry. */
  val retryOn: Throwable => Boolean = {
    case _: InjectedCrash | _: WarmupDone => false
    case e => NonFatal(e)
  }
}

/** Throws the repetition's one transient failure and one crash at seeded
  * hook-call ordinals, or ends a warm-up; 1-based, 0 never fires. */
final class Faults(transientAt: Int, crashAt: Int, warmupAt: Int = 0) {
  private val calls = new AtomicInteger
  def check(): Unit = {
    val k = calls.incrementAndGet()
    if (k == transientAt) throw new InjectedTransient
    if (k == crashAt) throw new InjectedCrash
    if (k == warmupAt) throw new WarmupDone
  }
}

/** What one repetition sees from outside the program: per-chunk hook calls,
  * the chunk cycle (the interval between successive hook calls on one
  * dispatching thread, the last one ending when the API call returns),
  * retries announced on the log sink, and the time from a restart call to
  * its first dispatch. */
final class Recorder(sc: Option[SparkContext]) {
  private val lastHook = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  private val cycleMs = new ConcurrentLinkedQueue[java.lang.Double]()
  val hookCalls, hookFailures, retries, uninjected = new AtomicInteger
  @volatile private var restartFrom = 0L
  @volatile var restartMs: Vector[Double] = Vector.empty

  private def phase(p: String): Unit = sc.foreach(_.setLocalProperty(JobListener.PhaseKey, p))

  def cycles: Vector[Double] = cycleMs.asScala.map(_.doubleValue).toVector

  /** Wrap the per-chunk callback the workload hands the API. */
  def hook[A](f: => A): A = {
    val t = System.nanoTime()
    val prev = lastHook.put(Thread.currentThread.getId, t)
    if (prev != null) cycleMs.add((t - prev) / 1e6)
    synchronized {
      if (restartFrom != 0L) { restartMs :+= (t - restartFrom) / 1e6; restartFrom = 0L }
    }
    hookCalls.incrementAndGet()
    phase("work")
    try Trace.span("hook")(f)
    catch { case e: Throwable => hookFailures.incrementAndGet(); throw e }
    finally phase("loop")
  }

  /** Wrap one call into the library. `startPhase` labels the Spark jobs it
    * runs before its first hook call. */
  def api[A](startPhase: String)(f: => A): A = {
    sc.foreach(_.setLocalProperty(JobListener.ThreadKey, Thread.currentThread.getId.toString))
    phase(startPhase)
    try Trace.span("api")(f)
    finally {
      val t = System.nanoTime()
      lastHook.values.forEach(prev => cycleMs.add((t - prev) / 1e6))
      lastHook.clear()
      phase(null)
    }
  }

  /** The call that resumes after an injected crash. */
  def restart[A](startPhase: String)(f: => A): A = {
    restartFrom = System.nanoTime()
    api(startPhase)(f)
  }

  /** The engine's log sink: counts retries by cause, and marks each chunk
    * status line so the trace can time what follows it. */
  val log: String => Unit = line => {
    if (line.contains("failed, retrying")) {
      retries.incrementAndGet()
      if (!line.contains(Injected.Marker)) uninjected.incrementAndGet()
    }
    if (line.contains(" processed,") || line.contains(" skipped,")) Trace.mark("log.chunk")
  }
}
