package chunkbench

import java.util.concurrent.ConcurrentLinkedQueue

/** One timed interval at a layer boundary. Times are `System.nanoTime`;
  * `parent` is the benchmark span open on the same thread when it started
  * ("-" for none), `run` the repetition it belongs to. */
final case class Span(name: String, start: Long, end: Long, thread: Long, parent: String, run: Int)

/** In-memory span recorder shared by every instrument. The instruments that
  * frameworks instantiate (the JDBC driver, the Hadoop file system, the
  * Spark listener) reach it statically. Nothing is recorded while `on` is
  * false, so untraced runs pay one volatile read per instrumented call. */
object Trace {
  @volatile var on: Boolean = false
  @volatile var run: Int = 0
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[String]](() => Nil)

  def record(name: String, start: Long, end: Long, thread: Long = Thread.currentThread.getId): Unit =
    if (on) buf.add(Span(name, start, end, thread, open.get.headOption.getOrElse("-"), run))

  def mark(name: String): Unit = { val t = System.nanoTime(); record(name, t, t) }

  /** Time `f` as span `name`; spans recorded inside it on this thread name
    * it as their parent. */
  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      open.set(name :: open.get)
      try f
      finally {
        open.set(open.get.tail)
        record(name, t0, System.nanoTime())
      }
    }

  def timed[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      try f finally record(name, t0, System.nanoTime())
    }

  def drain(): Vector[Span] = {
    val b = Vector.newBuilder[Span]
    var s = buf.poll()
    while (s != null) { b += s; s = buf.poll() }
    b.result()
  }
}
