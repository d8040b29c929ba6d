package graft.sources

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, Statement}
import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** A `java.sql.Driver` under `jdbc:counting:` that opens the real connection
  * behind it and records what is sent over it: the SQL of every statement a
  * connection prepares, and the text of every plain statement it executes.
  * `jdbc:counting:derby:memory:x` opens `jdbc:derby:memory:x`. */
final class CountingDriver extends Driver {
  override def acceptsURL(url: String): Boolean = url != null && url.startsWith(CountingDriver.Prefix)

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else CountingDriver.open(DriverManager.getConnection("jdbc:" + url.stripPrefix(CountingDriver.Prefix), info))

  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] = Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger = java.util.logging.Logger.getLogger("counting")
}

object CountingDriver {
  val Prefix = "jdbc:counting:"

  /** One opened connection: the real handle and the SQL it prepared. */
  final class Conn(val real: Connection) {
    @volatile var autoCommit = true
    val prepared = new ConcurrentLinkedQueue[String]()
  }

  private val conns = new ConcurrentLinkedQueue[Conn]()
  private val texts = new ConcurrentLinkedQueue[String]()

  private lazy val registered: Unit = DriverManager.registerDriver(new CountingDriver)

  /** Registers the driver once and forgets everything recorded so far. */
  def reset(): Unit = { registered; conns.clear(); texts.clear() }

  def connections: Seq[Conn] = conns.asScala.toSeq
  /** Texts of the plain statements executed, in order. */
  def executed: Seq[String] = texts.asScala.toSeq

  private def proxy[T](iface: Class[T], target: T)(call: (Method, Array[AnyRef]) => AnyRef): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface), new InvocationHandler {
      override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = call(m, args)
    }).asInstanceOf[T]

  private def invoke(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def open(real: Connection): Connection = {
    val c = new Conn(real)
    conns.add(c)
    proxy(classOf[Connection], real) { (m, args) =>
      m.getName match {
        case "prepareStatement" => c.prepared.add(args(0).toString)
        case "setAutoCommit"    => c.autoCommit = args(0).asInstanceOf[Boolean]
        case _                  => ()
      }
      val out = invoke(real, m, args)
      if (m.getName == "createStatement") {
        val st = out.asInstanceOf[Statement]
        proxy(classOf[Statement], st) { (sm, sargs) =>
          if (sm.getName.startsWith("execute") && sargs != null && sargs.nonEmpty) texts.add(sargs(0).toString)
          invoke(st, sm, sargs)
        }
      } else out
    }
  }
}
