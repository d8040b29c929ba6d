package chunkbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, Statement}
import java.util.Properties

/** A `java.sql.Driver` under its own URL prefix that delegates to the real
  * driver and times every statement, `commit` and `rollback` as spans.
  * `jdbc:cbtrace:derby:memory:x` opens `jdbc:derby:memory:x`. Statements
  * are classified by their SQL text into the layer they serve. */
final class TracingDriver extends Driver {
  import TracingDriver._

  override def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val t0 = System.nanoTime()
      val c = DriverManager.getConnection("jdbc:" + url.stripPrefix(Prefix), info)
      Trace.record("jdbc.connect", t0, System.nanoTime())
      wrap(classOf[Connection], c, connectionCall)
    }

  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] = Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getLogger("chunkbench")
}

object TracingDriver {
  val Prefix = "jdbc:cbtrace:"

  /** Name prefix of the JDBC workloads' journal tables; statements naming
    * one belong to the journal layer. */
  val JournalTable = "CB_JOURNAL"

  private lazy val registered: Unit = DriverManager.registerDriver(new TracingDriver)
  def register(): Unit = registered

  def classify(sql: String): String = {
    val s = sql.trim.toUpperCase(java.util.Locale.ROOT)
    if (s.contains(JournalTable)) "jdbc.journal"
    else if (s.startsWith("UPDATE")) "jdbc.update"
    else if (s.contains("MIN(") || s.contains("MAX(")) "jdbc.range"
    else if (s.startsWith("SELECT COUNT(")) "jdbc.probe"
    else "jdbc.other"
  }

  private def wrap[T](iface: Class[T], target: T, call: (T, Method, Array[AnyRef]) => AnyRef): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface), new InvocationHandler {
      override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = call(target, m, args)
    }).asInstanceOf[T]

  private def invoke(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def connectionCall(c: Connection, m: Method, args: Array[AnyRef]): AnyRef =
    m.getName match {
      case "createStatement" =>
        wrap(classOf[Statement], invoke(c, m, args).asInstanceOf[Statement], statementCall)
      case "commit"   => Trace.timed("jdbc.commit")(invoke(c, m, args))
      case "rollback" => Trace.timed("jdbc.rollback")(invoke(c, m, args))
      case "close"    => Trace.mark("jdbc.close"); invoke(c, m, args)
      case _          => invoke(c, m, args)
    }

  private def statementCall(st: Statement, m: Method, args: Array[AnyRef]): AnyRef =
    m.getName match {
      case "execute" | "executeUpdate" | "executeQuery" if args != null && args.nonEmpty =>
        Trace.timed(classify(args(0).toString))(invoke(st, m, args))
      case _ => invoke(st, m, args)
    }
}
