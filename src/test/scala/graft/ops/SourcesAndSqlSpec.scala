package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.chunker.{BatchChunker, ChunkerConfig}

/** Source-format coverage (§2.2 scans/sources row: parquet/jdbc/csv/json/orc/xml) and
  * the SQL-text surface of the native expressions via SparkSessionExtensions.
  */
class SourcesAndSqlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val quiet: String => Unit = _ => ()
  private def cfg0 = ChunkerConfig(chunkSize = 500, targetTime = 0, sleep = 0,
    minChunkPercent = 0, log = quiet)

  test("csv roundtrip: the chunker runs over a csv-sourced keyspace") {
    val dir = java.nio.file.Files.createTempDirectory("src-csv").toString
    val orders = spark.read.parquet(s"${SparkTestSession.sfDir}/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    orders.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(s"$dir/csv")
    assert(back.count() == orders.count())
    val bc = new BatchChunker(back, "o_orderkey", cfg0)
    bc.calculateRanges()
    var n = 0L
    bc.foreachChunk(c => n += c.count())
    assert(n == orders.count())
  }

  test("json roundtrip preserves rows and supports chunked scans") {
    val dir = java.nio.file.Files.createTempDirectory("src-json").toString
    val cust = spark.read.parquet(s"${SparkTestSession.sfDir}/customer.parquet")
    cust.write.mode("overwrite").json(s"$dir/json")
    val back = spark.read.json(s"$dir/json")
    assert(back.count() == cust.count())
    val bc = new BatchChunker(back, "c_custkey", cfg0)
    bc.calculateRanges()
    var n = 0L
    bc.foreachChunk(c => n += c.count())
    assert(n == cust.count())
  }

  test("orc roundtrip: column stats pushdown source feeds the chunker") {
    val dir = java.nio.file.Files.createTempDirectory("src-orc").toString
    val sup = spark.read.parquet(s"${SparkTestSession.sfDir}/supplier.parquet")
    sup.write.mode("overwrite").orc(s"$dir/orc")
    val back = spark.read.orc(s"$dir/orc")
    assert(back.schema == sup.schema) // ORC is type-faithful, unlike csv/json
    val bc = new BatchChunker(back, "s_suppkey", cfg0)
    bc.calculateRanges()
    var n = 0L
    bc.foreachChunk(c => n += c.count())
    assert(n == sup.count())
  }

  test("xml roundtrip (built-in Spark 4 source) preserves rows and supports chunked scans") {
    val dir = java.nio.file.Files.createTempDirectory("src-xml").toString
    val nat = spark.read.parquet(s"${SparkTestSession.sfDir}/nation.parquet")
    nat.write.mode("overwrite").option("rowTag", "nation").xml(s"$dir/xml")
    val back = spark.read.option("rowTag", "nation").xml(s"$dir/xml")
    assert(back.count() == nat.count())
    val bc = new BatchChunker(back, "n_nationkey", cfg0.copy(chunkSize = 8))
    bc.calculateRanges()
    var n = 0L
    bc.foreachChunk(c => n += c.count())
    assert(n == nat.count())
  }

  test("native expressions are SQL-callable in a session built with GraftExtensions") {
    // getOrCreate() returns the ACTIVE session and silently ignores
    // withExtensions, so clear the session slots first (the SparkContext is
    // reused); restore them after, and never stop() the extension session —
    // that would kill the shared context.
    val shared = spark // force the shared session into existence first
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new org.apache.spark.sql.graftbridge.GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        """SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d,
          |       graft_sorted_intersect_count(array('a','b','c'), array('b','c','d')) AS c,
          |       graft_token_count(' one  two\tthree\nfour ') AS t,
          |       graft_max_element_count(array('x','y','x','x','z')) AS m,
          |       graft_max_element_count(CAST(array() AS array<string>)) AS m0""".stripMargin)
        .head()
      assert(r.getDouble(0) == 32.0)
      assert(r.getInt(1) == 2)
      assert(r.getInt(2) == 4)
      assert(r.getInt(3) == 3)
      assert(r.getInt(4) == 0)
      // the injected optimizer rule rewrites the regexp token-count idiom
      // into the native single-pass expression (non-foldable subject, or
      // ConstantFolding computes the whole thing before the plan is seen)
      val q = s2.range(1)
        .selectExpr("size(regexp_extract_all(concat(' a  b ', cast(id AS string)), '\\\\S+', 0)) AS n")
      assert(q.queryExecution.optimizedPlan.toString.contains("graft_token_count"),
        s"rule did not fire:\n${q.queryExecution.optimizedPlan}")
      assert(q.head().getInt(0) == 3) // ' a  b 0' -> 3 tokens
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach { s => SparkSession.setDefaultSession(s); SparkSession.setActiveSession(s) }
      assert(shared eq SparkTestSession.spark)
    }
  }
}
