package graft.tools

import java.util.Properties

import org.apache.spark.sql.functions.col

import graft.chunker.ChunkerConfig
import graft.sources.JdbcBatch

/** Measurement harness for r17 verdict #3: the one number a user choosing
  * between [[JdbcBatch.executeChunkedDml]] (sequential, the reference's
  * lock-safety contract) and [[JdbcBatch.executeChunkedDmlPar]] (N
  * concurrent chunk transactions) needs — like-for-like wall-clock of the
  * SAME template over the SAME keyspace, clean runs (no kill/resume
  * lifecycle), at parallelism 1/2/4/8 plus the sequential engine.
  *
  * Each rep builds a FRESH in-memory Derby database (same loader, index,
  * and escalation-threshold setup as the `dml_chunked_update_par` catalog
  * entry) so every run updates identical rows under identical lock state —
  * re-using one database would let the previous rep's page cache and
  * version rows skew later modes.
  *
  * Usage: Test/runMain graft.tools.TimeDmlPar <sfDir> [chunks] [reps]
  * Emits one JSON line: medians + all rep times per mode. The session is
  * [[graft.LocalSession]]'s, `SPARK_GRAFT_CPUS` wide.
  */
object TimeDmlPar {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val chunks = if (args.length > 1) args(1).toInt else 64
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.LocalSession.build()
    val props = new Properties
    val tpl = """UPDATE part_live SET "p_retailprice" = "p_retailprice" * 1.04 """ +
      """WHERE "p_size" <= 25 AND "p_partkey" BETWEEN {start} AND {end}"""
    // Stage the part slice ONCE; each rep reloads Derby from this local
    // frame so parquet read cost never rides inside the timed section.
    val part = spark.read.parquet(s"$sfDir/part.parquet")
      .select(col("p_partkey"), col("p_brand"), col("p_size"), col("p_retailprice"))
      .coalesce(4)
    part.persist(); val nRows = part.count()

    def freshDb(): String = {
      val db = "graft_timedmlpar_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val url = s"jdbc:derby:memory:$db;create=true"
      part.write.mode("overwrite").option("batchsize", "10000").jdbc(url, "part_live", props)
      val c = java.sql.DriverManager.getConnection(url, props)
      try {
        c.createStatement().executeUpdate(
          """CREATE INDEX part_live_key ON part_live ("p_partkey")""")
        val ps = c.prepareStatement("CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY(?, ?)")
        ps.setString(1, "derby.locks.escalationThreshold")
        ps.setString(2, "1000000")
        ps.execute(); ps.close()
      } finally c.close()
      db
    }
    def dropDb(db: String): Unit =
      try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
      catch { case _: Throwable => () }

    def cfgFor(url: String): ChunkerConfig = {
      val (mn, mx) = JdbcBatch.discoverRange(url, "part_live", "p_partkey", props)
        .getOrElse(sys.error("no keys"))
      ChunkerConfig(chunkSize = ((mx - mn) / chunks + 1).max(BigInt(1)),
        targetTime = 0, sleep = 0, minChunkPercent = 0, retryAttempts = 3,
        log = _ => ())
    }

    val modes: Seq[(String, String => Unit)] =
      ("seq", (url: String) => {
        JdbcBatch.executeChunkedDml(url, tpl, "p_partkey", "part_live", cfgFor(url),
          props = props, commitLog = Some("part_live_seqlog"), runId = "timedmlpar")
        ()
      }) +: Seq(1, 2, 4, 8).map { p =>
        (s"par$p", (url: String) => {
          JdbcBatch.executeChunkedDmlPar(url, tpl, "p_partkey", "part_live", cfgFor(url),
            parallelism = p, commitLog = "part_live_parlog", runId = "timedmlpar",
            props = props)
          ()
        })
      }

    // Warm Derby's engine + the JDBC write path once outside any timing.
    locally { val db = freshDb(); dropDb(db) }
    val results = modes.map { case (mode, run) =>
      val times = (1 to reps).map { _ =>
        val db = freshDb()
        val url = s"jdbc:derby:memory:$db"
        val t0 = System.nanoTime()
        run(url)
        val dt = (System.nanoTime() - t0) / 1e9
        dropDb(db)
        dt
      }.sorted
      println(f"TIMEDMLPAR $mode median ${times(times.size / 2)}%.2f s all ${times.map(t => f"$t%.2f").mkString(",")}")
      mode -> times
    }
    def j(d: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val body = results.map { case (m, ts) =>
      s"""\"$m\":{"median":${j(ts(ts.size / 2))},"all":[${ts.map(j).mkString(",")}]}"""
    }.mkString(",")
    println(s"""{"metric":"dml_par_speedup","sf":"$sfDir","rows":$nRows,"chunks":$chunks,"reps":$reps,$body}""")
    spark.stop()
  }
}
