package graft.tools

/** Dev harness: run a comma-separated subset of SparkEntry.queries against a
  * data dir and dump result parquet + oracle SQL for /tmp/oracle_check.py —
  * the single-query inner loop for iterating on catalog entries without a
  * full Verify pass.
  *
  * Usage: sbt "Test/runMain graft.tools.RunOne q_name1,q_name2 [sfDir] [outDir]"
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) args(2) else "/tmp/vq"
    val spark = graft.LocalSession.build()
    new java.io.File(outDir).mkdirs()
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val sqls = names.flatMap { n =>
      val t0 = System.nanoTime
      graft.SparkEntry.queries(n)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
      println(f"RAN $n in ${(System.nanoTime - t0) / 1e9}%.2f s")
      graft.SparkEntry.oracleSql.get(n).map(n -> _)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      sqls.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
