package graft

import org.apache.spark.sql.SparkSession

/** The one local session the drivers build (`Bench`, `Verify`, and the dev
  * tools `RunOne` and `ScaleUp`). Its width is `SPARK_GRAFT_CPUS`, by
  * default every core the JVM sees, for both the master and the shuffle
  * partitions. One rule keeps artifacts comparable: the quick bench once
  * ran at local[4] while the full trio ran at local[32], and the same-HEAD
  * artifacts disagreed up to 5x on the entries made of many small jobs
  * (streaming lifecycles, multi-phase pipelines). */
private[graft] object LocalSession {
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  def build(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // The generated-class cache defaults to 100 entries; a 115-query
      // session evicts early compilations mid-run, re-paying multi-second
      // codegen for the widest aggregates (measured: x_dedup_cc 2.1 s warm
      // vs ~4.8 s after its simhash sketch class aged out). Any long-lived
      // multi-query driver wants this raised; static conf, so set here.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new org.apache.spark.sql.graftbridge.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
