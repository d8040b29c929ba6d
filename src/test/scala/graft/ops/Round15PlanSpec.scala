package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.{PlanTest, SparkTestSession}

/** Plan-law pins for the round-15 operators — the claims the scaladocs
  * make, asserted against executed plans so a refactor can't silently
  * regress them:
  *
  *   - `SinkRetention.readLive` on a manifest-less sink must BE the plain
  *     schema'd partitioned read (one scan, no union) — the zero-cost
  *     fallback that lets every probe route through the seam;
  *   - `pagerankDeep` must hand back a MATERIALIZED relation (no source
  *     scans in its lineage) — the contract that makes unpersisting its
  *     working edge/degree copies on return safe, and the driver-side
  *     point of the lineage cuts;
  *   - the deep catalog entry stays cartesian-free like its 3-round twin.
  */
class Round15PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val sinkSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("mh", LongType),
    StructField("batch_id", LongType)))

  test("readLive on a manifest-less sink is one scan, no union — the plain read, verbatim") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("r15_plan_sink").toString
    (0L until 6L).map(i => (i, i * 7, i % 2)).toDF("doc_id", "mh", "batch_id")
      .write.partitionBy("batch_id").mode("overwrite").parquet(dir)
    val nodes = PlanTest.executedNodes(
      graft.streaming.SinkRetention.readLive(spark, dir, sinkSchema))
    assert(nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]) == 1,
      "fallback must plan exactly one file scan")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.UnionExec]),
      "fallback must not union a fold branch in")
  }

  test("pagerankDeep returns a materialized relation: no source scans survive the lineage cut") {
    import spark.implicits._
    val edges = (0 until 9).flatMap(i => Seq((i.toLong, (i + 1L) % 10), ((i + 1L) % 10, i.toLong)))
    val dir = java.nio.file.Files.createTempDirectory("r15_plan_edges").toString
    edges.toDF("src", "dst").write.mode("overwrite").parquet(dir)
    val fromFiles = spark.read.parquet(dir)
    val (ranks, rounds) = GraphOps.pagerankDeep(fromFiles, maxRounds = 5, checkpointInterval = 2)
    assert(rounds == 5)
    val logical = ranks.queryExecution.optimizedPlan
    val scans = logical.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(scans.isEmpty,
      s"deep ranks must plan from the checkpoint, not re-derive the edge files:\n$logical")
    assert(logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r
    }.nonEmpty, s"expected a checkpointed LogicalRDD leaf:\n$logical")
    // and the cut is not a content change
    assert(ranks.count() == 10)
  }

  test("x_graph_pagerank_deep stays cartesian-free") {
    val nodes = PlanTest.executedNodes(
      GraphOps.graphPagerankDeep(spark, "/root/testdata/sf0.001"))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "deep pagerank must not plan a cartesian product")
  }
}
