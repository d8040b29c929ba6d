package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import graft.{PlanTest, SparkTestSession}

/** The composed IVF-PQ index: the probe prune must not cost materially
  * more recall than the flat-PQ scan it accelerates, and the candidate
  * join must be the broadcast-queries-on-cluster shape (the corpus codes
  * never shuffle for the scan).
  */
class IvfPqSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = SparkTestSession.sfDir

  test("probe-pruned recall tracks the flat-PQ scan's recall") {
    def recall(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.head()
      (r.getLong(1), r.getLong(2)) // n_top1, n_top3
    }
    val (pq1, pq3) = recall(Similarity.annPqRecall(spark, sfDir))
    val (ivfpq1, ivfpq3) = recall(Similarity.annIvfPqRecall(spark, sfDir))
    // scanning only nprobe/k = 1/4 of the corpus may cost some recall but
    // must stay in the same regime as the full ADC scan
    assert(ivfpq1 >= pq1 / 2,
      s"IVF-PQ top-1 recall collapsed: $ivfpq1 vs flat PQ $pq1")
    assert(ivfpq3 >= pq3 / 2,
      s"IVF-PQ top-3 recall collapsed: $ivfpq3 vs flat PQ $pq3")
  }

  test("ADC scan joins broadcast queries to codes on the cluster key") {
    val nodes = PlanTest.executedNodes(Similarity.annIvfPq(spark, sfDir))
    val clusterJoins = nodes.collect {
      case j: BroadcastHashJoinExec
        if j.leftKeys.exists(_.references.exists(_.name == "cluster")) ||
          j.rightKeys.exists(_.references.exists(_.name == "cluster")) => j
    }
    assert(clusterJoins.nonEmpty,
      "expected the probe-cluster candidate join to broadcast the query side on the cluster key")
  }
}
