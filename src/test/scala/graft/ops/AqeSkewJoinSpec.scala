package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.SparkTestSession

/** AQE skew-join: the runtime complement to the compile-time salting in
  * [[SkewOps]]. SkewOps handles skewed AGGREGATION by salting the key;
  * skewed JOINs at 100 TB are better left to AQE, which observes the actual
  * shuffle-partition sizes and splits oversized partitions into parallel
  * sub-joins — no code change, no salt in user logic. This spec proves the
  * mechanism fires (executed plan reports a skew=true sort-merge join) and
  * that results are identical to the non-adaptive plan.
  */
class AqeSkewJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a hot-key sort-merge join into skew sub-joins with unchanged results") {
    // 1M fact rows, 90% landing on a single hot key -> one shuffle
    // partition dwarfs the rest (shuffle compression shrinks the repeated
    // hot key heavily, so sizes are tuned generously).
    val fact = spark.range(0, 1000000)
      .select(when(col("id") % 10 < 9, lit(7L)).otherwise(col("id")).as("k"),
        col("id").as("payload"))
    val dim = spark.range(0, 64).select(col("id").as("k"), (col("id") * 100).as("dv"))

    // NB collect(), not head(): head() spawns a separate limited query
    // execution, leaving the DataFrame's own adaptive plan unexecuted.
    def runJoin(): (Long, Long) = {
      val j = fact.join(dim, Seq("k")).agg(count(lit(1)), sum(col("payload") + col("dv")))
      val row = j.collect().head
      (row.getLong(0), row.getLong(1))
    }

    // Reference result with AQE off.
    var expected: (Long, Long) = null
    withConfs(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      expected = runJoin()
    }

    withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // dim is tiny; forbid AQE from converting to broadcast so the SMJ
      // skew path is what gets exercised
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // thresholds sized to the test data so the hot partition qualifies
      // the skew split breaks the join's output partitioning; the global
      // agg downstream doesn't need it, so forcing is safe here
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val j = fact.join(dim, Seq("k")).agg(count(lit(1)), sum(col("payload") + col("dv")))
      val row = j.collect().head // execute so AQE finalizes THIS plan
      assert((row.getLong(0), row.getLong(1)) == expected,
        "AQE skew join changed the join result")
      val adaptive = j.queryExecution.executedPlan.collectFirst {
        case a: AdaptiveSparkPlanExec => a
      }.getOrElse(fail("expected an AdaptiveSparkPlanExec root"))
      // the SMJ lives inside a QueryStage wrapper (a leaf node to collect),
      // so assert on the rendered final plan
      val rendered = adaptive.executedPlan.toString
      assert(rendered.contains("SortMergeJoin(skew=true)"),
        s"expected a skew=true SortMergeJoin in the AQE-final plan:\n$rendered")
      assert(rendered.contains("AQEShuffleRead skewed"),
        s"expected a skewed AQEShuffleRead in the AQE-final plan:\n$rendered")
    }
  }
}
