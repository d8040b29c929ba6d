package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Two-phase exact selection must agree rank-for-rank with the naive
  * single-window formulation — including duplicate values, tiny groups,
  * and constant-value groups (the width-0 bucket edge).
  */
class ExactSelectionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def naiveRanks(df: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy(col("g")).orderBy(col("v"), col("id"))
    df.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
  }

  test("candidates carry the exact global ranks the naive window assigns") {
    // deterministic pseudo-random values with heavy duplication + a
    // constant-valued group ("Z" — exercises the width-contribution of a
    // single-bucket group)
    val rows = (1L to 5000L).map { i =>
      val g = if (i % 10 == 0) "Z" else ("G" + (i % 3))
      val v = if (g == "Z") 7.0 else ((i * 2654435761L) % 997).toDouble / 3.0
      (g, v, i)
    }
    val df = rows.toDF("g", "v", "id")
    val wantedRanks: Long => Seq[Long] = n => Seq(1L, (n + 1) / 2, n)
    val cand = ExactSelection.rankedCandidates(df, "g", "v", Seq(col("id")), nBuckets = 16)(
      n => array(lit(1L), floor((n + lit(1)) / lit(2)), n))
    val naive = naiveRanks(df)

    val wantedSet = naive.select(col("g"), col("n")).distinct().collect()
      .flatMap(r => wantedRanks(r.getLong(1)).map(rk => (r.getString(0), rk))).toSet
    val got = cand.collect().map(r => ((r.getString(0), r.getLong(4)), (r.getDouble(1), r.getLong(2)))).toMap
    val expected = naive.collect().map(r => ((r.getString(0), r.getInt(3).toLong), (r.getDouble(1), r.getLong(2)))).toMap
    // every wanted rank is present in the candidates with the same row
    wantedSet.foreach { key =>
      assert(got.contains(key), s"wanted rank $key missing from candidates")
      assert(got(key) == expected(key), s"rank $key: ${got(key)} != ${expected(key)}")
    }
    // and every candidate's rank agrees with the naive global rank
    got.foreach { case (key, row) => assert(expected(key) == row, s"mismatch at $key") }
  }

  test("empty input yields an empty frame") {
    val df = Seq.empty[(String, Double, Long)].toDF("g", "v", "id")
    assert(ExactSelection.rankedCandidates(df, "g", "v", Seq(col("id")))(_ => array(lit(1L)))
      .count() == 0)
  }

  test("past the broadcast threshold the pruning join degrades to sort-merge, rank-identical") {
    // 4000 distinct groups: the needed-set has >= 4000 rows, so a
    // threshold of 0 forces the degraded (shuffled) pruning join — the
    // shape the operator takes when group cardinality outgrows what the
    // driver can broadcast. Ranks must be identical to the broadcast path.
    val rows = (1L to 20000L).map { i =>
      val g = "G" + (i % 4000)
      (g, ((i * 2654435761L) % 1009).toDouble, i)
    }
    val df = rows.toDF("g", "v", "id")
    val wanted: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      n => array(floor((n + lit(1)) / lit(2)))
    val viaBroadcast = ExactSelection.rankedCandidates(df, "g", "v", Seq(col("id")), nBuckets = 32)(wanted)
    val viaShuffle = ExactSelection.rankedCandidates(df, "g", "v", Seq(col("id")), nBuckets = 32,
      broadcastThreshold = 0L)(wanted)
    // the degraded plan really is a shuffled sort-merge pruning join (not
    // an AQE re-broadcast of the relation we measured as too big)
    val plan = viaShuffle.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"degrade path did not sort-merge:\n$plan")
    assert(viaBroadcast.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    def medians(d: org.apache.spark.sql.DataFrame) =
      d.filter(col("rn") === expr("(n + 1) div 2"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val (b, s) = (medians(viaBroadcast), medians(viaShuffle))
    assert(b.size == 4000 && b == s)
  }

  test("high-cardinality group column: rank location stays distributed and exact") {
    // 4000 distinct groups x 5 rows: the (group x bucket) histogram is
    // 4000+ rows — with the old driver-side collect this was the memory
    // hazard; now it is a distributed window pass. Medians must still be
    // exact for every group.
    val rows = (1L to 20000L).map { i =>
      val g = "G" + (i % 4000)
      ((i * 2654435761L) % 1009).toDouble -> (g, i)
    }.map { case (v, (g, i)) => (g, v, i) }
    val df = rows.toDF("g", "v", "id")
    val cand = ExactSelection.rankedCandidates(df, "g", "v", Seq(col("id")), nBuckets = 32)(
      n => array(floor((n + lit(1)) / lit(2))))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val naive = naiveRanks(df)
      .filter(col("rn") === expr("(n + 1) div 2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(cand.size == 4000)
    assert(cand == naive)
  }
}
