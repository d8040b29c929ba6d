package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** kNN-graph diagnostics: a driver-side brute-force reconstruction of the
  * panel's top-3 graph must yield the same edge set, reciprocity count,
  * and triangle count (left-fold doubles, same (sim desc, id) order).
  * And the CMS stream must produce cells identical to the one-shot batch
  * sketch — counter addition is associative, the parity theorem in one
  * assert.
  */
class KnnGraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = SparkTestSession.sfDir

  test("knn stats equal a driver-side graph reconstruction") {
    val vecs = spark.read.parquet(s"$d/embeddings.parquet")
      .filter(col("vec_id") < 1000)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val top3 = vecs.flatMap { case (a, av) =>
      vecs.filter(_._1 != a)
        .map { case (b, bv) => (b, dot(av, bv) / (nrm(a) * nrm(b))) }
        .sortBy { case (b, sim) => (-sim, b) }
        .take(3).map { case (b, _) => (a, b) }
    }.toSet
    val edges = top3.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val mutual = top3.count { case (a, b) => a < b && top3.contains((b, a)) }
    val triangles = {
      val es = edges
      es.toSeq.flatMap { case (a, b) =>
        es.toSeq.collect { case (b2, c) if b2 == b && es.contains((a, c)) => 1 }
      }.size
    }
    val row = GraphOps.graphKnnStats(spark, d).collect().head
    assert(row.getLong(0) == vecs.length)
    assert(row.getLong(1) == edges.size)
    assert(row.getLong(2) == mutual)
    assert(row.getLong(3) == triangles)
  }

  test("streamed CMS cells equal the one-shot batch sketch (mergeability end to end)") {
    val batch = TextAnalysis.countMinAudit(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val stream = TextAnalysis.countMinStream(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stream == batch)
  }
}
