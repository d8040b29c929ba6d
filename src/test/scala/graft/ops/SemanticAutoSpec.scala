package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The occupancy-targeted SemDeDup wrapper: k follows the sizing rule
  * k = max(16, ceil(n / occupancy)) and the result is exactly the manual
  * call at that k — the wrapper adds arithmetic, not semantics.
  */
class SemanticAutoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = SparkTestSession.sfDir

  private lazy val n = Tables.embeddings(spark, dir).count()

  test("large target occupancy floors k at the 16-cluster default") {
    // n=500 at sf0.001: occupancy 512 -> ceil = 1 -> floored to 16
    val auto = Similarity.dedupSemanticAuto(spark, dir, targetOccupancy = 512L)
    val manual = Similarity.dedupSemantic(spark, dir, k = 16)
    assert(auto.exceptAll(manual).count() == 0 &&
      manual.exceptAll(auto).count() == 0)
  }

  test("small target occupancy scales k up by ceil(n / occupancy)") {
    val occ = 24L
    val expectedK = math.max(16, ((n + occ - 1) / occ).toInt)
    assert(expectedK > 16, s"fixture too small: n=$n")
    val auto = Similarity.dedupSemanticAuto(spark, dir, targetOccupancy = occ)
    val manual = Similarity.dedupSemantic(spark, dir, k = expectedK)
    assert(auto.exceptAll(manual).count() == 0 &&
      manual.exceptAll(auto).count() == 0)
  }

  test("catalog entry matches manual k; the oracle derives k in-SQL") {
    // n=500 at sf0.001 with the demo occupancy 25 -> k=20. The dumped
    // oracle no longer inlines a driver-recorded literal (that shared
    // state emitted a wrong-k oracle under parallel Verify or
    // dump-before-construct): it derives k from the SAME count probe and
    // sizing law in a `kk` CTE, so its text is construction-order- and
    // directory-independent. DuckDB replay of the derivation is covered
    // by the committed oracle_check tallies.
    val df = Similarity.queries("x_dedup_semantic_auto")(spark, dir)
    val sql = Similarity.oracleSql("x_dedup_semantic_auto")
    assert(sql.contains("kk AS (SELECT greatest(16,") &&
      sql.contains("// 25 AS INT)) AS k FROM n)") &&
      sql.contains("(SELECT k FROM kk)"),
      "oracle SQL does not derive k via the sizing-law CTE")
    // dump order must not matter: reading the oracle before running the
    // query yields the same text
    assert(Similarity.oracleSql("x_dedup_semantic_auto") == sql)
    val expectedK = math.max(16, ((n + 24) / 25).toInt)
    val manual = Similarity.dedupSemantic(spark, dir, k = expectedK)
    assert(df.exceptAll(manual).count() == 0 && manual.exceptAll(df).count() == 0)
  }

  test("out-of-Int k fails loudly instead of truncating") {
    // n=500, occupancy 1 -> k=500 (fine); the guard is about the cast, so
    // exercise the arithmetic path directly: occupancy so small relative
    // to a huge synthetic n is not constructible from the fixture, but the
    // require(>=1) edge is:
    intercept[IllegalArgumentException] {
      Similarity.dedupSemanticAuto(spark, dir, targetOccupancy = 0L)
    }
  }

  // NOTE deliberately absent: "finer k finds fewer dups" — false in
  // general. Lloyd solutions at different k are not nested refinements,
  // so a larger k can co-locate a pair k=16 separated (observed on this
  // fixture: 23 dups at k=21 vs 20 at k=16). The rule bounds candidate
  // WORK (Σn_c² ≈ n·occupancy), not the result set; the work bound is
  // what the r10 bench curve measures (69× for 50× data at fixed k=16
  // vs 4.7× at k=64).
}
