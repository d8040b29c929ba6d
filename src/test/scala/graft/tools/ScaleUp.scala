package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic N× scale-up of a driver testdata directory, used to
  * substantiate scale claims beyond the provided sf0.1 (VERDICT r2 §next.2).
  *
  * Replication preserves the schema, referential integrity, and the
  * STATISTICAL shape the catalog queries depend on, instead of naively
  * cloning rows (which would explode every near-dup/ANN pair space with
  * exact copies):
  *  - every key column shifts by `replica × table-cardinality` (keys are
  *    dense 0..n-1 in the source), so joins stay 1:N exactly as before;
  *  - document text goes through a per-replica Caesar rotation of
  *    latin letters and digits — token sets of different replicas are
  *    disjoint for latin-script docs, so the minhash/simhash pair space
  *    grows linearly, not quadratically (non-latin docs replicate verbatim
  *    and contribute honest exact duplicates — real corpora have those);
  *  - embeddings rotate their dimensions by `7·replica mod dim` — a
  *    norm-preserving permutation that keeps within-replica geometry
  *    identical while cross-replica cosines stay near zero (random vectors
  *    are ~orthogonal to their permutations);
  *  - region/nation are fixed dimensions and copy verbatim.
  *
  * Usage: Test/runMain graft.tools.ScaleUp <srcDir> <dstDir> <factor> [tables]
  * `tables` is an optional comma-list (e.g. "documents") for workouts that
  * only need one table — the full-catalog default writes everything.
  */
object ScaleUp {

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase
  private val Digits = "0123456789"
  /** One 62-character rotation cycle (not per-group): per-group rotation
    * repeats letter mappings every 26 replicas, which would reintroduce
    * cross-replica near-duplicates at factors > 26. A 62-cycle stays
    * distinct for every replica index below 62. */
  private val Alphabet = Lower + Upper + Digits

  private def rot(s: String, i: Int): String =
    s.drop(i % s.length) + s.take(i % s.length)

  private def caesar(c: Column, i: Int): Column =
    translate(c, Alphabet, rot(Alphabet, i))

  private def rotateDims(c: Column, off: Int, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)),
      j => element_at(c, ((j + lit(off)) % dim) + 1))

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = args(2).toInt
    val spark = graft.LocalSession.build()

    val want: String => Boolean =
      if (args.length > 3) args(3).split(",").toSet else _ => true

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(t: String, df: DataFrame): Unit = if (want(t)) {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"SCALEUP $t -> ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }

    // fixed dimensions: verbatim (guard BEFORE read: a table-filtered src
    // dir may not contain the unwanted tables at all)
    Seq("region", "nation").filter(want).foreach(t => write(t, read(t)))

    /** Replicate with a per-replica transform; stride = source cardinality. */
    def scaled(t: String)(tx: (DataFrame, Int, Long) => DataFrame): Unit = if (want(t)) {
      val base = read(t)
      val n = base.count()
      write(t, (0 until factor).map(i => tx(base, i, n)).reduce(_ unionAll _))
    }

    scaled("customer")((df, i, n) => df.withColumn("c_custkey", col("c_custkey") + lit(i * n)))
    scaled("supplier")((df, i, n) => df.withColumn("s_suppkey", col("s_suppkey") + lit(i * n)))
    scaled("part")((df, i, n) => df.withColumn("p_partkey", col("p_partkey") + lit(i * n)))

    // lazy: key-stride counts are only paid (and their source tables only
    // required to exist) when the dependent table is actually being scaled
    lazy val nCust = read("customer").count()
    scaled("orders")((df, i, n) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * n))
      .withColumn("o_custkey", col("o_custkey") + lit(i * nCust)))

    lazy val nOrd = read("orders").count()
    lazy val nPart = read("part").count()
    lazy val nSupp = read("supplier").count()
    scaled("lineitem")((df, i, _) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * nOrd))
      .withColumn("l_partkey", col("l_partkey") + lit(i * nPart))
      .withColumn("l_suppkey", col("l_suppkey") + lit(i * nSupp)))

    // events is NOT scaled here: its ts column is TIMESTAMP(NANOS), which
    // Spark reads as long (nanosAsLong) and cannot write back type-
    // faithfully — tools/scaleup_events.py replicates it via DuckDB.
    println("SCALEUP events -> skipped (run tools/scaleup_events.py)")

    scaled("documents")((df, i, n) => df
      .withColumn("doc_id", col("doc_id") + lit(i * n))
      .withColumn("text", caesar(col("text"), i)))

    lazy val dim = read("embeddings").select(size(col("embedding"))).head().getInt(0)
    scaled("embeddings")((df, i, n) => df
      .withColumn("vec_id", col("vec_id") + lit(i * n))
      .withColumn("embedding", rotateDims(col("embedding"), (7 * i) % dim, dim)))

    spark.stop()
  }
}
