package chunkbench

/** Damage the audit self-test does to a finished repetition's output. */
sealed trait Damage
object Damage {
  case object Twice extends Damage { override def toString = "one chunk written twice" }
  case object Missing extends Damage { override def toString = "one chunk missing" }

  /** `xs` with its first element repeated or dropped. */
  def apply[A](d: Option[Damage], xs: Seq[A]): Seq[A] = d match {
    case Some(Twice)   => xs :+ xs.head
    case Some(Missing) => xs.tail
    case None          => xs
  }
}

/** Exactly-once audits. Each returns the problems it found; empty means the
  * output is exactly what one application of the workload must produce. */
object Audit {

  /** The chunks, in any order, must tile `[min, max]`: contiguous, no
    * overlap, no gap. */
  def tiles(chunks: Seq[(BigInt, BigInt)], min: BigInt, max: BigInt): Seq[String] = {
    val s = chunks.sortBy(c => (c._1, c._2))
    if (s.isEmpty) Seq(s"no chunks cover [$min, $max]")
    else {
      val first = if (s.head._1 != min) Seq(s"first chunk starts at ${s.head._1}, not $min") else Nil
      val last = if (s.last._2 != max) Seq(s"last chunk ends at ${s.last._2}, not $max") else Nil
      val joins = s.sliding(2).collect {
        case Seq(a, b) if b._1 != a._2 + 1 =>
          if (b._1 <= a._2) s"chunks $a and $b overlap" else s"gap between chunks $a and $b"
      }.toSeq
      first ++ last ++ joins
    }
  }

  private def expect[A](what: String, got: A, want: A): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, want $want")

  /** adaptive_scan: per-chunk (rows, sum) aggregates add up to the
    * whole-table aggregate, and processed plus skipped chunks tile the
    * keyspace. */
  def scan(aggs: Seq[(Long, Long)], expectRows: Long, expectSum: Long,
      chunks: Seq[(BigInt, BigInt)], min: BigInt, max: BigInt): Seq[String] =
    expect("rows over chunk aggregates", aggs.map(_._1).sum, expectRows) ++
      expect("sum over chunk aggregates", aggs.map(_._2).sum, expectSum) ++
      tiles(chunks, min, max)

  /** fixed_rewrite: the committed output holds every key once with the
    * update applied once. */
  def rewrite(count: Long, distinct: Long, sum: BigDecimal,
      expectRows: Long, expectSum: BigDecimal): Seq[String] =
    expect("committed rows", count, expectRows) ++
      expect("distinct committed keys", distinct, expectRows) ++
      expect("committed amount sum", sum, expectSum)

  /** jdbc_*: no row differs from its original by anything but one
    * application of the update, the table aggregate agrees, and the
    * journal covers the plan. */
  def dml(wrongRows: Long, sum: Long, expectSum: Long,
      journal: Seq[(BigInt, BigInt)], min: BigInt, max: BigInt): Seq[String] =
    expect("rows not updated exactly once", wrongRows, 0L) ++
      expect("table sum", sum, expectSum) ++
      tiles(journal, min, max)
}
