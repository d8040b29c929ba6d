package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable Misra-Gries heavy-hitters sketch as a typed Aggregator — the
  * bounded-memory answer to "which items appear more than N/(k+1) times in
  * 100 TB" (vocabulary heads, hot URLs, dominant sources) without the
  * full-cardinality shuffle of an exact groupBy.
  *
  * State is AT MOST k counters regardless of stream length or cardinality:
  *  - reduce: increment the item's counter; if the item is new and the
  *    buffer is full, decrement ALL counters by 1 and drop zeros (the
  *    classic Misra-Gries step — each decrement "spends" k+1 stream
  *    elements, bounding total undercount by floor(N/(k+1)));
  *  - merge: sum counters, then subtract the (k+1)-th largest value from
  *    every counter and keep the positives (Agarwal et al.'s mergeable-
  *    summaries rule, SAME error bound after arbitrary merge trees — which
  *    is what makes this safe as a partial-aggregated Spark UDAF).
  *
  * GUARANTEE (spec-proven by property test): every item with true count
  * c > N/(k+1) survives with lower-bound estimate >= c - N/(k+1) > 0. The
  * production pattern is sketch-prune + exact-verify: the k candidates are
  * joined back for exact counts of only those k terms, so the expensive
  * relation is never aggregated at full cardinality when only heads are
  * needed. Counters are LOWER bounds; anything needing exact numbers does
  * the verify join (as x_heavy_hitters does).
  *
  * Cost model: the buffer must round-trip through a Spark encoder, so it
  * is an immutable Map and the decrement-all eviction rebuilds it — O(k)
  * per TAIL item while the buffer is full. That is the right trade for
  * the heads-detection regime this exists for (k in the tens-to-hundreds,
  * threshold N/(k+1) high); for huge k, the exact-cleanup invariant that
  * preserves the completeness guarantee makes per-eviction work
  * unavoidable without a stream-summary structure, which cannot live in
  * an encodable buffer — shard the stream and verify-join instead.
  */
final case class HeavyHittersAggregator(k: Int)
    extends Aggregator[String, Map[String, Long], Map[String, Long]] {
  require(k >= 1, "capacity must be >= 1")

  override def zero: Map[String, Long] = Map.empty

  override def reduce(b: Map[String, Long], item: String): Map[String, Long] =
    b.get(item) match {
      case Some(c) => b.updated(item, c + 1)
      case None if b.size < k => b.updated(item, 1L)
      case None =>
        // decrement-all: pay one count from every counter instead of
        // admitting the new item; zeros vacate their slot
        b.iterator.map { case (t, c) => (t, c - 1) }
          .filter(_._2 > 0).toMap
    }

  override def merge(b1: Map[String, Long], b2: Map[String, Long]): Map[String, Long] = {
    val sum = b2.foldLeft(b1) { case (acc, (t, c)) =>
      acc.updated(t, acc.getOrElse(t, 0L) + c)
    }
    if (sum.size <= k) sum
    else {
      // subtract the (k+1)-th largest counter from all, keep positives —
      // at most k survive, error grows by exactly that subtracted value
      val kth = sum.valuesIterator.toArray.sortBy(-_).apply(k)
      sum.iterator.map { case (t, c) => (t, c - kth) }
        .filter(_._2 > 0).toMap
    }
  }

  override def finish(reduction: Map[String, Long]): Map[String, Long] = reduction

  override def bufferEncoder: Encoder[Map[String, Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()

  override def outputEncoder: Encoder[Map[String, Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
}
