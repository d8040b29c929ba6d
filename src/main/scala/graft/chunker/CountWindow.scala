package graft.chunker

/** Exact row counts for one window `[lo, hi]` of the keyspace: the distinct
  * ids present (as offsets from `lo`, ascending) and the running row count
  * in front of each. `count(s, e)` is then two binary searches, so the
  * bisection ladder of [[ChunkEngine]] (`_chunk_count_checker`, reference
  * lib/DBIx/BatchChunker.pm:1475-1570) can ask as many rungs as it likes
  * from one grouped scan instead of one `COUNT(*)` job per rung.
  *
  * The counts are exact, not a sketch, so every rung decides exactly as a
  * live COUNT would on the same snapshot and the chunk plan is unchanged.
  */
final class CountWindow private (val lo: BigInt, val hi: BigInt, offsets: Array[Long], prefix: Array[Long]) {

  def covers(s: BigInt, e: BigInt): Boolean = s >= lo && e <= hi

  /** Rows with an id in `[s, e]`; the range must lie inside the window. */
  def count(s: BigInt, e: BigInt): BigInt = {
    require(covers(s, e), s"[$s, $e] is outside the window [$lo, $hi]")
    BigInt(prefix(atOrBelow((e - lo).toLong)) - prefix(atOrBelow((s - lo).toLong - 1)))
  }

  /** Number of ids whose offset is at most `off`. */
  private def atOrBelow(off: Long): Int = {
    val i = java.util.Arrays.binarySearch(offsets, off)
    if (i >= 0) i + 1 else -i - 1
  }
}

object CountWindow {

  /** Loads the ascending `(id, rows)` pairs of the ids in `[lo, hi]`, at most
    * `cap` of them (the lowest ones). */
  type Loader = (BigInt, BigInt, Int) => Seq[(BigInt, Long)]

  /** A window covers this many widths of the probe that missed. */
  private[chunker] val Widths = 4

  /** Most ids one window holds: two longs each, about 1 MB. */
  private[chunker] val Cap = 65536

  /** Offsets are longs, so a window spans at most this many ids. */
  private val MaxSpan = BigInt(Long.MaxValue)

  /** Upper end of the window loaded for a missed probe `[s, e]`: [[Widths]]
    * probe widths, never past `maxId`. Below `e` when no window can cover
    * the probe. */
  def plannedHi(s: BigInt, e: BigInt, maxId: BigInt): BigInt =
    (s + Widths * (e - s + 1) - 1).min(maxId).min(s + MaxSpan - 1)

  /** Window over `[lo, hi]` from a loader's rows. A load that returned
    * `cap` ids may have stopped early, so the window then ends at the last
    * id returned: every count inside it is still complete. */
  def apply(lo: BigInt, hi: BigInt, cap: Int, rows: Seq[(BigInt, Long)]): CountWindow = {
    val top = if (rows.size >= cap) rows.last._1 else hi
    val offsets = rows.iterator.map(r => (r._1 - lo).toLong).toArray
    val prefix = rows.iterator.map(_._2).scanLeft(0L)(_ + _).toArray
    new CountWindow(lo, top, offsets, prefix)
  }
}
