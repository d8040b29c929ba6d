package chunkbench

import scala.collection.mutable.ArrayBuilder
import scala.util.Random

/** Seeded input generators. The same seed gives the same rows; the program
  * sees only what these produce. */
object Gen {

  /** A rows-with-ids table, sorted by id. */
  final case class Keyspace(ids: Array[Long], values: Array[Long]) {
    def rows: Int = ids.length
    def min: Long = ids.head
    def max: Long = ids.last
    def sum: Long = values.sum
  }

  /** The adaptive-scan keyspace: `cycles` whole repeats of a fixed cycle of
    * segment kinds (an empty gap about four chunk widths long, a sparse
    * stretch of about one row per five ids, a stretch of about one row per
    * id, a dense run of about eight rows per id, another one-per-id
    * stretch). The seed draws each segment's length and density within 5%
    * of its kind's, and the keyspace always ends on a cycle boundary, so
    * every seed pushes the count-probe ladder the same ways in the same
    * proportions and about as many chunks result: gaps are skipped, sparse
    * stretches expand the chunk, dense runs bisect it down. */
  def scanKeyspace(seed: Long, cycles: Int): Keyspace = {
    val rnd = new Random(seed)
    val ids = ArrayBuilder.make[Long]
    val vals = ArrayBuilder.make[Long]
    var id = 1L
    def emit(k: Long): Unit = { ids += k; vals += rnd.nextInt(1000000).toLong }
    def jitter(x: Double): Double = x * (0.95 + rnd.nextDouble() * 0.1)
    // Segment kinds: (length in ids, mean rows per id); 0 rows is a gap.
    val cycle = Seq((8400, 0.0), (4200, 0.2), (1400, 0.9), (1050, 8.0), (1400, 0.9))
    emit(id)
    for (_ <- 0 until cycles; (len, perId) <- cycle) {
      val span = jitter(len).toInt
      val mean = jitter(perId)
      for (_ <- 0 until span) {
        id += 1
        // floor(mean) or ceil(mean) rows, averaging `mean`.
        var c = mean.toInt + (if (rnd.nextDouble() < mean - mean.toInt) 1 else 0)
        while (c > 0) { emit(id); c -= 1 }
      }
    }
    Keyspace(ids.result(), vals.result())
  }

  /** A dense uniform keyspace `1..rows`, one row per id; values are cents. */
  def denseKeyspace(seed: Long, rows: Int): Keyspace = {
    val rnd = new Random(seed)
    Keyspace(Array.tabulate(rows)(i => i + 1L), Array.fill(rows)(rnd.nextInt(10000000).toLong))
  }

  /** Flags for the conditional JDBC update: about 70% of rows qualify. */
  def flags(seed: Long, rows: Int): Array[Int] = {
    val rnd = new Random(seed ^ 0x5DEECE66DL)
    Array.fill(rows)(if (rnd.nextDouble() < 0.7) 1 else 0)
  }

  /** Seeded positions (hook-call ordinals, 1-based) of the one transient
    * failure and the one crash in a repetition of `calls` hook calls:
    * the transient in the first third, the crash in the middle third. */
  def faults(seed: Long, rep: Int, calls: Int): (Int, Int) = {
    val rnd = new Random(seed * 31 + rep)
    val third = math.max(1, calls / 3)
    (1 + rnd.nextInt(third), third + 1 + rnd.nextInt(third))
  }
}
