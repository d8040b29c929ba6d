package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming face of the incremental near-dup pipeline: documents land as a
  * stream, and every micro-batch runs the three moves the index-freshness
  * contract (graft.ops.Dedup.dedupIncremental's scaladoc) prescribes, in
  * order:
  *
  *   1. SELF-DEDUP the batch — the banded LSH self-join over the batch alone
  *      (the probe's documented intra-batch blind spot, O(batch² within
  *      buckets), cheap at batch size);
  *   2. PROBE the batch's bands against the persisted signature index —
  *      broadcast-delta against one index scan, the index is never shuffled;
  *   3. APPEND the batch's signatures to the index — strictly AFTER the
  *      probe action completes, so batches are totally ordered against the
  *      index and every cross-batch pair is found exactly once (when its
  *      LATER batch probes).
  *
  * `foreachBatch` is the right streaming primitive here, not a stream-static
  * join: the "static" side GROWS as a function of the stream itself, and
  * steps 2→3 need a read-then-append ordering per batch that a symmetric
  * join cannot express. Structured Streaming serializes foreachBatch calls,
  * which is exactly the total order the contract demands; the checkpointed
  * source offsets make the batch sequence replayable.
  *
  * THE PARITY THEOREM (spec-proven in DedupStreamSpec, DuckDB-oracled as
  * catalog entry `x_stream_dedup_incremental`): for ANY partition of a
  * corpus into ordered micro-batches, self-pairs ∪ probe-pairs equals the
  * one-shot batch LSH pair set (Dedup.dedupMinhashLsh) exactly — same pairs,
  * same estimated Jaccards. An intra-batch pair is found by step 1 only (its
  * signatures are not yet in the index during step 2); a cross-batch pair is
  * found by step 2 of the later batch only. Nothing else exists, so the
  * union tiles the batch pair set with no duplicates and no gaps — and the
  * result is independent of trigger boundaries, which is what makes the
  * operator safe to run under any `maxFilesPerTrigger` / backfill regime.
  *
  * At 100 TB: per-batch cost is O(delta signatures) + one scan of the index
  * (broadcast hash lookup per band row — no index shuffle, no index
  * recompute; signatures are persisted once and re-banded by a cheap
  * projection at probe time). Driver state is zero — matches and signatures
  * go to distributed sinks; nothing accumulates on the driver across
  * batches. The index scan per batch is the honest price of exactness; a
  * deployment that needs less reads a bucketed/bloom-pruned index layout,
  * which changes the scan, not this contract.
  */
object DedupStream {

  /** Input schema of the staged document stream (the two columns the sketch
    * consumes; extra document columns are projected away at staging). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private val sigSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("mh", ArrayType(LongType)),
    StructField("batch_id", LongType)))

  private val matchSchema: StructType = StructType(Seq(
    StructField("doc_a", LongType),
    StructField("doc_b", LongType),
    StructField("est_jaccard", DoubleType),
    StructField("via", StringType),
    StructField("batch_id", LongType)))

  /** The per-micro-batch body: self-dedup, probe, then append signatures.
    * Public seam so a deployment can wire it to any streaming source
    * (Kafka, file drop, Delta CDF); the spec drives it both through a real
    * file stream and directly for the replay audit.
    *
    * EXACTLY-ONCE UNDER REPLAY: Structured Streaming guarantees at-least-
    * once execution of foreachBatch — a batch that crashes mid-body (even
    * between the two writes below) is re-run with the SAME batchId. Both
    * sinks are therefore partitioned by batch_id and written with dynamic
    * partition overwrite: a replay replaces exactly its own partition
    * instead of appending a duplicate, and since the batch body is
    * deterministic, at-least-once execution + idempotent partition
    * replacement = an exactly-once sink with no transaction log. The probe
    * reads only STRICTLY EARLIER batch partitions — semantically that is
    * the append-after-probe total order (a batch must never see its own
    * signatures, or a replay after its append landed would re-find every
    * intra-batch pair a second time through the probe), and physically the
    * batch_id predicate is a partition filter, so the replayed probe does
    * not even scan its own partition. */
  def incrementalBatch(indexDir: String, matchesDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    // Signatures are used three times (self-join's bands, probe, append);
    // persist so the shingle aggregation runs once per batch. The sketch
    // builder spreads the batch to session width internally — a micro-batch
    // arrives at source-file width (often one file = one split), far too
    // narrow for the shingle+minhash compute.
    val sigs = graft.ops.Dedup.minhashSignaturesOf(
      batch.select(col("doc_id"), col("text"))).persist()
    try {
      val bands = graft.ops.Dedup.mhBands(sigs)
      val self = graft.ops.Dedup.lshSelfPairs(bands)
        .withColumn("via", lit("self"))
      // The probe resolves the index through SinkRetention.readLive: on a
      // plain sink this IS the schema'd parquet read (identical plan); on a
      // manifest-committed sink (compactIndexManifest — the object-store
      // maintenance path) it also picks up the folded generation, which
      // plain readers would silently miss.
      val indexBands = graft.ops.Dedup.mhBands(
        SinkRetention.readLive(s, indexDir, sigSchema)
          .filter(col("batch_id") < batchId)
          .select(col("doc_id"), col("mh")))
      val probe = graft.ops.Dedup.lshCrossPairs(bands, indexBands)
        .withColumn("via", lit("probe"))
      // One action lands both pair families; the append below only starts
      // after it returns, which is the probe-before-append total order.
      self.unionByName(probe)
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(matchesDir)
      sigs.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(indexDir)
    } finally sigs.unpersist()
  }

  /** Maintenance op: compact the batch_id-partitioned signature index —
    * the day-2 face of the exactly-once sink contract. The streaming sink
    * accumulates one partition per micro-batch forever; a real deployment
    * periodically folds the cold partitions into one.
    *
    * Folds every partition with `batch_id <= watermark` into THE single
    * partition `batch_id = watermark`. Content is unchanged — only the
    * partition layout moves — so the probe predicate `batch_id < b` of
    * any future batch `b > watermark` sees exactly the same signature
    * rows and THE PARITY THEOREM IS PRESERVED across compaction
    * (spec-proven in DedupStreamSpec, DuckDB-oracled as catalog entry
    * `x_stream_dedup_compacted`). Fewer partitions = fewer files and one
    * coarse partition-pruning branch instead of hundreds.
    *
    * MUST run in a maintenance window (stream stopped) with
    * `watermark <= ` the last COMMITTED batch id: Structured Streaming
    * only ever replays the in-flight batch, whose id is strictly greater
    * than every committed one, so a replay never overwrites or re-probes
    * a compacted partition.
    *
    * Crash safety, stage-then-publish: (1) the fold is staged next to the
    * index behind Spark's `_SUCCESS` marker — a crash mid-stage leaves the
    * live index untouched and the next run rebuilds the stage; (2) only
    * after the marker exists are the folded partitions dropped, and the
    * publish is ONE atomic directory rename of the stage onto the
    * watermark partition — a crash at ANY point is recovered by RE-RUNNING
    * compactIndex with the same watermark (every window is injected and
    * proven content-restoring in SinkRetentionSpec; the index is not
    * readable mid-maintenance, which is what the maintenance window is
    * for). A deployment on a transactional table format gets the publish
    * transactionally instead; this is the plain-parquet contract.
    *
    * The same op applies verbatim to the other batch_id-partitioned
    * streaming sinks — the fold itself lives in [[SinkRetention]] (shared
    * with [[SemanticStream.compactIndex]], proven there too): fold
    * partitions below a committed watermark, preserve content, keep the
    * strictly-earlier read predicate valid. */
  def compactIndex(s: SparkSession, indexDir: String, watermark: Long): Unit =
    SinkRetention.compactIndex(s, indexDir, watermark, sigSchema, Seq("doc_id", "mh"))

  /** The OBJECT-STORE-SAFE fold — [[SinkRetention.compactIndexManifest]]
    * with this sink's schema: same content contract and maintenance window
    * as [[compactIndex]], but the publish is an atomic single-file
    * manifest commit (no directory rename anywhere in the maintenance
    * path), which is the variant to run when the sink lives on S3-class
    * storage. The probe side needs no switch: [[incrementalBatch]] already
    * resolves the index through [[SinkRetention.readLive]], which is the
    * plain partitioned read until the first manifest commit exists.
    * Parity across the manifest fold is DuckDB-oracled end-to-end as
    * catalog entry `x_stream_dedup_manifest`. */
  def compactIndexManifest(s: SparkSession, indexDir: String, watermark: Long): Unit =
    SinkRetention.compactIndexManifest(s, indexDir, watermark, sigSchema, Seq("doc_id", "mh"))

  /** Threshold-gated fold — [[SinkRetention.compactIndexIfNeeded]] with
    * this sink's schema: folds only when at least `minFolded` partitions
    * are at or below the watermark, bounding rewrite amplification to
    * ~|index|/minFolded bytes per maintenance window (the cost model is
    * at the SinkRetention contract). Returns whether a fold ran. */
  def compactIndexIfNeeded(s: SparkSession, indexDir: String, watermark: Long,
      minFolded: Int): Boolean =
    SinkRetention.compactIndexIfNeeded(s, indexDir, watermark, sigSchema,
      Seq("doc_id", "mh"), minFolded)

  /** Retention for the match sink: drop every match partition with
    * `batch_id < keepFrom`. Matches are RESULTS — consumed downstream as
    * each batch lands — so retention is a plain partition drop, not a
    * fold; nothing later reads them back (the probe reads the signature
    * index, never the match sink). */
  def pruneMatches(s: SparkSession, matchesDir: String, keepFrom: Long): Unit =
    SinkRetention.prunePartitions(s, matchesDir, keepFrom)

  /** Run the incremental pipeline over a directory of staged document
    * parquet files as a real Structured Streaming query (file source,
    * `maxFilesPerTrigger=1` so each staged file is its own micro-batch,
    * `Trigger.AvailableNow` to drain the backlog and stop). Returns the
    * accumulated match sink. `workDir` receives the signature index, the
    * match sink, and the streaming checkpoint. */
  def runIncremental(s: SparkSession, stageDir: String, workDir: String): DataFrame = {
    val indexDir = s"$workDir/sig_index"
    val matchesDir = s"$workDir/matches"
    // Seed both sink directories: batch 0 must be able to probe an (empty)
    // index, and a match-less run must still read back. Explicit schemas on
    // the reads make an empty directory a valid empty relation.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(indexDir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(matchesDir))
    StreamTuning.runBounded(s, stageDir, docSchema, s"$workDir/ckpt")(
      _.writeStream.foreachBatch(incrementalBatch(indexDir, matchesDir) _))
    s.read.schema(matchSchema).parquet(matchesDir)
  }
}
