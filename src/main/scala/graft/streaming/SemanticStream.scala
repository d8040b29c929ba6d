package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming face of the incremental SEMANTIC dedup probe — the
  * embedding-space twin of [[DedupStream]]: vectors land as a stream, and
  * every micro-batch runs the index-freshness contract's three moves in
  * order:
  *
  *   1. SELF-DEDUP the batch — same-cluster pairs within the batch alone,
  *      exact cosine ≥ τ (the probe's documented intra-batch blind spot;
  *      O(batch·occupancy) inside the pinned clusters);
  *   2. PROBE the batch against the persisted cluster-assigned index —
  *      cluster-keyed equi-join against STRICTLY EARLIER batches only,
  *      exact cosine ≥ τ inside the shared cluster;
  *   3. APPEND the batch's assigned vectors to the index — strictly after
  *      the probe action completes (probe-before-append total order).
  *
  * The cluster function is PINNED: centroids are a persisted artifact of
  * the index build (the demo trains them once, up front, from the same
  * deterministic Lloyd loop the batch entries replay in their oracles), and
  * every batch assigns with the same native argmax expression — so stream
  * and one-shot batch agree on every cluster id by construction, not by
  * luck. Re-training inside the stream would change cluster boundaries
  * between batches and void the parity theorem; a production deployment
  * that re-trains does so by REBUILDING the index, not by mutating the
  * assignment function mid-stream.
  *
  * THE PARITY THEOREM (spec-proven in SemanticStreamSpec, DuckDB-oracled as
  * catalog entry `x_stream_semantic_incremental`): for ANY partition of the
  * corpus into ordered micro-batches, self-pairs ∪ probe-pairs equals the
  * one-shot same-cluster τ-pair set exactly. An intra-batch pair is found
  * by step 1 only (its vectors are not yet in the index during step 2); a
  * cross-batch pair is found by step 2 of its LATER batch only. The union
  * tiles the pair set with no duplicates and no gaps, independent of
  * trigger boundaries.
  *
  * At 100 TB: per-batch cost is O(delta·occupancy) — delta·k dots for the
  * assignment (broadcast centroids, native codegen), then an equi-join that
  * touches only the delta's own clusters' index members. The index is never
  * shuffled (cluster is a partition-local join key after the delta-side
  * exchange) and never rescanned for training. Driver state is zero; both
  * sinks are distributed parquet, partitioned by batch_id with dynamic
  * partition overwrite, so at-least-once foreachBatch execution plus
  * deterministic batch bodies gives an exactly-once sink with no
  * transaction log (the [[DedupStream.incrementalBatch]] argument, restated
  * here because the same replay audit pins it).
  */
object SemanticStream {

  /** Input schema of the staged vector stream: id, double vector, norm
    * (staged once at index-build time; recomputing per batch would also be
    * exact, but the staged norm keeps the batch body projection-only). */
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("v", ArrayType(DoubleType)),
    StructField("nrm", DoubleType)))

  private val indexSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("v", ArrayType(DoubleType)),
    StructField("nrm", DoubleType),
    StructField("cluster", IntegerType),
    StructField("batch_id", LongType)))

  private val matchSchema: StructType = StructType(Seq(
    StructField("vec_a", LongType),
    StructField("vec_b", LongType),
    StructField("cluster", IntegerType),
    StructField("via", StringType),
    StructField("batch_id", LongType)))

  private def cosXY: Column =
    graft.ops.Similarity.dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))

  /** The per-micro-batch body. `clusterOf` is the pinned assignment column
    * (nearest trained centroid); `tau` the cosine threshold. Public seam so
    * a deployment can wire it to any streaming source; the spec drives it
    * both through a real file stream and directly for the replay audit. */
  def incrementalBatch(clusterOf: Column => Column, tau: Double,
      indexDir: String, matchesDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    // Assigned three times (self-join's two sides, probe, append): persist
    // so the assignment dots run once per batch. Repartition FIRST — a
    // micro-batch arrives at source-file width (often one file = one
    // split), and the assignment is the batch's FLOP-heavy step
    // (delta·k dots). Width is sized to the delta (~1k vectors per
    // partition, capped at session parallelism) so a toy gate batch does
    // not pay 32-task scheduling per job; keyed by vec_id so placement is
    // deterministic under foreachBatch replay. The count is footer-driven
    // on the staged file.
    val width = math.max(1L, math.min(
      s.sparkContext.defaultParallelism.toLong, batch.count() / 1000L)).toInt
    val assigned = batch
      .repartition(width, col("vec_id"))
      .withColumn("cluster", clusterOf(col("v")))
      .persist()
    try {
      val self = assigned.as("x").join(assigned.as("y"),
          col("x.cluster") === col("y.cluster") &&
            col("x.vec_id") < col("y.vec_id"))
        .filter(cosXY >= tau)
        .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
          col("x.cluster").as("cluster"), lit("self").as("via"))
      // Strictly-earlier partitions only: a batch must never probe its own
      // vectors (a replay after its append landed would re-find every
      // intra-batch pair a second time). The predicate is a partition
      // filter, so the replayed probe does not even scan its own partition.
      // Resolved through SinkRetention.readLive: the plain schema'd read
      // (identical plan) until a manifest commit exists, fold-aware after —
      // so [[compactIndexManifest]] needs no probe-side switch.
      val index = SinkRetention.readLive(s, indexDir, indexSchema)
        .filter(col("batch_id") < batchId)
        .select(col("vec_id"), col("v"), col("nrm"), col("cluster"))
      val probe = assigned.as("x").join(index.as("y"),
          col("x.cluster") === col("y.cluster"))
        .filter(cosXY >= tau)
        .select(least(col("x.vec_id"), col("y.vec_id")).as("vec_a"),
          greatest(col("x.vec_id"), col("y.vec_id")).as("vec_b"),
          col("x.cluster").as("cluster"), lit("probe").as("via"))
      self.unionByName(probe)
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(matchesDir)
      assigned.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(indexDir)
    } finally assigned.unpersist()
  }

  /** Compact the semantic vector index — [[SinkRetention.compactIndex]]
    * over this sink's schema: fold every `batch_id <= watermark` partition
    * into the watermark partition, content unchanged, so resumed batches'
    * strictly-earlier probes see the same assigned vectors and the parity
    * theorem holds across the fold (spec SemanticStreamSpec, catalog
    * `x_stream_semantic_compacted`). Stream must be stopped and the
    * watermark committed — the contract is in SinkRetention's scaladoc. */
  def compactIndex(s: SparkSession, indexDir: String, watermark: Long): Unit =
    SinkRetention.compactIndex(s, indexDir, watermark, indexSchema,
      Seq("vec_id", "v", "nrm", "cluster"))

  /** Object-store-safe fold for the vector index —
    * [[SinkRetention.compactIndexManifest]] with this sink's schema: the
    * manifest-pointer publish (single-file commit, no renames) applied to
    * the embedding sink. Probe side already resolves through
    * `SinkRetention.readLive`; parity across the manifest fold is proven
    * in SemanticStreamSpec. */
  def compactIndexManifest(s: SparkSession, indexDir: String, watermark: Long): Unit =
    SinkRetention.compactIndexManifest(s, indexDir, watermark, indexSchema,
      Seq("vec_id", "v", "nrm", "cluster"))

  /** Threshold-gated fold for the vector index —
    * [[SinkRetention.compactIndexIfNeeded]] with this sink's schema, the
    * amortized maintenance schedule of [[graft.streaming.DedupStream
    * .compactIndexIfNeeded]] applied to the embedding sink (catalog
    * `x_stream_semantic_tiered`). Returns whether a fold ran. */
  def compactIndexIfNeeded(s: SparkSession, indexDir: String, watermark: Long,
      minFolded: Int): Boolean =
    SinkRetention.compactIndexIfNeeded(s, indexDir, watermark, indexSchema,
      Seq("vec_id", "v", "nrm", "cluster"), minFolded)

  /** Retention for the semantic match sink: plain partition drop of
    * consumed results (see [[SinkRetention.prunePartitions]]). */
  def pruneMatches(s: SparkSession, matchesDir: String, keepFrom: Long): Unit =
    SinkRetention.prunePartitions(s, matchesDir, keepFrom)

  /** Run the incremental semantic pipeline over a directory of staged
    * vector parquet files as a real Structured Streaming query (file
    * source, one staged file per micro-batch, `Trigger.AvailableNow` to
    * drain and stop). Returns the accumulated match sink. */
  def runIncremental(s: SparkSession, stageDir: String, workDir: String,
      clusterOf: Column => Column, tau: Double): DataFrame = {
    val indexDir = s"$workDir/vec_index"
    val matchesDir = s"$workDir/matches"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(indexDir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(matchesDir))
    StreamTuning.runBounded(s, stageDir, vecSchema, s"$workDir/ckpt")(
      _.writeStream.foreachBatch(incrementalBatch(clusterOf, tau, indexDir, matchesDir) _))
    s.read.schema(matchSchema).parquet(matchesDir)
  }
}
