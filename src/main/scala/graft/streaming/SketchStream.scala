package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming face of the heavy-hitters pipeline: documents land as a
  * stream, each micro-batch computes a bounded Misra-Gries sketch of its
  * tokens with the SAME typed Aggregator the batch entry uses, and a
  * RUNNING sketch is folded forward batch-by-batch with the aggregator's
  * own mergeable-summaries rule. Agarwal et al.'s merge bound holds over
  * ARBITRARY merge trees — a left fold across micro-batches is one such
  * tree — so after the drain the running sketch carries the identical
  * guarantee the one-shot batch sketch has: every term with true count
  * c > N/(k+1) is among its ≤k candidates. Sketch-prune + exact-verify
  * over the corpus then yields EXACTLY the batch operator's output, for
  * any slicing of the corpus into micro-batches (catalog entry
  * `x_stream_heavy_hitters` shares the `x_heavy_hitters` oracle — the
  * gate checks stream/batch parity, not just rows).
  *
  * State shape at 100 TB: the running state is ≤ k+1 rows TOTAL (k
  * counters + one stream-length row) per batch partition — driver-side
  * merge of two ≤k maps is control-plane sized, same regime as the IVF
  * centroid collect. The per-batch token aggregation is the partial-agg'd
  * distributed sketch; nothing full-cardinality ever shuffles.
  *
  * EXACTLY-ONCE UNDER REPLAY: foreachBatch is at-least-once, so the state
  * sink is partitioned by batch_id with dynamic partition overwrite, and
  * batch b derives its state ONLY from partitions with batch_id < b (a
  * partition-pruned read): a replayed batch deterministically recomputes
  * and replaces exactly its own partition — the DedupStream idempotence
  * pattern (see that scaladoc for why read-strictly-earlier is also the
  * correct total order).
  */
object SketchStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** `term IS NULL` rows carry the running stream length. */
  private val stateSchema: StructType = StructType(Seq(
    StructField("term", StringType),
    StructField("cnt", LongType),
    StructField("batch_id", LongType)))

  /** Per-micro-batch body (public seam, spec-driven directly for the
    * replay audit): sketch the batch, fold into the latest prior state,
    * land as this batch's partition.
    *
    * DETERMINISM: a bare distributed `udaf(...).agg` would merge partial
    * sketches in shuffle-fetch order, and the Misra-Gries merge TRUNCATES
    * — the candidate set (never the guarantee) depends on merge order, so
    * a replayed batch could land a different-but-equally-valid partition
    * and break the bit-identical-replay contract. Instead each partition
    * reduces its own sketch, the ≤P partition sketches come back as rows,
    * and the driver folds them in ascending partition id — ONE fixed merge
    * tree, still covered by the mergeable-summaries bound, still nothing
    * bigger than k counters per partition anywhere. The batch is first
    * spread to a data-sized width (a staged micro-batch file is ONE split,
    * which serialized the whole token sketch on one core at the 50x
    * bench); determinism survives the shuffle because hash placement is a
    * pure function of doc_id and sortWithinPartitions pins the row order
    * that shuffle fetch would otherwise scramble — partition contents AND
    * order stay a pure function of the data, so a replay lands the
    * bit-identical partition. */
  def sketchBatch(k: Int, stateDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val agg = graft.functions.HeavyHittersAggregator(k)
    val hh = udaf(agg)
    val width = math.max(1L, math.min(
      s.sparkContext.defaultParallelism.toLong, batch.count() / 1000L)).toInt
    val toks = batch
      .repartition(width, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .select(
        explode(graft.ops.TextAnalysis.tokensCol(lower(col("text")))).as("tok"))
    val parts = toks
      .groupBy(spark_partition_id().as("pid"))
      .agg(hh(col("tok")).as("sketch"), count(lit(1)).as("n"))
      .collect()
      .sortBy(_.getInt(0))
    val batchSketch: Map[String, Long] = parts
      .map(_.getMap[String, Long](1).toMap)
      .foldLeft(Map.empty[String, Long])(agg.merge)
    val batchN = parts.map(_.getLong(2)).sum

    val prior = s.read.schema(stateSchema).parquet(stateDir)
      .filter(col("batch_id") < batchId)
    // ≤ k+1 rows per prior batch; only the LATEST prior partition is the
    // fold state (earlier ones are its audit trail).
    val latest = prior.groupBy().agg(max(col("batch_id")).as("b")).head()
    val (prevSketch, prevN) =
      if (latest.isNullAt(0)) (Map.empty[String, Long], 0L)
      else {
        val rows = prior.filter(col("batch_id") === latest.getLong(0)).collect()
        (rows.filter(!_.isNullAt(0)).map(r => r.getString(0) -> r.getLong(1)).toMap,
          rows.find(_.isNullAt(0)).map(_.getLong(1)).getOrElse(0L))
      }

    val merged = agg.merge(prevSketch, batchSketch)
    val out = merged.toSeq.map { case (t, c) => (t, c, batchId) } :+
      (null.asInstanceOf[String], prevN + batchN, batchId)
    s.createDataFrame(
        s.sparkContext.parallelize(out.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3)), 1),
        stateSchema)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(stateDir)
  }

  /** Retention for the state-CHAIN sink — prune, NOT fold. The two sink
    * families have different day-2 ops and conflating them corrupts state:
    * an INDEX sink (DedupStream signatures, SemanticStream vectors) is
    * read by scanning ALL strictly-earlier partitions, so its maintenance
    * is [[SinkRetention.compactIndex]]'s content-preserving fold; this
    * sink is a CHAIN — batch b reads only the LATEST prior partition (the
    * fold state), every earlier partition is its audit trail — so folding
    * multiple batches' rows into one partition would jumble distinct fold
    * states into a single unreadable link. Maintenance here is
    * [[SinkRetention.prunePartitions]]: drop audit-trail links strictly
    * below the last committed batch; the latest link carries the entire
    * running sketch, so the resumed fold — and the Agarwal et al. merge
    * guarantee — is unchanged (spec-proven; catalog
    * `x_stream_hh_pruned` shares the `x_heavy_hitters` oracle). */
  def pruneState(s: SparkSession, stateDir: String, keepFrom: Long): Unit =
    SinkRetention.prunePartitions(s, stateDir, keepFrom)

  private val cmsStateSchema: StructType = StructType(Seq(
    StructField("row_i", IntegerType),
    StructField("bucket", LongType),
    StructField("cnt", LongType),
    StructField("batch_id", LongType)))

  /** Per-micro-batch CMS fold: sketch the batch into its (row, bucket,
    * count) cells via the caller's kernel, add them onto the latest prior
    * state, land as this batch's partition. Unlike the Misra-Gries fold
    * above, NO determinism scaffolding is needed — CMS merge is plain
    * counter addition, associative and commutative, so any merge order
    * (shuffle-fetch order included) lands the bit-identical partition and
    * replay idempotence is free. State is ≤ d·w rows per link regardless
    * of stream length; the same exactly-once batch_id-partitioned chain
    * contract as [[sketchBatch]] (read strictly earlier, overwrite own
    * partition). */
  def cmsBatch(cellsOf: DataFrame => DataFrame, stateDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val prior = s.read.schema(cmsStateSchema).parquet(stateDir)
      .filter(col("batch_id") < batchId)
    val latest = prior.groupBy().agg(max(col("batch_id")).as("b")).head()
    val prev =
      if (latest.isNullAt(0))
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(cmsStateSchema.dropRight(1)))
      else prior.filter(col("batch_id") === latest.getLong(0)).drop("batch_id")
    cellsOf(batch).unionByName(prev)
      .groupBy(col("row_i"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(stateDir)
  }

  /** Drain a staged document directory as a real file-source stream,
    * folding Count-Min cells forward; returns the final cell relation
    * (row_i, bucket, cnt). Counter addition is associative, so the result
    * equals the one-shot batch sketch for ANY slicing into micro-batches —
    * the catalog entry shares the batch oracle (`x_countmin`). */
  def runCountMin(s: SparkSession, stageDir: String, workDir: String,
      cellsOf: DataFrame => DataFrame): DataFrame = {
    val stateDir = s"$workDir/cms_state"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateDir))
    StreamTuning.runBounded(s, stageDir, docSchema, s"$workDir/ckpt")(
      _.writeStream.foreachBatch(cmsBatch(cellsOf, stateDir) _))
    val state = s.read.schema(cmsStateSchema).parquet(stateDir)
    val lastRow = state.agg(max(col("batch_id"))).head()
    if (lastRow.isNullAt(0))
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(cmsStateSchema.dropRight(1)))
    else state.filter(col("batch_id") === lastRow.getLong(0)).drop("batch_id")
  }

  /** Drain a staged document directory as a real file-source stream and
    * return (final candidate sketch, exact stream length). */
  def runHeavyHitters(s: SparkSession, stageDir: String, workDir: String,
      k: Int): (Map[String, Long], Long) = {
    val stateDir = s"$workDir/hh_state"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateDir))
    StreamTuning.runBounded(s, stageDir, docSchema, s"$workDir/ckpt")(
      _.writeStream.foreachBatch(sketchBatch(k, stateDir) _))
    val state = s.read.schema(stateSchema).parquet(stateDir)
    val lastRow = state.agg(max(col("batch_id"))).head()
    // zero micro-batches (empty corpus / no staged files) → empty sketch,
    // mirroring the batch operator's empty-corpus result
    if (lastRow.isNullAt(0)) (Map.empty[String, Long], 0L)
    else {
      val rows = state.filter(col("batch_id") === lastRow.getLong(0)).collect()
      (rows.filter(!_.isNullAt(0)).map(r => r.getString(0) -> r.getLong(1)).toMap,
        rows.find(_.isNullAt(0)).map(_.getLong(1)).getOrElse(0L))
    }
  }
}
