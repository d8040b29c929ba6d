package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** The BOUNDED stream runner and its shuffle-partition sizing (r18).
  *
  * A stateful streaming query locks its shuffle-partition count into the
  * checkpoint at the first trigger, and AQE is disabled for stateful
  * workloads — so the ONE chance to size the per-batch state-store count is
  * before the run starts. The runners used to pin the constant 8 ("demo
  * sized"); that is 4x oversized for the gate-scale backlogs (every extra
  * partition is an extra state-store provider: load + commit + delta file
  * per micro-batch — measured as taskRun >> executorCpuTime on the join
  * parity entry, i.e. tasks waiting on state-store I/O, 12 s → ~5 s at
  * sf0.1 when right-sized) and 25x UNDERSIZED for a 100 TB deployment.
  *
  * The rule derives the count from the staged backlog's bytes — the same
  * scale-adaptivity AQE would provide for a batch shuffle (guide §2):
  * one partition per `targetBytes` of backlog, floor 2 (never
  * single-partition state: two partitions keep the multi-partition
  * state-store code paths honestly exercised at every scale), cap 200
  * (sized to the sandbox; a cluster deployment raises the cap with its
  * executor count — the knob a production caller sets is still ONE number,
  * but it now scales with data instead of being right only at one scale).
  *
  * The width lives on a per-run clone of the caller's session
  * ([[runBounded]]), never on the caller's session itself: a query that
  * another thread plans on the caller's session during a run keeps the
  * caller's width. Streams need a session-conf route at all because the
  * width locks into the checkpoint before the first trigger — there is no
  * per-plan repartition seam — unlike batch paths, which thread widths
  * through explicit repartition calls.
  */
object StreamTuning {
  /** Partition count for a bounded run whose backlog was staged under
    * `stageDir`. 32 MB of backlog per state partition: comfortably more
    * state per partition than these demo streams carry (their state is a
    * small fraction of input bytes) while keeping the per-batch
    * state-store commit count proportional to data. */
  def partitionsFor(s: SparkSession, stageDir: String,
      targetBytes: Long = 32L << 20): Int = {
    val p = new org.apache.hadoop.fs.Path(stageDir)
    val bytes =
      try {
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
      } catch { case _: java.io.IOException => 0L }
    val n = math.ceil(bytes.toDouble / targetBytes).toInt
    math.max(2, math.min(200, n))
  }

  /** Drain the parquet files staged under `stageDir` as one bounded stream:
    * clone `s`, size the clone's shuffle width with [[partitionsFor]], read
    * the stage on the clone one file per micro-batch, let `query` turn that
    * source into a sink, then run it with `Trigger.AvailableNow` to the end
    * of the backlog.
    *
    * The width reaches everything the run plans: the stream's own session
    * is cloned from the source's session at start (and its width recorded
    * in the checkpoint), and `foreachBatch` bodies plan on
    * `batch.sparkSession`. The stateLESS runners need it too — their
    * per-micro-batch jobs (signature aggregates, probe joins, sketch folds)
    * at the caller's 32-way width cost ~0.3 s of scheduling each across the
    * 30-50 jobs of a lifecycle entry.
    *
    * A query that ran stateful operators leaves its per-(operator,
    * partition) state providers LOADED in the JVM-global registry — recent
    * version maps on heap, visited by the periodic maintenance thread —
    * until coordinator-driven maintenance notices the deactivation. In a
    * long-lived driver running bounded streams between batch work that
    * residue is a measured 2-3x tax on later queries (r18 sf5 ablation:
    * eight finished parity runs inflated x_ann_beam 17.9 s → 49.0 s;
    * unloading recovered it to its cold-IO band — SURVEY §8.5), so such a
    * run unloads them. Unloading is always safe: a provider re-loads from
    * its checkpoint on next use. */
  private[streaming] def runBounded(s: SparkSession, stageDir: String, schema: StructType,
      checkpoint: String)(query: DataFrame => DataStreamWriter[_]): Unit = {
    val run = org.apache.spark.sql.graftbridge.cloneSession(s)
    run.conf.set("spark.sql.shuffle.partitions", partitionsFor(s, stageDir).toLong)
    val q = query(run.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stageDir))
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    if (q.recentProgress.exists(_.stateOperators.nonEmpty))
      org.apache.spark.sql.graftbridge.StreamStateResidue.unloadAll()
  }
}
