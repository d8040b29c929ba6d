package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Shared maintenance ops for the batch_id-partitioned streaming sinks —
  * the day-2 face of the exactly-once sink contract, factored out of
  * [[DedupStream]] so every sink family (lexical signature index, semantic
  * vector index, sketch state) runs the SAME fold instead of a per-family
  * re-implementation. The contract, restated from DedupStream.compactIndex
  * where it was first proven (spec DedupStreamSpec, catalog
  * `x_stream_dedup_compacted`; the semantic twin is SemanticStreamSpec /
  * `x_stream_semantic_compacted`; the crash windows are exhaustively
  * injected in SinkRetentionSpec):
  *
  *   - CONTENT UNCHANGED: compaction folds every partition with
  *     `batch_id <= watermark` into THE single partition
  *     `batch_id = watermark`. The payload rows are untouched, so the
  *     strictly-earlier probe predicate `batch_id < b` of any future batch
  *     `b > watermark` reads exactly the same rows and the parity theorem
  *     is preserved across the fold.
  *   - MAINTENANCE WINDOW: must run with the stream stopped and
  *     `watermark <=` the last COMMITTED batch id — Structured Streaming
  *     only ever replays the in-flight batch, whose id is strictly greater
  *     than every committed one, so a replay never overwrites or re-probes
  *     a compacted partition.
  *   - CRASH SAFETY, stage-then-publish with ONE atomic rename: (1) the
  *     fold is staged next to the sink; Spark's own `_SUCCESS` marker
  *     gates stage completeness — a crash mid-stage leaves the live sink
  *     untouched and the next run rebuilds the stage from it; (2) only
  *     after the marker exists are the folded partitions dropped, and the
  *     publish is a SINGLE directory rename of the whole stage onto
  *     `batch_id=<watermark>` (the marker rides along inside the
  *     partition; parquet readers ignore underscore-prefixed files).
  *     A re-run with the same watermark recovers EVERY crash point:
  *       - mid-stage (no marker): the stage is rebuilt; the sink was
  *         never touched.
  *       - mid-drop (marker present, some folded partitions already
  *         deleted): re-staging is SKIPPED — essential, because the sink
  *         is now partial while the completed stage still holds every
  *         folded row — the remaining drops run and the rename publishes.
  *       - post-drop / pre-rename: drops no-op, the rename publishes.
  *       - post-rename: the stage (and its marker) moved away with the
  *         publish, so a re-run re-stages from the already-folded index
  *         and re-publishes the identical content — idempotent.
  *     There is deliberately NO per-file move phase: the earlier
  *     file-at-a-time swap had an unrecoverable window (a crash between
  *     two moves left rows that existed in neither the stage nor the
  *     target once the re-run's drop loop re-cleared the target).
  *     The rename is atomic on POSIX filesystems and HDFS; object stores
  *     without atomic directory rename (S3) use the MANIFEST-POINTER
  *     publish instead — [[compactIndexManifest]] + [[readLive]], whose
  *     commit is one small file creation and whose maintenance path
  *     performs no renames at all (crash matrix proven under a
  *     rename-refusing FS shim in SinkRetentionSpec).
  *   - REWRITE AMPLIFICATION: one fold rewrites every `<= watermark` byte
  *     once. Folding every maintenance window therefore rewrites the
  *     whole index per window — quadratic in sink lifetime. Use
  *     [[compactIndexIfNeeded]] with threshold K: the fold runs only when
  *     at least K partitions are foldable, so each index byte is
  *     rewritten once per K windows (amortized bytes/window ≈ |index|/K)
  *     while the partition count — what probe-side file listing and
  *     partition pruning actually pay for — stays bounded by
  *     K + in-flight batches. K ≈ sqrt(|index| / |window delta|)
  *     balances rewrite amortization against listing cost.
  */
object SinkRetention {

  /** Fold every `batch_id <= watermark` partition of a batch_id-partitioned
    * parquet sink into the single `batch_id = watermark` partition.
    * `readSchema` is the sink's full schema INCLUDING batch_id;
    * `payloadCols` the data columns to carry (everything but batch_id). */
  def compactIndex(s: SparkSession, indexDir: String, watermark: Long,
      readSchema: StructType, payloadCols: Seq[String]): Unit =
    compactIndexImpl(s, indexDir, watermark, readSchema, payloadCols, _ => ())

  /** Threshold-gated fold (see REWRITE AMPLIFICATION above): compact only
    * when at least `minFolded` partitions satisfy `batch_id <= watermark`,
    * otherwise leave the sink untouched. Returns whether a fold ran, so a
    * maintenance driver can log/observe its amortization schedule. */
  def compactIndexIfNeeded(s: SparkSession, indexDir: String, watermark: Long,
      readSchema: StructType, payloadCols: Seq[String], minFolded: Int): Boolean = {
    val (fs, index) = resolve(s, indexDir)
    val foldable = partitionsAtOrBelow(fs, index, watermark).size
    val run = foldable >= minFolded
    if (run) compactIndex(s, indexDir, watermark, readSchema, payloadCols)
    run
  }

  /** The fold with a phase hook between its crash-relevant steps — the
    * spec seam SinkRetentionSpec uses to inject a crash at every window
    * and prove the re-run contract. `onPhase` receives, in order:
    * "staged", then "dropped:batch_id=<id>" after EACH partition delete,
    * then "dropped-all", then "published". Production path passes a no-op. */
  private[streaming] def compactIndexImpl(s: SparkSession, indexDir: String,
      watermark: Long, readSchema: StructType, payloadCols: Seq[String],
      onPhase: String => Unit): Unit = {
    val (fs, index) = resolve(s, indexDir)
    val stage = new Path(s"${indexDir}_compact_stage")
    val marker = new Path(stage, "_SUCCESS")

    if (!fs.exists(marker)) {
      // partial stage from a crashed run: rebuild from the (still intact)
      // live sink. A marker-less stage can only coexist with a complete
      // sink — drops start strictly after the marker exists.
      if (fs.exists(stage)) fs.delete(stage, true)
      s.read.schema(readSchema).parquet(indexDir)
        .filter(col("batch_id") <= watermark)
        .select(payloadCols.map(col): _*)
        .write.mode("overwrite").parquet(stage.toString)
      require(fs.exists(marker), s"staged compaction missing _SUCCESS under $stage")
    }
    onPhase("staged")
    // Drop every folded partition (the watermark partition included — the
    // publish rename needs a free target). Safe at any crash point in this
    // loop: the complete, marker-gated stage still holds every folded row,
    // and a re-run skips straight here.
    partitionsAtOrBelow(fs, index, watermark).foreach { p =>
      fs.delete(p, true)
      onPhase(s"dropped:${p.getName}")
    }
    onPhase("dropped-all")
    // Publish: ONE atomic rename of the whole stage onto the watermark
    // partition. The _SUCCESS marker moves inside it (ignored by readers)
    // and with it the "stage is complete" signal — exactly right, because
    // after this instant a re-run must re-stage, not reuse.
    val target = new Path(index, s"batch_id=$watermark")
    require(!fs.exists(target), s"publish target $target still exists after the drop phase")
    require(fs.rename(stage, target), s"atomic publish rename $stage -> $target failed")
    onPhase("published")
  }

  // ---- Manifest-pointer commit: the object-store-safe publish -------------
  //
  // The stage-then-rename publish above is correct on POSIX and HDFS but
  // depends on an ATOMIC DIRECTORY RENAME — the one primitive S3-class
  // object stores do not have. This protocol removes the dependency the way
  // transactional table formats do (Iceberg's version-hint file, Delta's
  // log): the fold is staged into a WRITE-ONCE generation directory that is
  // never renamed, and the commit is the creation of ONE small versioned
  // manifest file. The only FS operations the maintenance path performs are
  // create-new-file, list, exists, delete, mkdirs — NO rename of any kind
  // (proven by running the full crash matrix under a rename-refusing
  // FileSystem shim in SinkRetentionSpec). On S3 a single PUT is atomic
  // (readers see the old or the new object, never a prefix); on POSIX/HDFS
  // a crash mid-create can leave a PREFIX of the file, which is why a
  // manifest is only trusted when it parses completely and ends with the
  // #END terminator — a torn manifest is ignored and resolution falls back
  // to the previous version. (The staged parquet write itself goes through
  // Spark's committer — deployments on object stores pair this with their
  // cloud-safe committer, which is the standard, orthogonal concern.)
  //
  // Layout under the sink root:
  //   batch_id=N/         live stream partitions (N > watermark after GC)
  //   _fold_w<W>_g<G>/    fold generations (underscore-prefixed: invisible
  //                       to plain parquet readers and partition discovery)
  //   _MANIFEST-<V>/      versioned commit files (same invisibility)
  //
  // Resolution rule ([[readLive]]): with a manifest {watermark W, fold F},
  // the live content is F (as batch_id = W) ∪ physical partitions with
  // batch_id > W. Physical dirs ≤ W are EXCLUDED — they are either already
  // folded (pre-GC leftovers) or impossible (committed batch ids only grow).
  // Without a manifest the sink is a plain partitioned directory and
  // readLive is byte-identical to the plain read. The streaming writers
  // never change: they keep appending plain batch_id=N partitions, which the
  // rule picks up because committed ids are strictly greater than any folded
  // watermark.
  //
  // Crash recovery (re-run compactIndexManifest with the same watermark):
  //   - mid-stage (no _SUCCESS in the max generation): stage rebuilt from
  //     the untouched live set; sink and manifest never touched.
  //   - staged, pre-commit: the completed generation is REUSED (its content
  //     is a deterministic function of the live set, which is unchanged
  //     because the manifest is unchanged).
  //   - torn manifest write: the partial file fails #END validation, is
  //     ignored by resolution, and is swept by GC; re-run commits the next
  //     version.
  //   - post-commit, mid-GC: resolution already serves the new fold; the
  //     re-run takes the idempotent GC-only path (folded physical dirs,
  //     superseded folds, stale manifests, torn files).

  private val ManifestPrefix = "_MANIFEST-"
  private val ManifestHeader = "graft-sink-manifest v1"
  private val ManifestEnd = "#END"

  private[streaming] final case class Manifest(version: Long, watermark: Long, foldDir: String)

  private def manifestVersionOf(p: Path): Option[Long] = {
    val n = p.getName
    if (!n.startsWith(ManifestPrefix)) None
    else n.drop(ManifestPrefix.length).toLongOption
  }

  /** Resolution cache: parsed manifests keyed by sink root, validated per
    * call against the LISTED manifest file (name, length) set. Every
    * resolution still pays exactly one LIST (freshness: a concurrent commit
    * must be seen), but the GET + parse of the manifest file runs only when
    * that set changes — steady-state probes (one resolution per micro-batch
    * per query) pay one LIST, zero GETs. Correct for torn files too: a torn
    * write changes the name set (new version) or the length (truncated
    * rewrite), forcing the one re-parse that rejects it. Entries are a few
    * hundred bytes; the cap only guards a pathological many-sink process.
    *
    * Keyed by FILESYSTEM IDENTITY + root, not the path string alone: a
    * parse performed through one FileSystem (e.g. a counting/fault shim in
    * the specs, passed via fsOverride) must never be served to a resolution
    * running through another fs for the same path string — two fs instances
    * may present diverging views of "the same" store. The default
    * `FileSystem.get` returns a process-cached instance per (scheme,
    * authority), so production resolutions still share one entry. */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[(String, Long)], Option[Manifest])]()
  private val ManifestCacheMax = 256

  /** Per-instance fs ids: `System.identityHashCode` is NOT unique (two live
    * instances can collide, and a collision serves one fs the other's
    * cached parse — the exact cross-instance staleness the key exists to
    * prevent). A WeakHashMap issuing monotonically increasing ids makes
    * identity guaranteed-unique for the instance's lifetime, and a dead
    * instance's id can never be re-issued, so its stale cache entries can
    * never be served again (they age out via the size-cap clear). */
  private val fsIds = new java.util.WeakHashMap[FileSystem, java.lang.Long]()
  private val fsIdNext = new java.util.concurrent.atomic.AtomicLong(0L)

  private def manifestCacheKey(fs: FileSystem, root: Path): String = {
    val id = fsIds.synchronized {
      val cur = fsIds.get(fs)
      if (cur != null) cur.longValue()
      else { val fresh = fsIdNext.incrementAndGet(); fsIds.put(fs, fresh); fresh }
    }
    id.toString + "@" + root.toString
  }

  /** Highest-version manifest that parses COMPLETELY (torn writes fail the
    * #END check and fall through to the previous version). */
  private[streaming] def currentManifest(fs: FileSystem, root: Path): Option[Manifest] = {
    val statuses =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toIndexedSeq.sortBy(_.getPath.getName)
    val candidates = statuses
      .flatMap(st => manifestVersionOf(st.getPath).map(v => (v, st)))
      .sortBy(-_._1)
    val token = candidates.map(c => (c._2.getPath.getName, c._2.getLen))
    val key = manifestCacheKey(fs, root)
    val cached = manifestCache.get(key)
    if (cached != null && cached._1 == token) cached._2
    else {
      val m = candidates.iterator
        .flatMap { case (v, st) =>
          parseManifest(fs, st.getPath).map { case (w, f) => Manifest(v, w, f) } }
        .nextOption()
      if (manifestCache.size >= ManifestCacheMax) manifestCache.clear()
      manifestCache.put(key, (token, m))
      m
    }
  }

  private def parseManifest(fs: FileSystem, p: Path): Option[(Long, String)] = {
    val bytes =
      try {
        val in = fs.open(p)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](8192)
          var n = in.read(tmp)
          while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
          buf.toString("UTF-8")
        } finally in.close()
      } catch { case _: java.io.IOException => return None }
    val lines = bytes.split("\n", -1).toSeq.map(_.trim).filter(_.nonEmpty)
    for {
      _ <- Option.when(lines.headOption.contains(ManifestHeader))(())
      _ <- Option.when(lines.lastOption.contains(ManifestEnd))(())
      w <- lines.collectFirst { case l if l.startsWith("watermark=") =>
        l.drop("watermark=".length) }.flatMap(_.toLongOption)
      f <- lines.collectFirst { case l if l.startsWith("fold=") => l.drop("fold=".length) }
    } yield (w, f)
  }

  /** Commit = create ONE new file at the next version. Never overwrites,
    * never renames; a torn write is self-invalidating (no #END). */
  private def commitManifest(fs: FileSystem, root: Path, version: Long,
      watermark: Long, foldDir: String): Unit = {
    val p = new Path(root, f"$ManifestPrefix$version%09d")
    // A file can only pre-exist at this version if a previous commit TORE
    // mid-write (a complete one would have resolved as current and bumped
    // the version) — sweep it; the gap where neither exists is safe because
    // resolution falls back to the previous version.
    if (fs.exists(p)) fs.delete(p, false)
    val out = fs.create(p, false)
    try out.write(
      s"$ManifestHeader\nwatermark=$watermark\nfold=$foldDir\n$ManifestEnd\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** The live content of a (possibly manifest-committed) batch_id sink:
    * plain partitioned read when no manifest exists — byte-identical plan
    * to `spark.read.schema(readSchema).parquet(dir)` — else the fold
    * generation (as `batch_id = watermark`) unioned with the physical
    * partitions strictly above the watermark. This is the READ SEAM every
    * probe of a manifest-managed sink must go through: plain readers skip
    * underscore-prefixed fold dirs and would silently miss the folded rows.
    * The fold is read through a glob of its data files, whose names are not
    * hidden (`[^_.]*`): handed the underscore directory itself, Spark reads
    * it correctly but logs "All paths were ignored" on every probe. */
  def readLive(s: SparkSession, dir: String, readSchema: StructType): DataFrame =
    readLiveImpl(s, dir, readSchema, None)

  private[streaming] def readLiveImpl(s: SparkSession, dir: String,
      readSchema: StructType, fsOverride: Option[FileSystem]): DataFrame = {
    val (fs0, root) = resolve(s, dir)
    val fs = fsOverride.getOrElse(fs0)
    currentManifest(fs, root) match {
      case None => s.read.schema(readSchema).parquet(dir)
      case Some(m) =>
        val payload = StructType(readSchema.filterNot(_.name == "batch_id"))
        val folded = s.read.schema(payload).parquet(new Path(new Path(root, m.foldDir), "[^_.]*").toString)
          .withColumn("batch_id", lit(m.watermark))
          .select(readSchema.fieldNames.map(col).toIndexedSeq: _*)
        s.read.schema(readSchema).parquet(dir)
          .filter(col("batch_id") > m.watermark) // partition-pruned: pre-GC leftovers excluded
          .unionByName(folded)
    }
  }

  /** The manifest-pointer fold: same content contract as [[compactIndex]]
    * (every `batch_id <= watermark` row moves into the single logical
    * partition `batch_id = watermark`, payload untouched, parity theorem
    * preserved), same maintenance-window rule, but the publish is an
    * atomic single-file manifest commit instead of a directory rename —
    * safe on object stores. Readers MUST resolve through [[readLive]]. */
  def compactIndexManifest(s: SparkSession, indexDir: String, watermark: Long,
      readSchema: StructType, payloadCols: Seq[String]): Unit =
    compactIndexManifestImpl(s, indexDir, watermark, readSchema, payloadCols, _ => (), None)

  /** [[compactIndexManifest]] with the spec seams: `onPhase` receives, in
    * order, "staged", "published", "gc:<name>" per swept path, "gc-done"
    * (the no-op/GC-only re-run path emits the same sequence); `fsOverride`
    * lets SinkRetentionSpec route every protocol FS call through a
    * rename-refusing shim. */
  private[streaming] def compactIndexManifestImpl(s: SparkSession, indexDir: String,
      watermark: Long, readSchema: StructType, payloadCols: Seq[String],
      onPhase: String => Unit, fsOverride: Option[FileSystem]): Unit = {
    val (fs0, root) = resolve(s, indexDir)
    val fs = fsOverride.getOrElse(fs0)
    val cur = currentManifest(fs, root)
    cur.foreach(m => require(m.watermark <= watermark,
      s"watermarks are monotone: committed ${m.watermark}, asked $watermark"))

    if (cur.exists(_.watermark == watermark)) {
      // Idempotent re-run after a successful commit (including a crash
      // mid-GC): the fold is live; only the sweep remains.
      onPhase("staged"); onPhase("published")
      gc(fs, root, cur.get, onPhase)
      onPhase("gc-done")
      return
    }

    // Stage generation: reuse a completed uncommitted stage (marker present,
    // not the live fold — content is deterministic while the manifest is
    // unchanged); rebuild a crashed one; else open the next generation.
    val gens = listDir(fs, root)
      .filter(_.getName.startsWith(s"_fold_w${watermark}_g"))
      .flatMap(p => p.getName.split("_g").lastOption.flatMap(_.toLongOption).map((_, p)))
      .sortBy(-_._1)
    val stage = gens.headOption match {
      case Some((_, p)) if fs.exists(new Path(p, "_SUCCESS")) => p
      case Some((g, p)) => fs.delete(p, true); new Path(root, s"_fold_w${watermark}_g$g")
      case None => new Path(root, s"_fold_w${watermark}_g1")
    }
    if (!fs.exists(new Path(stage, "_SUCCESS"))) {
      readLiveImpl(s, indexDir, readSchema, Some(fs))
        .filter(col("batch_id") <= watermark)
        .select(payloadCols.map(col): _*)
        .write.mode("overwrite").parquet(stage.toString)
      require(fs.exists(new Path(stage, "_SUCCESS")),
        s"staged compaction missing _SUCCESS under $stage")
    }
    onPhase("staged")

    val next = Manifest(cur.map(_.version + 1).getOrElse(1L), watermark, stage.getName)
    commitManifest(fs, root, next.version, next.watermark, next.foldDir)
    onPhase("published")

    gc(fs, root, next, onPhase)
    onPhase("gc-done")
  }

  /** Sweep everything the manifest no longer references: folded physical
    * partitions, superseded fold generations, ALL manifests older than the
    * live version, torn manifest files. Every delete is individually
    * idempotent — a crash anywhere in the sweep re-runs harmlessly.
    *
    * Why older manifests go too (not keep version V−1 as a "fallback"):
    * GC necessarily deletes V−1's fold generation (it is superseded), so a
    * retained V−1 manifest could never be RESOLVED — its fold path is gone
    * — and resolution can in fact never reach it: gc only runs after
    * [[commitManifest]] for V returned, so V is complete on disk, and a
    * torn manifest only ever exists at a version GREATER than the last
    * complete one (tears happen mid-create of a NEW version; #END
    * validation rejects them and resolution falls back to V, never past
    * it). Keeping an unserviceable pointer would only invite a reader of
    * the layout to trust it. Spec-pinned: exactly one manifest file
    * survives each window, and a torn V+1 prefix still resolves to V with
    * a readable fold. */
  private def gc(fs: FileSystem, root: Path, live: Manifest,
      onPhase: String => Unit): Unit =
    listDir(fs, root).foreach { p =>
      val n = p.getName
      val sweep =
        batchIdOf(p).exists(_ <= live.watermark) ||
        (n.startsWith("_fold_") && n != live.foldDir) ||
        manifestVersionOf(p).exists(_ < live.version) ||
        (n.startsWith(ManifestPrefix) && manifestVersionOf(p).isEmpty)
      if (sweep) { fs.delete(p, true); onPhase(s"gc:$n") }
    }

  /** Retention for a result sink: drop every partition with
    * `batch_id < keepFrom`. Results are consumed downstream as each batch
    * lands, so retention is a plain partition drop, not a fold; nothing
    * later reads them back (probes read the index, never the result sink). */
  def prunePartitions(s: SparkSession, dir: String, keepFrom: Long): Unit = {
    val (fs, root) = resolve(s, dir)
    listDir(fs, root).foreach { p =>
      batchIdOf(p).filter(_ < keepFrom).foreach(_ => fs.delete(p, true))
    }
  }

  private def resolve(s: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  private def batchIdOf(p: Path): Option[Long] = {
    val n = p.getName
    if (n.startsWith("batch_id=")) Some(n.drop("batch_id=".length).toLong) else None
  }

  private def partitionsAtOrBelow(fs: FileSystem, index: Path, watermark: Long): Seq[Path] =
    listDir(fs, index).filter(p => batchIdOf(p).exists(_ <= watermark))

  private def listDir(fs: FileSystem, p: Path): Seq[Path] =
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq.map(_.getPath).sortBy(_.getName)
}
