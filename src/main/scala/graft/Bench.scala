package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default to the machine's full parallelism, NOT a fixed small number:
    // the committed per-round quick bench used to run at local[4] while the
    // canonical full trio ran at local[32], and the same-HEAD artifacts
    // disagreed up to 5x on exactly the entries whose cost is many small
    // jobs (streaming lifecycles, multi-phase pipelines) — a config skew
    // masquerading as a regression. One default = comparable artifacts;
    // the env var remains the explicit override.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // The generated-class cache defaults to 100 entries; a 115-query
      // session evicts early compilations mid-run, re-paying multi-second
      // codegen for the widest aggregates (measured: x_dedup_cc 2.1 s warm
      // vs ~4.8 s after its simhash sketch class aged out). Any long-lived
      // multi-query driver wants this raised; static conf, so set here.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new org.apache.spark.sql.graftbridge.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen/scheduler/parquet-reader once so the first
    // measured query isn't charged for session startup.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // ...and the REAL hot paths: vectorized parquet scan of the big
    // tables, whole-stage-codegen'd join + aggregate + sort, and the
    // shuffle machinery. Without this the session's JIT/codegen ramp is
    // charged to whichever entries run first (sorted order: the chunker
    // DML family) — measured at sf0.1 as a 2.5-4x inflation of the first
    // ~15 entries on a cold-JIT day, while fresh-JVM warm reps of the
    // same entries beat their recorded numbers (TIMEONE r16:
    // dml_chunked_dedup 9.5 cold / 1.3 warm; q3_top_orders 5.1 / 1.5).
    locally {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("l_returnflag").agg(org.apache.spark.sql.functions.sum("l_quantity").as("q"))
        .orderBy("q").collect()
    }
    // ...and the embedded-RDBMS path (r18, measurement fix — same rationale
    // as the scan/join warmup above): Derby's engine boot plus the JDBC
    // writer/reader JIT otherwise bill the alphabetically-FIRST entries —
    // the single-shot dml_* family — as session cost (measured at sf0.1:
    // dml_chunked_dedup 13.3 s first-in-session vs 1.5 s warm isolated).
    // One tiny in-memory roundtrip (write, index, update, read, drop) moves
    // that one-time cost into the warmup where the scan/JIT ramp already
    // lives. Entries still pay their own Derby DATABASE creation — only the
    // per-JVM engine/classloading is hoisted. Wrapped in try/catch (r19,
    // ADVICE): this is a measurement aid — a Derby hiccup here must cost
    // one warm dml_* number, not abort the whole bench session.
    try {
      val wurl = "jdbc:derby:memory:graft_warmup;create=true"
      val props = new java.util.Properties
      spark.range(100).selectExpr("id", "id * 2 as v")
        .write.mode("overwrite").jdbc(wurl, "warmup_t", props)
      val c = java.sql.DriverManager.getConnection(wurl)
      try {
        val st = c.createStatement()
        try {
          st.executeUpdate("""CREATE INDEX warmup_t_id ON warmup_t ("id")""")
          st.executeUpdate("""UPDATE warmup_t SET "v" = "v" + 1 WHERE "id" BETWEEN 10 AND 20""")
        } finally st.close()
      } finally c.close()
      spark.read.jdbc(wurl, "warmup_t", props).count()
      try java.sql.DriverManager.getConnection("jdbc:derby:memory:graft_warmup;drop=true")
      catch { case _: java.sql.SQLException => () }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] Derby warmup failed (continuing): ${e.getMessage}")
    }
    val errors = scala.collection.mutable.LinkedHashSet.empty[String]
    // Batch entries whose cost rides a SHARED persisted relation (RelCache
    // families: dedup pair/label/ground-truth builds, the graph edge set,
    // sketch state). Under a 216-entry session's memory pressure those
    // blocks can be evicted and lineage-rebuilt mid-run, so WHICH entry
    // pays the multi-second rebuild is nondeterministic — same-HEAD
    // artifacts disagreed up to 7.6x on these names (x_split_leakage_safe,
    // x_heavy_hitters; r14). Report their MEDIAN of 3 like the stream
    // entries: reps 2-3 run against the re-persisted relation, so the
    // median is the entry's marginal (warm) cost — stable across runs.
    // Cold/build attribution is recorded separately in the TIMEONE_*
    // artifacts (fresh JVM per entry), not here.
    val warmupSensitive = Set(
      "x_dedup_minhash", "x_dedup_minhash_precision",
      "x_dedup_simhash", "x_dedup_simhash_precision",
      "x_dedup_cc", "x_dup_cluster_sizes", "x_dedup_soft_weights",
      "x_split_leakage_safe", "x_dedup_cross_source", "x_decontam_scrub",
      "x_jaccard_pairs", "x_containment_pairs",
      "x_heavy_hitters", "x_countmin",
      "x_graph_degree", "x_graph_knn_stats", "x_graph_pagerank",
      // The deep solver rides the same graph/ relations as the three graph
      // entries above — single-shot timing kept exactly the rebuild-
      // attribution noise the median was added to remove (r15 ADVICE).
      "x_graph_pagerank_deep", "x_graph_pagerank_converged",
      // Sorted-order NEIGHBORS of the graph family: they start under its
      // full persisted footprint (their own storage rows showed 33 RDDs /
      // 1.6 GB), and r16's canonical sf5 artifact moved x_hard_negatives
      // 2.5x with untouched code — the same footprint-interference class,
      // so they get the same median treatment (r16 verdict #1a).
      "x_hard_negatives", "x_hash_sample",
      // r17's sf5 artifact caught two more single-shot names paying a
      // session-interference slot with untouched code: x_bpe_apply read
      // 39.1 s in-bench vs 12.2 cold / 2.9 warm isolated (TIMEONE_sf5_r17),
      // x_boilerplate_scrub 17.7 vs 14.0 / 5.3 — same footprint class,
      // same median treatment (added AFTER the r17 artifacts shipped; the
      // committed r17 numbers carry their single-shot noise, adjudicated
      // by the TIMEONE rows).
      "x_bpe_apply", "x_boilerplate_scrub",
      // The multimodal families all ride RelCache'd mm/ relations (decoded
      // grids / frame hashes / pair sets). In the 220-entry session those
      // blocks are the evict-and-rebuild victims — WHICH family member pays
      // the multi-second (at sf5: multi-minute codec) rebuild is
      // nondeterministic, which is exactly the r15 unexplained-regression
      // cluster (x_dedup_video 3.0x, x_dedup_video_incremental 4.0x,
      // x_dedup_video_real 1.5x vs r14 with untouched code). Medians make
      // each entry report its stable warm marginal cost; the cold/codec
      // cost attribution lives in the TIMEONE artifacts (fresh JVM each).
      "x_dedup_image", "x_dedup_image_incremental", "x_dedup_image_precision",
      "x_image_real_roundtrip", "x_dedup_image_real",
      "x_dedup_image_real_incremental", "x_dedup_image_real_precision",
      "x_dedup_audio", "x_dedup_audio_incremental", "x_dedup_audio_precision",
      "x_audio_envelope",
      "x_dedup_video", "x_dedup_video_incremental", "x_dedup_video_precision",
      "x_video_real_roundtrip", "x_dedup_video_real",
      "x_dedup_video_real_incremental", "x_dedup_video_real_precision")
    // Per-entry storage accounting, recorded BEFORE each entry runs: how
    // many persisted RDDs the session holds and how many MB of block-
    // manager storage they occupy. This is the diagnosability instrument
    // for session-level interference: an entry that regresses while its
    // code is untouched can be attributed (or not) to the persisted
    // footprint it starts under, from the committed artifact alone.
    val storage = scala.collection.mutable.LinkedHashMap.empty[String, (Int, Long)]
    val spread = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    def storageNow(): (Int, Long) = {
      val sc = spark.sparkContext
      // RDD-only figure, matching the key's name: the previous max-remaining
      // computation also counted broadcast and other non-RDD storage blocks,
      // so a reader attributing the MB to persisted RDDs could misattribute
      // broadcast-heavy entries. Sum memSize AND diskSize: the families
      // persist MEMORY_AND_DISK, so under memory pressure blocks spill to
      // disk — a memory-only sum shows a SHRINKING footprint exactly when
      // interference is worst (r17 ADVICE).
      val rddMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1L << 20)
      (sc.getPersistentRDDs.size, rddMb)
    }
    // Per-entry GC attribution (r17 verdict #1: name the session-
    // interference mechanism instead of growing the median set): process-
    // cumulative GC time and GC count deltas across each entry, plus the
    // used-heap level the entry STARTED at. An interference spike whose
    // wall-clock delta is mostly GC-time delta is heap-pressure class; one
    // with flat GC but a large storage_rdds_mb is eviction/rebuild class.
    import scala.jdk.CollectionConverters._
    def gcNow(): (Long, Long) = {
      val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
    }
    def heapUsedMb(): Long =
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1L << 20)
    val gcStats = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long, Long)]
    // Diagnostic subset harness (r17 verdict #1): run only the entries whose
    // name matches the regex — lets an interference hypothesis be tested by
    // ablation (same session shape, one family removed) instead of argued
    // from a full session's artifact. Canonical artifacts never set this.
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => filter.forall(_.matches(name)) }
      .map { case (name, fn) =>
      // Checkpointed streaming entries (real micro-batch runs) have
      // inherently high run-to-run variance — same-HEAD artifacts have
      // disagreed 2× on them. Report the MEDIAN of 3 runs for those and
      // for the warmup-sensitive set above; other batch entries stay
      // single-shot (their variance is ambient drift, which bench_diff
      // normalizes out).
      val reps = if (name.contains("stream") || warmupSensitive(name)) 3 else 1
      storage(name) = storageNow()
      val (gcMs0, gcN0) = gcNow()
      val heap0 = heapUsedMb()
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        // A failed query must be VISIBLE in the artifact — a swallowed
        // failure looks like a fast query and silently flatters the total
        // (this hid seven event queries failing on an NTZ timestamp at the
        // scale-up data until a full Verify caught them).
        try { fn(spark, sfDir).count() }
        catch { case e: Throwable => errors += name; System.err.println(s"[bench] $name FAILED: ${e.getMessage}") }
        (System.nanoTime() - t0) / 1e9
      }.sorted
      // Rep spread for the median'd entries rides in the artifact: a
      // median can hide an unbounded spread (r16's x_stream_dedup_manifest
      // moved 1.56x between rounds WITH a median) — recording [min, max]
      // makes the entry's run-to-run variance auditable from the committed
      // record instead of needing a same-HEAD re-run to expose it.
      if (reps > 1) spread(name) = (times.head, times.last)
      val (gcMs1, gcN1) = gcNow()
      gcStats(name) = (gcMs1 - gcMs0, gcN1 - gcN0, heap0)
      if (sys.env.contains("SPARK_GRAFT_UNLOAD_STATESTORES"))
        org.apache.spark.sql.graftbridge.StreamStateResidue.unloadAll()
      name -> times(times.size / 2)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Full run config + per-entry storage state ride in the artifact so
    // any two committed bench JSONs are comparable (or visibly NOT
    // comparable) without reconstructing the session that produced them.
    val cfg = s"""{"cpus":$cpus,"max_heap_mb":${Runtime.getRuntime.maxMemory() / (1L << 20)},""" +
      s""""shuffle_partitions":$cpus,"entry_order":"sorted","median_reps":"streams+warmup-sensitive"}"""
    val st = storage.map { case (k, (n, mb)) => s"\"" + k + "\":[" + n + "," + mb + "]" }
      .mkString("{", ",", "}")
    // Locale-pinned formatting (r17 ADVICE): the f interpolator uses the
    // JVM default locale, so a comma-decimal locale would emit invalid
    // JSON here while every other number rides locale-safe toString.
    def f3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val sp = spread.map { case (k, (lo, hi)) => s"""\"$k\":[${f3(lo)},${f3(hi)}]""" }
      .mkString("{", ",", "}")
    // gc_heap_mb rides BEFORE rep_spread/queries so the per-entry numbers
    // stay inside the driver's 2000-char artifact tail window.
    val gh = gcStats.map { case (k, (ms, n, heap)) => s"\"" + k + "\":[" + ms + "," + n + "," + heap + "]" }
      .mkString("{", ",", "}")
    // TWO output lines (r19, restoring the driver parse contract — broken
    // since at least r10, every committed BENCH_rNN.json has parsed:null):
    //
    //  - the EXTENDED line keeps every diagnosability block this harness
    //    accumulated (config, per-entry storage/GC attribution, rep spread)
    //    at full float precision. It goes to the file mirrors and to stdout
    //    EARLY, behind the sentinel.
    //  - the CONTRACT line is exactly the driver's documented shape —
    //    {"metric","value","unit","queries","errors","sf"} — with seconds
    //    rounded to 1 ms so the line is as short as it can honestly be. It
    //    is printed LAST, after spark.stop(), so no Spark shutdown logging
    //    can interleave, and build.sbt now sets `Global / showSuccess :=
    //    false` so sbt appends NO "[success] Total time..." trailer after
    //    it: the contract JSON is the final line of the process's output,
    //    which is where the driver's parser looks for it (the r18 verdict
    //    diagnosed the trailer as exactly what the parse tripped on).
    val extended = s"""{"metric":"total","value":$total,"unit":"sec","config":$cfg,"storage_rdds_mb":$st,"gc_ms_n_heap0":$gh,"rep_spread":$sp,"queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    val qs3 = results.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val contract = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs3,"errors":$errs,"sf":"$sfDir"}"""
    // File mirrors: the env-provided path (pid-suffixed /tmp fallback so
    // concurrent runs don't clobber each other) AND bench_out.json in the
    // working directory the JVM was started in (`user.dir`, the repo root
    // under sbt) — both recoverable however badly a log pipeline mangles
    // stdout. Each is written to a pid-named temp file beside it and moved
    // over it atomically, so overlapping runs leave one whole file (the
    // last to finish), never a torn or interleaved one.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val pid = ProcessHandle.current().pid()
    for (out <- Seq(
        Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"/tmp/graft_bench_$pid.json")),
        Paths.get(System.getProperty("user.dir"), "bench_out.json")).map(_.toAbsolutePath)) {
      val tmp = out.resolveSibling(s".${out.getFileName}.$pid.tmp")
      try {
        Files.writeString(tmp, extended + "\n")
        Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      } catch { case _: Throwable => try Files.deleteIfExists(tmp) catch { case _: Throwable => () } }
    }
    println(s"GRAFT_BENCH_JSON\t$extended")
    // A failing stop must not cost the run its result line.
    try spark.stop()
    finally println(contract)
  }
}
