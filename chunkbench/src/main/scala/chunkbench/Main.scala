package chunkbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Per-process state shared by set-up, workloads and tracing. */
final class Ctx(val seed: Long, val work: File, val cores: Int, val traced: Boolean) {
  var spark: SparkSession = _
  var setupIndex = 0
  /** True while a traced repetition runs. */
  var tracing = false
  var codegenDelta = 0L
  /** Set only by the audit self-test. */
  var damage: Option[Damage] = None
  /** Maps listener milliseconds onto the nanoTime timeline. */
  val offsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def sc = Option(spark).map(_.sparkContext)

  def inputDir(name: String): File = new File(work, s"setup$setupIndex/$name")

  def repDir(rep: Int): File = new File(work, s"rep${setupIndex}_$rep")

  def startSpark(): Unit = {
    if (spark != null) spark.stop()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("chunkbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      // Spark's status store keeps 1 000 jobs, stages and SQL executions by
      // default, and starts evicting once full: with the default the later
      // repetitions of a run slow down when that starts. A long chunked job
      // runs with the store full, so a small store measures its steady state.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  /** The timed part of a repetition; spans are recorded only inside it. A
    * full GC first keeps the previous repetition's garbage out of it. */
  def timed[A](f: => A): (A, (Long, Long)) = {
    System.gc()
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Trace.on = tracing
    val t0 = System.nanoTime()
    val r = try Trace.span("job")(f) finally Trace.on = false
    val t1 = System.nanoTime()
    codegenDelta = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    (r, (t0, t1))
  }
}

/** Runs one workload: set-up (timed, several times), then repetitions for
  * the requested seconds, then prints one result line
  * `CHUNKBENCH_RESULT {json}`.
  *
  * Usage: chunkbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --work DIR [--spans FILE]
  */
object Main {
  val SetupReps = 3
  /** Untraced runs measure until they have this many processed chunks too,
    * so the p90 cycle has at least ten samples beyond it. 150 rather than
    * 100 gives adaptive_scan six repetitions instead of four, and so a
    * median that slow spells of a shared host move less. */
  val MinChunks = 150
  /** Hard cap on measuring, whatever the requested seconds. */
  val MaxMeasureS = 120.0

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = Workload(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work"))
    work.mkdirs()
    System.setProperty("derby.stream.error.file", new File(work, "derby.log").getPath)
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val ctx = new Ctx(seed, work, cores, trace)
    if (trace) TracingDriver.register()

    val setupS = (1 to SetupReps).map { k =>
      val t0 = System.nanoTime()
      Files.delete(new File(work, s"setup${k - 1}"))
      ctx.setupIndex = k
      if (w.usesSpark) ctx.startSpark()
      w.generate(ctx)
      w.run(ctx, 0, new Recorder(ctx.sc), warm = true)
      (System.nanoTime() - t0) / 1e9
    }

    val result = mutable.LinkedHashMap.empty[String, Any]
    val info = mutable.LinkedHashMap.empty[String, Any]
    val all = mutable.ArrayBuffer.empty[RepOutcome]
    if (!trace) {
      val reps = measure(w, ctx, seconds, MinChunks, minReps = 1)(_ => ())((_, _) => ())
      all ++= reps.map(_._1)
      val cycles = reps.flatMap(_._2.cycles)
      result ++= Seq(
        "setup_s" -> Stats.median(setupS),
        "rows_per_s" -> Stats.median(reps.map(r => r._1.rows / r._1.wallS)),
        "chunk_ms_p50" -> Stats.quantile(cycles, 0.5),
        "chunk_ms_p90" -> Stats.quantile(cycles, 0.9),
        "heap_retained_mb" -> heapRetainedMb())
      info ++= Seq("cycle_samples" -> cycles.size,
        "rep_rows_per_s" -> reps.map(r => r._1.rows / r._1.wallS),
        "rep_chunk_ms_p50" -> reps.map(r => Stats.median(r._2.cycles)))
    } else {
      // Traced and untraced repetitions alternate, so drift hits both alike;
      // their rates differ by the tracing overhead.
      val mainThread = Thread.currentThread.getId
      val listener = ctx.sc.map(_ => new JobListener(ctx.offsetNs, mainThread))
      val acc = new TraceAcc(w.parallelism, w.resumeState)
      val spans = mutable.ArrayBuffer.empty[Span]
      val reps = measure(w, ctx, seconds, 0, minReps = 2) { rep =>
        ctx.tracing = rep % 2 == 0
        if (ctx.tracing) for (sc <- ctx.sc; l <- listener) sc.addSparkListener(l)
      } { (o, rec) =>
        if (ctx.tracing) {
          val (jobs, tasks) = (for (sc <- ctx.sc; l <- listener) yield {
            org.apache.spark.ListenerDrain(sc)
            sc.removeSparkListener(l)
            l.drain()
          }).getOrElse((Vector.empty, Vector.empty))
          val s = (Trace.drain() ++ jobs).filter(x => x.end >= o.t0 && x.start <= o.t1)
          spans ++= s
          acc.add(o, rec, s, tasks.filter(t => t.endNs >= o.t0 && t.endNs <= o.t1), mainThread,
            ctx.codegenDelta)
        }
      }
      ctx.tracing = false
      all ++= reps.map(_._1)
      val (traced, plain) = reps.map(_._1).zipWithIndex.partition(_._2 % 2 == 1)
      val untracedRate = Stats.median(plain.map(r => r._1.rows / r._1.wallS))
      val tracedRate = Stats.median(traced.map(r => r._1.rows / r._1.wallS))
      result ++= acc.metrics
      result += "trace.overhead_share" -> (1 - tracedRate / untracedRate)
      info ++= Seq("rows_per_s_untraced" -> untracedRate, "rows_per_s_traced" -> tracedRate,
        "layers_ms_per_chunk" -> acc.layerTable)
      opts.get("spans").foreach(f => writeSpans(new File(f), spans.toSeq))
    }

    val problems = all.flatMap(_.problems)
    val attempted = all.map(_.attempts).sum
    val correct = problems.isEmpty
    val failed = if (correct) all.map(_.failed).sum else attempted
    info ++= Seq(
      "workload" -> w.name, "repetitions" -> all.size, "chunks_processed" -> all.map(_.processed).sum,
      "crashes_injected" -> all.map(_.crashes).sum, "failed_share" -> failed.toDouble / math.max(1, attempted),
      "problems" -> problems.take(20).toSeq,
      "stamp" -> mutable.LinkedHashMap[String, Any](
        "cores" -> cores, "shuffle_partitions" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jdk" -> System.getProperty("java.version"), "spark" -> org.apache.spark.SPARK_VERSION,
        "seed" -> seed))
    Option(ctx.spark).foreach(_.stop())
    println("CHUNKBENCH_RESULT " + Json(mutable.LinkedHashMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> result, "info" -> info)))
    if (!correct) sys.exit(1)
  }

  /** Repetitions until `seconds` of timed walks, `minChunks` processed
    * chunks and `minReps` repetitions, within the hard cap. `before` and
    * `after` run outside the timed part of each. */
  def measure(w: Workload, ctx: Ctx, seconds: Double, minChunks: Int, minReps: Int)(
      before: Int => Unit)(after: (RepOutcome, Recorder) => Unit): Vector[(RepOutcome, Recorder)] = {
    val out = Vector.newBuilder[(RepOutcome, Recorder)]
    val start = System.nanoTime()
    var spent = 0.0
    var chunks = 0
    var rep = 0
    do {
      rep += 1
      Trace.run = rep
      before(rep)
      val rec = new Recorder(ctx.sc)
      val o = w.run(ctx, rep, rec, warm = false)
      after(o, rec)
      out += ((o, rec))
      spent += o.wallS
      chunks += o.processed
    } while ((spent < seconds || chunks < minChunks || rep < minReps) &&
      (System.nanoTime() - start) / 1e9 < MaxMeasureS)
    out.result()
  }

  /** Least heap in use over a few full GCs, spaced so that background
    * threads (Derby's daemons, Spark's cleaner) can drop what they hold. */
  def heapRetainedMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ => Thread.sleep(50); mx.gc(); mx.getHeapMemoryUsage.getUsed / 1048576.0 }.min
  }

  private def writeSpans(f: File, spans: Seq[Span]): Unit = {
    Option(f.getParentFile).foreach(_.mkdirs())
    val pw = new java.io.PrintWriter(f, "UTF-8")
    try spans.sortBy(_.start).foreach { s =>
      pw.println(Json(mutable.LinkedHashMap("name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "thread" -> s.thread, "parent" -> s.parent, "run" -> s.run)))
    } finally pw.close()
  }
}

/** Per-layer totals over the traced repetitions of one run. */
final class TraceAcc(parallelism: Int, resumeState: Boolean) {
  private val self = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val count = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var wallNs, txnNs, cpuNs, runMs, gcMs, rowsRead, bytesRead, codegen = 0L
  private var reps, processed, skipped, attempts, outFiles, reconnects = 0
  private var rows = 0L
  private var restartMs = Vector.empty[Double]

  def add(o: RepOutcome, rec: Recorder, spans: Seq[Span], tasks: Seq[TaskRec], mainThread: Long,
      codegenDelta: Long): Unit = {
    Layers.split(spans, mainThread, parallelism, resumeState, o.t0, o.t1).foreach { case (l, ns) => self(l) += ns }
    spans.foreach(s => count(s.name) += 1)
    wallNs += o.t1 - o.t0
    txnNs += Layers.transactionNs(spans)
    reconnects += Layers.reconnects(spans, mainThread)
    tasks.foreach { t =>
      cpuNs += t.cpuNs; runMs += t.runMs; gcMs += t.gcMs; rowsRead += t.rows; bytesRead += t.bytes
    }
    codegen += codegenDelta
    reps += 1; processed += o.processed; skipped += o.skipped; attempts += o.attempts
    outFiles += o.outFiles; rows += o.rows
    restartMs ++= rec.restartMs
  }

  private def perChunk(x: Double): Double = x / math.max(1, processed)
  private def ms(layer: String): Double = self(layer) / 1e6
  private def n(names: String*): Long = names.map(count).sum

  def layerTable: mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap((Layers.Names.map(l => l -> perChunk(ms(l))) :+ ("wall" -> perChunk(wallNs / 1e6))): _*)

  def metrics: Seq[(String, Double)] = {
    val probes = n("spark.probe", "jdbc.probe")
    Seq(
      "range.ms" -> ms("range") / reps,
      "range.jobs" -> n("spark.range").toDouble / reps,
      "probe.jobs_per_chunk" -> perChunk(probes),
      "probe.ms_per_chunk" -> perChunk(ms("probe")),
      "probe.useful_ratio" -> (if (probes == 0) 0.0 else processed.toDouble / probes),
      "work.jobs_per_chunk" -> perChunk(n("spark.work")),
      "work.job_ms_per_chunk" -> perChunk(ms("work.job")),
      "work.driver_ms_per_chunk" -> perChunk(ms("work.driver")),
      "codegen.compiles_per_chunk" -> perChunk(codegen),
      "scan.rows_read_per_row" -> rowsRead.toDouble / rows,
      "scan.bytes_read_per_row" -> bytesRead.toDouble / rows,
      "task.cpu_share" -> (if (runMs == 0) 0.0 else cpuNs / 1e6 / runMs),
      "task.gc_ms_per_chunk" -> perChunk(gcMs),
      "commit.ms_per_chunk" -> perChunk(ms("commit")),
      "commit.fs_ops_per_chunk" -> perChunk(count.collect { case (k, v) if k.startsWith("commit.") => v }.sum),
      "out.files_per_chunk" -> perChunk(outFiles),
      "resume.ms_per_chunk" -> perChunk(ms("resume")),
      "restart.ms" -> (if (restartMs.isEmpty) 0.0 else restartMs.sum / restartMs.size),
      "engine.driver_ms_per_chunk" -> perChunk(ms("engine")),
      "engine.attempts_per_chunk" -> perChunk(attempts),
      "engine.chunks_processed" -> processed.toDouble / reps,
      "engine.chunks_skipped" -> skipped.toDouble / reps,
      "jdbc.update_ms_per_chunk" -> perChunk(ms("jdbc.update")),
      "jdbc.journal_ms_per_chunk" -> perChunk(ms("jdbc.journal")),
      "jdbc.commit_ms_per_chunk" -> perChunk(ms("jdbc.commit")),
      "jdbc.stmts_per_chunk" -> perChunk(n("jdbc.update", "jdbc.journal", "jdbc.range", "jdbc.probe", "jdbc.other")),
      "jdbc.reconnects" -> reconnects.toDouble / reps,
      "dispatch.occupancy" -> txnNs.toDouble / (wallNs.toDouble * parallelism),
      "self.jdbc_other_ms_per_chunk" -> perChunk(ms("jdbc.other")),
      "self.dispatch_ms_per_chunk" -> perChunk(ms("dispatch")),
      "self.other_ms_per_chunk" -> perChunk(ms("other")))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Seq[_]  => s.map(apply).mkString("[", ",", "]")
    case s: String  => quote(s)
    case d: Double  => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number  => n.toString
    case other      => quote(String.valueOf(other))
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}
