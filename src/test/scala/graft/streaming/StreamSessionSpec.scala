package graft.streaming

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** A bounded stream runs on a clone of the caller's session: the caller's
  * shuffle width never moves while a run is in progress, the stream still
  * records the backlog-derived width in its checkpoint, and the clone keeps
  * the caller's session extensions. Checked for one stateful runner
  * (sessionize) and one `foreachBatch` runner (the incremental dedup). */
class StreamSessionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = SparkTestSession.sfDir
  private val Width = "spark.sql.shuffle.partitions"

  /** Runs `body` while another thread samples the caller's shuffle width
    * every millisecond; returns the samples. */
  private def sampledDuring(body: => Unit): Seq[String] = {
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val poller = new Thread(() => while (!done.get) { samples.add(spark.conf.get(Width)); Thread.sleep(1) })
    poller.start()
    try body finally { done.set(true); poller.join() }
    samples.asScala.toSeq
  }

  /** The shuffle width recorded in the stream's first offset-log entry. */
  private def recordedWidth(work: String): String = {
    val log = Files.readAllLines(Paths.get(s"$work/ckpt/offsets/0")).asScala.mkString("\n")
    "\"spark\\.sql\\.shuffle\\.partitions\":\"(\\d+)\"".r.findFirstMatchIn(log).get.group(1)
  }

  private def assertIsolated(work: String)(run: => Unit): Unit = {
    assert(spark.conf.get(Width) == "4")
    val samples = sampledDuring(run)
    assert(samples.size > 10, s"only ${samples.size} samples")
    assert(samples.forall(_ == "4"), s"the caller's width moved: ${samples.distinct}")
    assert(spark.conf.get(Width) == "4")
    val sized = StreamTuning.partitionsFor(spark, s"$work/stage").toString
    assert(sized != "4", "the fixture cannot tell the two widths apart")
    assert(recordedWidth(work) == sized)
  }

  test("sessionize runs on a cloned session: the caller's width holds, the stream records the sized width") {
    val work = Files.createTempDirectory("stream_session_sessionize").toString
    assertIsolated(work) {
      EventStream.runSessionizeFileStream(spark, graft.ops.Tables.events(spark, d), work)
    }
  }

  test("the incremental dedup runs on a cloned session: the caller's width holds, the stream records the sized width") {
    val work = Files.createTempDirectory("stream_session_dedup").toString
    val docs = graft.ops.Tables.documents(spark, d).select(col("doc_id"), col("text"))
    Seq(col("doc_id") % 2 === 0, col("doc_id") % 2 === 1).foreach { p =>
      docs.filter(p).coalesce(1).write.mode("append").parquet(s"$work/stage")
    }
    assertIsolated(work)(DedupStream.runIncremental(spark, s"$work/stage", work))
  }

  test("a session-extension function resolves on the run's clone, in a sink query and in a foreachBatch body") {
    import spark.implicits._
    val work = Files.createTempDirectory("stream_session_ext").toString
    Seq("a b c", "d e").toDF("text").coalesce(1).write.parquet(s"$work/stage")
    val schema = spark.read.parquet(s"$work/stage").schema
    StreamTuning.runBounded(spark, s"$work/stage", schema, s"$work/ckpt")(
      _.selectExpr("graft_token_count(text) AS n").writeStream.format("parquet").option("path", s"$work/out"))
    assert(spark.read.parquet(s"$work/out").as[Int].collect().sorted.toSeq == Seq(2, 3))

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    StreamTuning.runBounded(spark, s"$work/stage", schema, s"$work/ckpt_fb")(
      _.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        seen.add((s.sql("SELECT graft_token_count('x y z w')").head().getInt(0), s.conf.get(Width)))
        ()
      })
    assert(seen.asScala.toSeq == Seq((4, StreamTuning.partitionsFor(spark, s"$work/stage").toString)))
    assert(spark.conf.get(Width) == "4")
  }
}
