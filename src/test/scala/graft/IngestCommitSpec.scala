package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global
import scala.jdk.CollectionConverters._

import graft.operators.DedupQueries
import graft.streaming.IngestPipeline
import graft.streaming.IngestPipeline.IngestStages
import org.apache.spark.sql.functions._

/** Ingest's commit windows: every per-batch artifact, pin and takedown
  * sequence is published whole by [[Commit.publish]], so a replay leaves
  * committed files alone, a failed write leaves nothing a later reader
  * counts, and racing pins agree on one value. */
class IngestCommitSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
  private def evalW = DedupQueries.evalWindowHashes(docs.filter(col("doc_id") % 97 === 0))
  private def batchOf(lo: Long, hi: Long) =
    docs.filter(col("doc_id") % 97 =!= 0 && col("doc_id") > lo && col("doc_id") <= hi)

  /** Every file under `dir` with its modification time. */
  private def files(dir: Path): Map[String, Long] = {
    val w = Files.walk(dir)
    try w.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis).toMap
    finally w.close()
  }

  test("a replayed committed batch leaves its manifest, digests and spans untouched") {
    val base = Files.createTempDirectory("graft_ingest_replay").toString
    val stages = IngestStages(spanGrain = true)
    val (b0, b1) = (batchOf(0L, 40L), batchOf(40L, 60L))
    IngestPipeline.processBatch(spark, b0, 0L, evalW, Long.MaxValue, base, stages = stages)
    IngestPipeline.processBatch(spark, b1, 1L, evalW, Long.MaxValue, base, stages = stages)
    val dirs = Seq("manifest", "digests", "spans").map(d => Paths.get(base, d, "batch=1"))
    val before = dirs.map(files)
    assert(before.forall(_.keys.exists(_.endsWith(".parquet"))), before)
    val manifest = IngestPipeline.manifestOf(spark, base).collect().toSeq
    // keep a rewrite from landing inside the same millisecond
    Thread.sleep(20)
    IngestPipeline.processBatch(spark, b1, 1L, evalW, Long.MaxValue, base, stages = stages)
    assert(dirs.map(files) === before,
      "a replay must leave the committed artifacts' files and times as they were")
    assert(IngestPipeline.manifestOf(spark, base).collect().toSeq === manifest)
  }

  test("a takedown whose deleted frame fails leaves no sequence for later readers to count") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_ingest_td_fail").toString
    IngestPipeline.processBatch(spark, batchOf(0L, 40L), 0L, evalW, Long.MaxValue, base)
    val boom = udf { (id: Long) =>
      if (id > 0) throw new IllegalStateException("deleted frame failed"); id
    }
    // a range, not a local relation, so the frame fails in a task and not
    // while the optimizer folds it; without adaptive execution that task
    // runs inside the write's job, after the write set up its directory
    val adaptive = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try intercept[org.apache.spark.SparkException] {
      IngestPipeline.ingestTakedown(spark, base,
        spark.range(1, 3).select(boom(col("id")).as("doc_id")))
    } finally spark.conf.set("spark.sql.adaptive.enabled", adaptive)
    val takedowns = Paths.get(base, "takedowns")
    assert(Commit.numbered(takedowns, "seq=").isEmpty, "a failed takedown left a sequence")
    assert(!Files.exists(takedowns) || files(takedowns).isEmpty,
      "a failed takedown left staging behind")
    // the next batch pins the horizon from before the failed takedown
    IngestPipeline.processBatch(spark, batchOf(40L, 60L), 1L, evalW, Long.MaxValue, base)
    assert(spark.read.parquet(s"$base/tdv/batch=1").head.getLong(0) === 0L,
      "the next batch's pinned takedown horizon counted a failed takedown")
    // and the next takedown takes the first sequence
    assert(IngestPipeline.ingestTakedown(spark, base, Seq(1L).toDF("doc_id")) === 1L)
  }

  test("two racing pins on one directory both return the winner's value") {
    val dir = Files.createTempDirectory("graft_ingest_pin").resolve("batch=0").toString
    // both computations finish before either publishes, so the two
    // publishes race and one loses
    val computed = new CountDownLatch(2)
    def pin(v: Long) = Future(IngestPipeline.pinnedScalar(spark, dir, "v") {
      computed.countDown()
      assert(computed.await(60, TimeUnit.SECONDS))
      v
    })
    val got = Await.result(Future.sequence(Seq(pin(1L), pin(2L))), 120.seconds)
    val stored = spark.read.parquet(dir).head.getLong(0)
    assert(Set(1L, 2L).contains(stored))
    assert(got === Seq(stored, stored), s"the racers disagree: $got, committed $stored")
  }
}
