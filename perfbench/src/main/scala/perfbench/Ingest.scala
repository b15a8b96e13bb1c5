package perfbench

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import graft.{BenchSeams, Tables}
import graft.streaming.IngestPipeline
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The training-ingest admission pipeline, driven through its public seams:
  * `IngestPipeline.ingestAdmit` streams the corpus's `documents` table
  * (minus the eval slice, doc_id % 97 == 0) from a file source, one seeded
  * chunk per micro-batch, into a fresh ingest base; `manifestOf` reads back
  * every doc's verdict. Unbounded token budget, SimHash near-dup family.
  *
  * One ingest batch costs seconds whatever its size, so this runs as a
  * phase of `catalog_mix`'s traced run (one ingest of the whole feed, after
  * the measured windows) and reports layer metrics only. */
object Ingest {
  val Chunks = 3
  val Schema = "doc_id BIGINT, lang STRING, text STRING"

  def traced(ctx: Ctx): Unit = Trace.span("ingest", "harness") {
    val spark = ctx.spark
    val rep = ctx.report
    val docs = Tables.documents(spark, ctx.data)
    val evalW = BenchSeams.evalWindowHashes(docs.filter(col("doc_id") % 97 === 0))
    val rows = docs.filter(col("doc_id") % 97 =!= 0).select("doc_id", "lang", "text")
      .orderBy("doc_id").collect().toSeq
    // seeded chunk boundaries: each chunk 75–125% of an even share
    val rng = new scala.util.Random(ctx.seed)
    val even = rows.size.toDouble / Chunks
    val cuts = (1 until Chunks).map(k => (k * even + (rng.nextDouble() - 0.5) * even / 2).toInt)
    val bounds = (0 +: cuts :+ rows.size).sliding(2).map { case Seq(a, b) => (a, b) }.toSeq
    val (feed, base, ckpt) = (ctx.dir("ingest/feed"), ctx.dir("ingest/base"), ctx.dir("ingest/ckpt"))
    Trace.span("stage_feed", "harness")(stageFeed(ctx, rows, bounds, feed))

    rep.attempted += 1
    try {
      val before = ctx.exec.snapshotAll(_ => true)
      val t0 = System.nanoTime()
      val q = Trace.span("ingest.start", "ingest") {
        val src = spark.readStream.schema(Schema).option("maxFilesPerTrigger", 1).parquet(feed)
        IngestPipeline.ingestAdmit(src, evalW, Long.MaxValue, base, ckpt)
      }
      var processSpan = -1L
      val seconds = try {
        Trace.span("ingest.process", "ingest") {
          processSpan = Trace.current
          q.processAllAvailable()
        }
        (System.nanoTime() - t0) / 1e9
      } finally q.stop()
      q.exception.foreach(e => throw e)
      val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      Replicate.traceBatches(progress, processSpan, "ingest")
      ctx.exec.settle()
      val after = ctx.exec.snapshotAll(_ => true)

      // every fed doc appears exactly once in the manifest, and no other
      val manifest = IngestPipeline.manifestOf(spark, base)
      val ids = manifest.select("doc_id").collect().map(_.getLong(0)).toSeq
      val fed = rows.map(_.getLong(0))
      rep.check("ingest_manifest_exactly_once", ids.size == fed.size && ids.sorted == fed.sorted)
      val m = manifest.agg(count(when(col("admitted"), 1)), count(when(col("exact_dup"), 1)),
        count(when(col("near_dup"), 1))).head

      val l = rep.layers
      Replicate.phaseLayers(ctx, progress, "ingest")
      l("ingest.batches") = progress.size
      // numInputRows counts the batch once per action on it, so not docs
      l("ingest.docs_per_batch") = fed.size.toDouble / progress.size
      l("ingest.docs_per_s") = fed.size / seconds
      l("ingest.admitted") = m.getLong(0)
      l("ingest.exact_dup") = m.getLong(1)
      l("ingest.near_dup") = m.getLong(2)
      l("ingest.jobs") = after("jobs") - before("jobs")
      l("ingest.tasks") = after("tasks") - before("tasks")
      l("ingest.cpu_ms") = after("cpu_ms") - before("cpu_ms")
      l("stateful.state_rows") = spark.read.parquet(s"$base/digests").count().toDouble
      val (files, bytes) = Seq("digests", "snap", "pillarv").map(d => Store.tree(Paths.get(base, d)))
        .foldLeft((0L, 0L)) { case ((f, b), (f2, b2)) => (f + f2, b + b2) }
      l("stateful.state_files") = files.toDouble
      l("stateful.state_bytes") = bytes.toDouble
      Store.layers(ctx, Paths.get(base, "pillar"), "ingest.store")
    } catch {
      case t: Throwable =>
        rep.fail("ingest", t)
        rep.check("ingest_manifest_exactly_once", false)
    }
  }

  /** Write the feed: one parquet file per chunk, with modification times
    * in chunk order, so the file source (`maxFilesPerTrigger = 1`) feeds
    * the chunks as micro-batches in doc order. */
  private def stageFeed(ctx: Ctx, rows: Seq[Row], bounds: Seq[(Int, Int)], dir: String): Unit = {
    val spark = ctx.spark
    val schema = org.apache.spark.sql.types.StructType.fromDDL(Schema)
    val parts = bounds.map { case (a, b) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows.slice(a, b), 1), schema)
    }
    parts.reduce(_ union _).write.parquet(dir)
    val files = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)
    require(files.size == bounds.size, s"staged ${files.size} feed files, expected ${bounds.size}")
    val from = System.currentTimeMillis() - 60000L
    files.zipWithIndex.foreach { case (f, k) =>
      Files.setLastModifiedTime(f, FileTime.fromMillis(from + 1000L * k))
    }
  }
}
