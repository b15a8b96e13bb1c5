package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import graft.avro.{AvroFunctions, FileRegistryRef}
import graft.streaming.{CommittedTopicSource, FileTopicSink, FileTopicSource, Replication, TopicSink, TopicStream}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The row-range topic source: how a batch is split into tasks, the order
  * a split keeps, what a replayed batch plans, and the admission log. */
class TopicStreamSpec extends SparkSpec {
  import TopicStreamSpec._

  private def cores = spark.sparkContext.defaultParallelism

  /** `n` records whose key (`event_id`) repeats every 997 rows and whose
    * `seq` numbers them in source order, staged as one one-row-group file. */
  private def stageKeyed(root: String, n: Int): String =
    Replication.stageSource(spark.range(n).coalesce(1).select(
      (col("id") % 997).as("event_id"), col("id").as("seq"),
      concat(lit("payload-"), col("id").cast("string")).as("text")),
      s"$root/topicA", "events-value", s"$root/regA", "Event")

  private def start(root: String, sink: TopicSink, ck: String = "ck") =
    Replication.start(spark, FileTopicSource(s"$root/topicA", 1), sink, s"$root/$ck",
      "events-value", FileRegistryRef(s"$root/regA"), FileRegistryRef(s"$root/regB"),
      idField = "event_id", availableNow = true)

  /** `seq` of every record of a committed batch, reading its parts in part order. */
  private def seqInPartOrder(root: String, batch: Long, schemaJson: String): Seq[(String, Long)] =
    parts(Paths.get(root, "topicB", "data", s"batch=$batch")).flatMap { p =>
      spark.read.parquet(p.toString).select(col("key"),
        AvroFunctions.fromAvroWire(col("value"), schemaJson, s"$root/regB").getField("seq"))
        .collect().map(r => r.getString(0) -> r.getLong(1))
    }

  test("a one-file batch of cores × minimum rows runs as 1 job, 1 stage and min(cores, rows / minimum) tasks") {
    val root = Files.createTempDirectory("graft-split").toString
    val rows = cores * TopicStream.MinRowsPerTask.toInt + 100
    stageKeyed(root, rows)
    val file = parts(Paths.get(s"$root/topicA"))
    assert(file.size === 1)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sessionState.newHadoopConf(), new org.apache.hadoop.fs.Path(file.head.toUri))
    assert(footer.getBlocks.size === 1, "the topic must be one row group")

    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[Int])]()
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.add((Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull, js.stageIds)); ()
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = { tasks.add(te.stageId); () }
    }
    spark.sparkContext.addSparkListener(listener)
    val expected = math.min(cores.toLong, rows / TopicStream.MinRowsPerTask).toInt
    try {
      val q = start(root, FileTopicSink(s"$root/topicB"))
      q.awaitTermination(120000)
      assert(Replication.readCommitted(spark, s"$root/topicB").count() === rows)
      val ofQuery = jobs.asScala.toSeq.filter(_._1 == q.runId.toString)
      def taskCount = tasks.asScala.count(ofQuery.flatMap(_._2).contains)
      val deadline = System.nanoTime() + 30e9.toLong
      while (taskCount < expected && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(200)
      assert((ofQuery.size, ofQuery.map(_._2.size).sum, taskCount) === ((1, 1, expected)))
      assert(expected === 4 || cores < 4)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(parts(Paths.get(s"$root/topicB/data/batch=0")).size === expected)
  }

  test("a split batch's parts read in part order give the source order, per key too") {
    val root = Files.createTempDirectory("graft-order").toString
    val rows = cores * TopicStream.MinRowsPerTask.toInt + 3001
    val schemaJson = stageKeyed(root, rows)
    start(root, FileTopicSink(s"$root/topicB")).awaitTermination(120000)
    val got = seqInPartOrder(root, 0, schemaJson)
    assert(parts(Paths.get(s"$root/topicB/data/batch=0")).size > 1, "the batch must be split")
    assert(got.map(_._2) === (0L until rows))
    got.groupBy(_._1).foreach { case (k, recs) =>
      assert(recs.map(_._2) === recs.map(_._2).sorted, s"key $k out of source order")
    }
  }

  test("a batch replayed after a crash between the offset WAL and the commit log re-plans its ranges and is skipped") {
    val root = Files.createTempDirectory("graft-replay").toString
    val rows = cores * TopicStream.MinRowsPerTask.toInt + 7
    stageKeyed(root, rows)
    val ranges = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(Long, Long)]]()
    val sink = RangeProbe(FileTopicSink(s"$root/topicB"), ranges)
    start(root, sink).awaitTermination(120000)
    val target = Paths.get(s"$root/topicB/data/batch=0")
    val committed = parts(target).map(p => p.getFileName.toString -> Files.getLastModifiedTime(p))

    // the sink committed and the offset WAL holds batch 0; its commit log entry never landed
    Seq("0", ".0.crc").foreach(f => Files.delete(Paths.get(s"$root/ck/commits/$f")))
    start(root, sink).awaitTermination(120000)

    val planned = ranges.asScala.toSeq
    assert(planned.size === 2, "batch 0 must run again")
    assert(planned(1) === planned(0), "the replay must plan the same row ranges")
    assert(planned(0).size > 1)
    assert(parts(target).map(p => p.getFileName.toString -> Files.getLastModifiedTime(p)) === committed,
      "the committed batch must be left as it was")
    assert(Replication.readCommitted(spark, s"$root/topicB").count() === rows)
    assert(new java.io.File(s"$root/ck/commits").list().count(_.forall(_.isDigit)) === 1)
  }

  test("the admission log maps each file to its batch; a late file with an older mtime is appended") {
    val root = Files.createTempDirectory("graft-admit").toString
    val events = Tables.events(spark, sf).limit(90).orderBy("event_id").cache()
    val schemaJson = Replication.stageSource(events.repartition(3), s"$root/staged", "events-value",
      s"$root/regA", "Event")
    val staged = parts(Paths.get(s"$root/staged"))
    assert(staged.size === 3)
    val src = Files.createDirectories(Paths.get(s"$root/topicA"))
    def land(i: Int, mtime: Long): Unit = {
      val dst = src.resolve(f"f-$i%02d.parquet")
      Files.copy(staged(i), dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime))
    }
    val now = System.currentTimeMillis()
    land(0, now - 2000)
    land(1, now - 1000)
    start(root, FileTopicSink(s"$root/topicB")).awaitTermination(120000)
    land(2, now - 5000) // older than every file already consumed
    start(root, FileTopicSink(s"$root/topicB")).awaitTermination(120000)

    // the regex a consumer of the log (perfbench) parses it with
    val Entry = "\"path\":\"[^\"]*/([^/\"]+)\".*\"batchId\":(\\d+)".r.unanchored
    val log = Paths.get(s"$root/ck/sources/0")
    val batchOf = Files.list(log).iterator().asScala.toSeq
      .filter(_.getFileName.toString.matches("\\d+")).flatMap { f =>
        Files.readAllLines(f).asScala.collect { case Entry(name, b) => name -> b.toLong }
      }.toMap
    assert(batchOf === Map("f-00.parquet" -> 0L, "f-01.parquet" -> 1L, "f-02.parquet" -> 2L))
    // each file's records are in the batch its log entry names
    (0 until 3).foreach { i =>
      val ids = spark.read.parquet(staged(i).toString)
        .select(AvroFunctions.fromAvroWire(col("value"), schemaJson, s"$root/regA")
          .getField("event_id").cast("string")).collect().map(_.getString(0)).toSet
      val inBatch = spark.read.parquet(s"$root/topicB/data/batch=$i").select("key")
        .collect().map(_.getString(0)).toSet
      assert(inBatch === ids, s"f-0$i")
    }
  }

  test("a committed topic with no data directory streams as empty and is not created") {
    val root = Files.createTempDirectory("graft-nodata").toString
    Files.createDirectories(Paths.get(s"$root/topicB"))
    val seen = new java.util.concurrent.atomic.AtomicLong()
    val q = CommittedTopicSource(s"$root/topicB").stream(spark).writeStream
      .foreachBatch { (df: DataFrame, _: Long) => seen.addAndGet(df.count()); () }
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(q.exception.isEmpty)
    assert(seen.get === 0)
    assert(!Files.exists(Paths.get(s"$root/topicB/data")))
  }

  test("row ranges cut across segments in order, at least one slice, at most cores") {
    import TopicStream.{MinRowsPerTask => Min, RowRange}
    val spans = Seq(RowRange("a", 0, 0, 3 * Min), RowRange("b", 0, 10, Min + 10))
    val cut = TopicStream.slices(spans, 4)
    assert(cut.length === 4)
    assert(cut.flatten.toSeq.map(r => (r.path, r.from, r.until)) === Seq(
      ("a", 0, Min), ("a", Min, 2 * Min), ("a", 2 * Min, 3 * Min), ("b", 10, Min + 10)))
    assert(TopicStream.slices(spans, 2).map(_.map(r => r.until - r.from).sum).toSeq === Seq(2 * Min, 2 * Min))
    assert(TopicStream.slices(Seq(RowRange("a", 0, 0, 500)), 4).map(_.toSeq).toSeq ===
      Seq(Seq(RowRange("a", 0, 0, 500))))
    assert(TopicStream.slices(Nil, 4).map(_.toSeq).toSeq === Seq(Seq.empty))
    // the backfill's 100k-record file splits 4 ways on 4 cores; a 500-record poll does not
    assert(TopicStream.slices(Seq(RowRange("a", 0, 0, 100000)), 4).length === 4)
  }
}

object TopicStreamSpec {
  /** The data files of a directory, by name. */
  def parts(dir: Path): Seq[Path] = {
    val st = Files.list(dir)
    try st.iterator().asScala.filter(p => p.getFileName.toString.startsWith("part-")
      || p.getFileName.toString.startsWith("f-")).toSeq.sortBy(_.getFileName.toString)
    finally st.close()
  }

  /** Records, per batch offered, each task's (first `seq` key, row count),
    * then delegates. */
  final case class RangeProbe(sink: TopicSink,
                              seen: java.util.concurrent.ConcurrentLinkedQueue[Seq[(Long, Long)]])
      extends TopicSink {
    def commitBatch(batch: DataFrame, batchId: Long): Unit = {
      seen.add(batch.select(col("key").cast("long")).rdd.mapPartitions { it =>
        val keys = it.map(_.getLong(0)).toSeq
        Iterator(keys.headOption.getOrElse(-1L) -> keys.size.toLong)
      }.collect().toSeq)
      sink.commitBatch(batch, batchId)
    }
  }
}
