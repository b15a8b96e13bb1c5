package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.streaming.FileTopicSink
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** The topic sink's write path ([[FileTopicSink.writeParts]]): its parts
  * are the bytes `df.write.parquet` writes, an empty batch stays readable,
  * a part is committed once however many attempts write it, the task
  * carries a lean Hadoop conf that answers every key the write reads as
  * the driver's conf does, and the task reports what it wrote. */
class TopicWriteSpec extends SparkSpec {

  private def fresh(): Path = Files.createTempDirectory("graft-topic-write")

  /** `n` (key, value) records in `partitions` partitions. */
  private def records(n: Int, partitions: Int): DataFrame =
    spark.range(0, n, 1, partitions).select(
      col("id").cast("string").as("key"),
      encode(concat(lit("v-"), col("id").cast("string")), "UTF-8").as("value"))

  private def parts(dir: Path): Seq[Path] = {
    val st = Files.list(dir)
    try st.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted
    finally st.close()
  }

  private def entries(dir: Path): Seq[String] = {
    val st = Files.list(dir)
    try st.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally st.close()
  }

  private def footer(p: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new HPath(p.toUri), spark.sessionState.newHadoopConf()))
    try r.getFooter finally r.close()
  }

  /** Parquet reads every column back as nullable. */
  private def nullable(s: StructType): StructType = StructType(s.map(_.copy(nullable = true)))

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema === nullable(b.schema))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("a committed part is what df.write.parquet writes: codec, footer metadata, rows") {
    val codecKey = "spark.sql.parquet.compression.codec"
    val before = spark.conf.getOption(codecKey)
    spark.conf.set(codecKey, "zstd")
    try {
      val d = fresh()
      val df = records(300, 3)
      FileTopicSink(d.toString).commitBatch(df, 0)
      df.write.parquet(d.resolve("ref").toString)
      val batch = d.resolve("data/batch=0")
      val (got, ref) = (parts(batch), parts(d.resolve("ref")))
      assert(got.size === ref.size)
      assert(got.forall(_.getFileName.toString.endsWith(".zstd.parquet")), got)
      for ((g, r) <- got.zip(ref)) {
        val (gf, rf) = (footer(g), footer(r))
        val codecs = gf.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
        assert(codecs === Set(CompressionCodecName.ZSTD))
        val meta = gf.getFileMetaData.getKeyValueMetaData.asScala
        assert(meta.contains("org.apache.spark.sql.parquet.row.metadata"))
        assert(meta === rf.getFileMetaData.getKeyValueMetaData.asScala)
        assert(gf.getFileMetaData.getSchema === rf.getFileMetaData.getSchema)
      }
      sameRows(spark.read.parquet(batch.toString), spark.read.parquet(d.resolve("ref").toString))
    } finally before match {
      case Some(v) => spark.conf.set(codecKey, v)
      case None => spark.conf.unset(codecKey)
    }
  }

  test("an empty batch commits one schema-only part and reads back as 0 rows") {
    val d = fresh()
    val empty = records(10, 2).filter(lit(false))
    FileTopicSink(d.toString).commitBatch(empty, 0)
    val batch = d.resolve("data/batch=0")
    assert(parts(batch).size === 1)
    val back = spark.read.parquet(batch.toString)
    assert(back.count() === 0)
    assert(back.schema === nullable(empty.schema))
    // a batch of no partitions at all
    FileTopicSink(d.toString).commitBatch(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty.schema), 1)
    assert(parts(d.resolve("data/batch=1")).size === 1)
    assert(spark.read.parquet(d.resolve("data/batch=1").toString).count() === 0)
  }

  test("empty partitions other than partition 0 write no part") {
    val d = fresh()
    // four partitions, only partition 2 holds a row
    val df = records(4, 4).filter(col("key") === "2")
    FileTopicSink(d.toString).commitBatch(df, 0)
    val batch = d.resolve("data/batch=0")
    assert(parts(batch).map(_.getFileName.toString.take(10)) === Seq("part-00000", "part-00002"))
    assert(entries(batch).forall(!_.startsWith(".staging")), entries(batch))
    sameRows(spark.read.parquet(batch.toString), df)
  }

  test("attempts of one partition leave exactly one part and no staging") {
    val d = fresh()
    val df = records(5, 1)
    val (writer, _) = FileTopicSink.prepare(df, d)
    def rows(failAfter: Int): Iterator[InternalRow] = (0 until 5).iterator.map { i =>
      if (i == failAfter) throw new RuntimeException("attempt killed")
      InternalRow(UTF8String.fromString(i.toString), s"v-$i".getBytes("UTF-8"))
    }
    intercept[RuntimeException] { writer.write(0, 0, rows(failAfter = 3)) }
    assert(entries(d).isEmpty, s"a failed attempt left ${entries(d)}")
    assert(writer.write(0, 1, rows(failAfter = -1)))
    assert(!writer.write(0, 2, rows(failAfter = -1)), "a second attempt must not commit again")
    assert(entries(d).size === 1, entries(d))
    sameRows(spark.read.parquet(d.toString), df)
  }

  /** A conf that records every read through it: the key, and the default
    * the caller passed, if any. A getter that reads through another is
    * recorded once, as its caller called it. */
  private final class Recording extends JobConf(false) {
    private var read: java.util.Set[(String, Option[String])] = _
    private var depth = 0
    def reads: Set[(String, Option[String])] = read.asScala.toSet
    private def reading(k: String, default: Option[String])(v: => String): String = {
      if (read == null) read = ConcurrentHashMap.newKeySet[(String, Option[String])]()
      if (depth == 0) read.add(k -> default)
      depth += 1
      try v finally depth -= 1
    }
    override def get(name: String): String = reading(name, None)(super.get(name))
    override def get(name: String, default: String): String =
      reading(name, Some(default))(super.get(name, default))
    override def getTrimmed(name: String): String = reading(name, None)(super.getTrimmed(name))
    override def getTrimmed(name: String, default: String): String =
      reading(name, Some(default))(super.getTrimmed(name, default))
    override def getRaw(name: String): String = reading(name, None)(super.getRaw(name))
  }

  test("the task carries under 64 Hadoop settings, none a default, and reads the driver's values") {
    val full = spark.sessionState.newHadoopConf()
    assert(full.size() > 500, "the session conf should hold Hadoop's defaults")
    // what the executor side rebuilds: it loads no default resource
    val lean = LeanHadoopConf(full).value
    val keys = lean.iterator().asScala.map(_.getKey).toSeq
    assert(keys.size < 64, keys)
    assert(keys.forall(k => !LeanHadoopConf.fromDefaults(full, k)), keys)
    assert(lean.get("fs.file.impl") === classOf[ForkFreeLocalFileSystem].getName)
    // what a task deserializes: the carried entries, a few KB
    val shipped = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bos)
      out.writeObject(LeanHadoopConf(full))
      out.close()
      bos.toByteArray
    }
    assert(shipped.length < 8192, shipped.length)
    val landed = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(shipped))
      .readObject().asInstanceOf[LeanHadoopConf].value
    assert(landed.iterator().asScala.map(e => e.getKey -> e.getValue).toMap ===
      lean.iterator().asScala.map(e => e.getKey -> e.getValue).toMap)

    val d = fresh()
    val df = records(20, 1)
    val (writer, rows) = FileTopicSink.prepare(df, d)
    assert(writer.conf.value.size() < 64)
    val recording = new Recording
    writer.conf.value.iterator().asScala.foreach(e => recording.set(e.getKey, e.getValue))
    assert(writer.write(0, 0, rows.map(_.copy()).collect().iterator, recording))
    // the driver's view: the whole session conf with prepareWrite's settings
    val driverJob = Job.getInstance(full)
    new ParquetFileFormat().prepareWrite(spark, driverJob, Map.empty, df.schema)
    val driver = driverJob.getConfiguration
    assert(recording.reads.map(_._1).contains("parquet.compression"), recording.reads)
    def value(c: org.apache.hadoop.conf.Configuration, k: String, default: Option[String]) =
      Option(c.get(k)).orElse(default)
    val differ = recording.reads.toSeq.collect {
      case (k, d) if value(writer.conf.value, k, d) != value(driver, k, d) =>
        s"$k: ${value(writer.conf.value, k, d)} != ${value(driver, k, d)}"
    }
    assert(differ.isEmpty, differ.sorted.mkString("\n"))
  }

  test("the write task reports the bytes and records it wrote") {
    val d = fresh()
    val group = s"topic-write-${System.nanoTime()}"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val written = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          js.stageIds.foreach(stages.add)
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (stages.contains(te.stageId) && te.taskMetrics != null)
          written.add(te.taskMetrics.outputMetrics.bytesWritten ->
            te.taskMetrics.outputMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "topic write metrics")
      try FileTopicSink(d.toString).commitBatch(records(100, 2), 0)
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (written.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.sparkContext.removeSparkListener(listener)
    val tasks = written.asScala.toSeq
    val onDisk = parts(d.resolve("data/batch=0")).map(Files.size).sum
    assert(tasks.size === 2, tasks)
    assert(tasks.forall(_._1 > 0), tasks)
    assert(tasks.map(_._1).sum === onDisk)
    assert(tasks.map(_._2).sum === 100)
  }
}
