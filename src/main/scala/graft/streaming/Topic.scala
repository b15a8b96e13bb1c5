package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import graft.{Commit, LeanHadoopConf}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.OutputMetricsBridge
import org.apache.spark.sql.types.StructType

/** The transport seam of the replication pipeline (SURVEY.md §2.1 R1/R4-R6).
  *
  * The reference is Kafka→Kafka (`ReplicationApplication.java:62-98`,
  * `application.yml:5-17`); this sandbox has no `spark-sql-kafka` jar, so
  * topics are directories of parquet files. The seam makes that an
  * implementation detail: [[graft.streaming.Replication.start]] is written
  * against these traits only, and a Kafka binding is a new impl —
  * `spark.readStream.format("kafka")` for the source, a transactional
  * producer in `commitBatch` for the sink — not an edit to the pipeline.
  */
trait TopicSource extends Serializable {
  /** R9 missing-topics-fatal probe. */
  def exists: Boolean
  /** Streaming DataFrame with (at least) a binary `value` column. */
  def stream(spark: SparkSession): DataFrame
}

trait TopicSink extends Serializable {
  /** Atomically commit one micro-batch; MUST be idempotent per `batchId`
    * (redelivery after a checkpoint-replay must not duplicate records) and
    * MUST make the whole batch visible atomically (read-committed, R6). */
  def commitBatch(batch: DataFrame, batchId: Long): Unit
}

/** A flat directory of parquet files with a binary `value` column — the shape
  * [[Replication.stageSource]] produces (an upstream producer's topic).
  * Streamed by [[TopicStream]]: files in arrival (modification-time) order,
  * a late file after every row already consumed. */
final case class FileTopicSource(dir: String, maxFilesPerTrigger: Int = 1)
    extends TopicSource {
  def exists: Boolean = Files.exists(Paths.get(dir))
  def stream(spark: SparkSession): DataFrame = TopicStream.files(spark, dir, maxFilesPerTrigger)
}

/** Streaming read of a [[FileTopicSink]]-layout topic with READ-COMMITTED
  * visibility: a batch becomes visible as a whole when the sink publishes
  * its directory, so [[TopicStream]] never lists a half-written batch —
  * which is what lets replicators chain (A→B→C, the reference's consumer
  * chain: `application.yml:10`, `README.adoc:22`). Parts stream in batch,
  * then part, order, with their batch number as column `batch`; a topic
  * with no `data/` directory yet is an empty topic. */
final case class CommittedTopicSource(dir: String, maxFilesPerTrigger: Int = 1)
    extends TopicSource {
  def exists: Boolean = Files.exists(Paths.get(dir))
  def stream(spark: SparkSession): DataFrame = TopicStream.committed(spark, dir, maxFilesPerTrigger)
}

/** Transactional file-topic sink: each micro-batch is published as
  * `data/batch=<id>` by [[graft.Commit.publish]], so readers (batch
  * [[Replication.readCommitted]] or a chained [[CommittedTopicSource]]) see
  * a batch entirely or not at all, and a redelivered batch (checkpoint
  * replay after a crash) finds its committed directory and is skipped. */
final case class FileTopicSink(dir: String) extends TopicSink {
  def commitBatch(batch: DataFrame, batchId: Long): Unit = {
    Commit.publish(Paths.get(dir, "data", s"batch=$batchId"))(FileTopicSink.writeParts(batch, _))
    ()
  }
}

object FileTopicSink {

  /** Writes `batch` into the directory `out` as parquet parts in one job:
    * one part per non-empty partition, and always one for partition 0, so
    * an empty batch still reads back with its schema (Spark's file writer
    * keeps the same rule). A part is never split by
    * `spark.sql.files.maxRecordsPerFile`.
    *
    * `out` is committed as a whole by [[graft.Commit.publish]], so the job
    * runs none of Spark's file-commit protocol (`FileFormatWriter`,
    * `FileOutputCommitter`, `_SUCCESS`). Each part is written by the
    * `OutputWriterFactory` that `ParquetFileFormat.prepareWrite` returns,
    * the writer `df.write.parquet` uses, so the bytes, codec and footer
    * metadata are Spark's. The task carries the write's Hadoop settings as
    * a [[graft.LeanHadoopConf]], about 30 entries instead of the session
    * conf's ~1,100. */
  private[graft] def writeParts(batch: DataFrame, out: Path): Unit = {
    val (parts, rows) = prepare(batch, out)
    // the session's SQL settings reach the tasks, as a Dataset action's do
    SQLExecution.withSQLConfPropagated(batch.sparkSession.asInstanceOf[classic.SparkSession]) {
      batch.sparkSession.sparkContext.runJob(rows,
        (tc: TaskContext, it: Iterator[InternalRow]) => {
          parts.write(tc.partitionId(), tc.attemptNumber(), it); ()
        })
    }
    ()
  }

  /** The writer of `batch`'s parts into `out`, and the rows it writes. */
  private[graft] def prepare(batch: DataFrame, out: Path): (PartWriter, RDD[InternalRow]) = {
    val session = batch.sparkSession
    val job = Job.getInstance(LeanHadoopConf(session.sessionState.newHadoopConf()).value)
    val factory = new ParquetFileFormat().prepareWrite(session, job, Map.empty, batch.schema)
    val ext = factory.getFileExtension(
      new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID()))
    val rows = batch.queryExecution.toRdd
    (PartWriter(factory, batch.schema, LeanHadoopConf(job.getConfiguration), out.toString,
      s"-${UUID.randomUUID()}-c000$ext"),
      if (rows.partitions.isEmpty) session.sparkContext.parallelize(Seq.empty[InternalRow], 1)
      else rows)
  }

  /** What each task of the write needs; the parts of one batch share
    * `suffix`, so every attempt of a partition names the same part. */
  private[graft] final case class PartWriter(factory: OutputWriterFactory, schema: StructType,
                                             conf: LeanHadoopConf, dir: String, suffix: String) {

    /** Writes `rows` as partition `partition`'s part, committed with
      * [[graft.Commit.publishFile]]: a failed attempt leaves nothing, and a
      * second attempt of a committed part changes nothing. Whether this
      * attempt committed the part; it then reports the part's bytes and
      * rows on the task's output metrics. */
    def write(partition: Int, attempt: Int, rows: Iterator[InternalRow],
              hadoopConf: Configuration = conf.value): Boolean =
      (partition == 0 || rows.hasNext) && {
        val target = Paths.get(dir, f"part-$partition%05d$suffix")
        var n = 0L
        val won = Commit.publishFile(target) { staged =>
          val ctx = new TaskAttemptContextImpl(hadoopConf,
            new TaskAttemptID("", 0, TaskType.MAP, partition, attempt))
          val w = factory.newInstance(new HPath(staged.toUri).toString, schema, ctx)
          try rows.foreach { r => w.write(r); n += 1 } finally w.close()
        }
        if (won) OutputMetricsBridge.report(Files.size(target), n)
        won
      }
  }
}
