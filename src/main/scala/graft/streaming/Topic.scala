package graft.streaming

import java.nio.file.{Files, Paths}

import graft.Commit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}

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
  * [[Replication.stageSource]] produces (an upstream producer's topic). */
final case class FileTopicSource(dir: String, maxFilesPerTrigger: Int = 1)
    extends TopicSource {
  def exists: Boolean = Files.exists(Paths.get(dir))
  def stream(spark: SparkSession): DataFrame =
    spark.readStream
      .schema(StructType(Seq(StructField("value", BinaryType))))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
}

/** Streaming read of a [[FileTopicSink]]-layout topic with READ-COMMITTED
  * visibility: batches become visible via the sink's atomic directory rename,
  * so the file source's per-trigger listing can never observe a half-written
  * batch — which is what lets replicators chain (A→B→C, the reference's
  * consumer chain: `application.yml:10`, `README.adoc:22`). `batch` is a
  * partition column, pruned unless selected. */
final case class CommittedTopicSource(dir: String, maxFilesPerTrigger: Int = 1)
    extends TopicSource {
  def exists: Boolean = Files.exists(Paths.get(dir))
  def stream(spark: SparkSession): DataFrame = {
    Files.createDirectories(Paths.get(dir, "data"))
    spark.readStream
      .schema(StructType(Seq(
        StructField("key", StringType),
        StructField("value", BinaryType),
        StructField("batch", org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(s"$dir/data")
  }
}

/** Transactional file-topic sink: each micro-batch is published as
  * `data/batch=<id>` by [[graft.Commit.publish]], so readers (batch
  * [[Replication.readCommitted]] or a chained [[CommittedTopicSource]]) see
  * a batch entirely or not at all, and a redelivered batch (checkpoint
  * replay after a crash) finds its committed directory and is skipped. */
final case class FileTopicSink(dir: String) extends TopicSink {
  def commitBatch(batch: DataFrame, batchId: Long): Unit = {
    Commit.publish(Paths.get(dir, "data", s"batch=$batchId"))(staged =>
      batch.write.mode("overwrite").parquet(staged.toString))
    ()
  }
}
