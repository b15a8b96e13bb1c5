package graft.streaming

import java.nio.file.Paths

import graft.Commit
import graft.avro.{AvroFunctions, AvroSchemaConverter, FileRegistryRef, RegistryRef, SchemaRegistry}
import org.apache.avro.Schema
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference pipeline, Spark-native (SURVEY.md §2.1 R1–R10, §3):
  *
  * {{{
  *   topic A (wire-framed Avro values)                 R1  TopicSource micro-batch
  *     → per-record registry-resolved decode           R2  ┐ ReplicateWire: re-frame
  *     → key := value.id                               R3  │ the body, or decode and
  *     → re-encode + register schema in target registry R7 ┘ encode it again
  *     → atomically committed batch to topic B         R4-R6, R8  TopicSink
  * }}}
  *
  * Transport is behind [[TopicSource]]/[[TopicSink]] (file-backed here, Kafka
  * in production — see Topic.scala) and registries behind [[RegistryRef]]
  * (fingerprint-id or Confluent-style monotonic ids — the replicator
  * re-registers the schema in the target registry and re-frames values with
  * the TARGET's id, which is the id-mapping behavior the reference calls
  * "only the necessary Avro schema is replicated", `README.adoc:11-12,27`).
  *
  * Delivery semantics — deliberately matching the reference
  * (`ReplicationApplication.java:96-100`, SURVEY.md §2.1 note): the batch
  * write is atomic and progress is recorded only after durable output, via
  * the checkpoint WAL (≡ R8 manual offset ack) plus the rename-commit that
  * makes redelivered batches idempotent — upgrading the reference's
  * "at-least-once with committed duplicates" to effective exactly-once.
  * The source is replayable: [[TopicStream]] records which segments each
  * batch admitted and Spark's offset log its (segment, row) offsets, so a
  * replayed batch reads the same row ranges and its commit is skipped.
  * Because commits are atomic renames, a downstream [[CommittedTopicSource]]
  * consumes the target topic with read-committed visibility, so replicators
  * chain A→B→C exactly as the reference's consumers do
  * (`application.yml:10`, `README.adoc:22`).
  *
  * A large batch runs on every core: the source plans it as contiguous row
  * ranges, one task each, and the sink writes task i's rows as part i, so
  * the target keeps the source's order.
  */
object Replication {

  final case class Topics(sourceDir: String, targetDir: String, checkpointDir: String)

  /** Confluent subject naming: the key schema of a topic lives under the
    * `-key` subject sibling of the value subject. */
  private[streaming] def keySubject(valueSubject: String): String =
    valueSubject.stripSuffix("-value") + "-key"

  /** The reference's producer serializes KEYS with KafkaAvroSerializer too
    * (`application.yml:15`), so its first produce registers the String key
    * schema under `<topic>-key` — a registry-inspection tool pointed at the
    * target must see BOTH subjects. Idempotent, like the value path. */
  private def registerKeySchema(registry: SchemaRegistry, valueSubject: String): Unit =
    registry.register(keySubject(valueSubject), Schema.create(Schema.Type.STRING))

  /** Stage a DataFrame as a source "topic": register the writer schema and
    * write wire-framed Avro values (what the upstream producer's serializer
    * would have done — R7 on the produce side). */
  def stageSource(df: DataFrame, topicDir: String, subject: String,
                  registryRoot: String, recordName: String): String =
    stageSource(df, topicDir, subject, FileRegistryRef(registryRoot), recordName)

  def stageSource(df: DataFrame, topicDir: String, subject: String,
                  registry: RegistryRef, recordName: String): String = {
    val schemaJson = AvroFunctions.writerSchemaFor(df.schema, recordName)
    val opened = registry.open()
    val id = opened.register(subject, new Schema.Parser().parse(schemaJson))
    registerKeySchema(opened, subject) // what the producer's key serializer did
    df.select(AvroFunctions.toAvroWire(
      struct(df.columns.map(col): _*), id, recordName, registry.magic).as("value"))
      .write.mode("append").parquet(topicDir)
    schemaJson
  }

  /** Start the replication stream over explicit transport + registry seams.
    * Fails fast if the source topic is missing (R9, `setMissingTopicsFatal`
    * ≡ `ReplicationApplication.java:41`).
    *
    * @param deadLetter when set, poison records (bad framing, unknown schema
    *                   id, corrupt body) are routed to this sink as
    *                   `(value, err)` instead of failing the stream; both
    *                   sinks commit idempotently under the same batch id, so
    *                   exactly-once holds for good and bad records alike. */
  def start(spark: SparkSession, source: TopicSource, sink: TopicSink,
            checkpointDir: String, subject: String,
            sourceRegistry: RegistryRef, targetRegistry: RegistryRef,
            idField: String, availableNow: Boolean): StreamingQuery =
    start(spark, source, sink, checkpointDir, subject,
      sourceRegistry, targetRegistry, idField, availableNow, None)

  def start(spark: SparkSession, source: TopicSource, sink: TopicSink,
            checkpointDir: String, subject: String,
            sourceRegistry: RegistryRef, targetRegistry: RegistryRef,
            idField: String, availableNow: Boolean,
            deadLetter: Option[TopicSink]): StreamingQuery = {
    require(source.exists,
      s"source topic $source does not exist (missing-topics-fatal)")
    val (_, readerSchema) = sourceRegistry.open().latest(subject).getOrElse(
      throw new IllegalStateException(s"no schema for subject $subject in source registry"))

    // R7: the serializer registers the value schema in the target registry
    // before first produce — idempotent re-registration, and the TARGET's id
    // (not the source's) goes on the wire. The key serializer likewise
    // registers the String key schema under the -key subject.
    val target = targetRegistry.open()
    val targetId = target.register(subject, readerSchema)
    registerKeySchema(target, subject)

    // R2 decode, R3 key := value.id and R7 re-encode in one expression: a
    // body whose writer schema is the subject schema passes through
    // re-framed, any other is decoded and encoded again (ReplicateWire).
    // Encoding is under the EXACT schema the target id names — deriving a
    // schema from the decoded struct would drift whenever the subject
    // schema is not a fixed point of the StructType→Avro mapping (general
    // unions, timestamp-millis, enums...), making the framed id lie about
    // the bytes.
    val fields = AvroSchemaConverter.toStructType(readerSchema).fieldNames
    val resolved = fields.filter(spark.sessionState.conf.resolver(_, idField))
    require(resolved.length == 1,
      s"id field $idField must name exactly one field of ${fields.mkString("[", ", ", "]")}")
    val replicated = source.stream(spark).select(col("value").as("raw"),
      AvroFunctions.replicateWire(col("value"), readerSchema.toString, sourceRegistry,
        resolved.head, targetId, targetRegistry.magic, deadLetter.isDefined).as("t"))
    val key = col("t.id").cast("string").as("key")

    val writer = deadLetter match {
      case None =>
        replicated.select(key, col("t.value").as("value")).writeStream
          .option("checkpointLocation", checkpointDir)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>                 // R4-R6, R8
            sink.commitBatch(batch, batchId)
          }
      case Some(dlq) =>
        replicated.select(col("raw"), col("t.err").as("err"), key, col("t.value").as("value"))
          .writeStream
          .option("checkpointLocation", checkpointDir)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>                 // R4-R6, R8
            val cached = batch.persist()
            try {
              sink.commitBatch(
                cached.filter(col("err").isNull).select("key", "value"), batchId)
              dlq.commitBatch(
                cached.filter(col("err").isNotNull)
                  .select(col("raw").as("value"), col("err")), batchId)
            } finally cached.unpersist()
          }
    }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** File-transport convenience: source topic as a flat parquet dir, target
    * as a [[FileTopicSink]], fingerprint-id file registries by root path. */
  def start(spark: SparkSession, topics: Topics, subject: String,
            sourceRegistryRoot: String, targetRegistryRoot: String,
            idField: String = "id", maxFilesPerTrigger: Int = 1,
            availableNow: Boolean = true): StreamingQuery =
    start(spark, FileTopicSource(topics.sourceDir, maxFilesPerTrigger),
      FileTopicSink(topics.targetDir), topics.checkpointDir, subject,
      FileRegistryRef(sourceRegistryRoot), FileRegistryRef(targetRegistryRoot),
      idField, availableNow)

  /** Consume the target topic with read-committed visibility, batch form
    * (streaming form: [[CommittedTopicSource]]). Committed batches are
    * exactly the renamed-in `batch=N` partitions. */
  def readCommitted(spark: SparkSession, targetDir: String): DataFrame =
    if (Commit.numbered(Paths.get(targetDir, "data"), "batch=").isEmpty)
      spark.emptyDataFrame
    else spark.read.parquet(s"$targetDir/data").drop("batch")
}
