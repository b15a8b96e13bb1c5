package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.streaming.{CommittedTopicSource, FileTopicSink, FileTopicSource, Replication, TopicSink, TopicSource}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The transport-seam CONFORMANCE CONTRACT (the standing missing_count=1):
  * the live Kafka + Confluent binding cannot link in this sandbox (no
  * `spark-sql-kafka` jar, no broker, zero egress — SURVEY §7), so the seam
  * is pinned instead: these tests are written against the [[TopicSource]]/
  * [[TopicSink]] TRAITS and assert exactly the guarantees
  * [[Replication.start]] relies on — the guarantees the reference gets
  * from Kafka itself (read-committed visibility
  * `ReplicationApplication.java:66,96-98`, idempotent redelivery after a
  * checkpoint replay, fail-fast on a missing topic
  * `ReplicationApplication.java:41-47`).
  *
  * A real `KafkaTopicSource`/`KafkaTopicSink` lands by:
  *   1. implementing the traits over `spark.readStream.format("kafka")`
  *      and a transactional producer whose commit marker is the
  *      transaction commit (replacing the file impl's atomic rename);
  *   2. subclassing THIS suite with its factories;
  *   3. passing unchanged — no pipeline edits, by construction of the seam.
  * SCALE.md §"Kafka binding" documents the recipe.
  */
abstract class TopicContract extends SparkSpec {

  /** Display name of the implementation under test. */
  def implName: String
  /** Sink bound to a topic address. */
  def makeSink(topic: String): TopicSink
  /** Source over the same topic layout the sink commits into (the chained
    *-consumer view: replicator B reading replicator A's target). */
  def makeChainSource(topic: String, maxFilesPerTrigger: Int): TopicSource
  /** Source probe for a topic address that may not exist (R9). */
  def makeProbeSource(topic: String): TopicSource
  /** Batch view of everything committed and visible on the topic. */
  def readVisible(topic: String): DataFrame
  /** Create the topic (the admin step `exists` probes for). */
  def createTopic(topic: String): Unit

  private def freshTopic(tag: String): String =
    Files.createTempDirectory(s"graft_contract_$tag").toString + "/topic"

  private def batchDf(ids: Range) = {
    import spark.implicits._
    ids.map(i => (f"k$i%04d", f"v$i%04d".getBytes("UTF-8")))
      .toDF("key", "value").repartition(1)
  }

  /** Files under a `.staging` directory anywhere in the topic's tree (none
    * for a topic that is not a directory). */
  private def stagedFiles(topic: String): Seq[String] = {
    val root = Paths.get(topic)
    if (!Files.exists(root)) Seq.empty
    else {
      val w = Files.walk(root)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(root.relativize(_).toString)
        .filter(_.split('/').exists(_.startsWith(".staging"))).toSeq
      finally w.close()
    }
  }

  private def visibleKeys(topic: String): Seq[String] = {
    val df = readVisible(topic)
    if (df.columns.isEmpty) Seq.empty
    else df.select("key").collect().map(_.getString(0)).toSeq.sorted
  }

  test(s"[$implName] exists probes the topic truthfully (R9 fail-fast is trustworthy)") {
    val topic = freshTopic("exists")
    assert(!makeProbeSource(topic).exists,
      "exists must be false for an absent topic — fail-fast R9 depends on it")
    createTopic(topic)
    assert(makeProbeSource(topic).exists,
      "exists must be true once the topic is created")
  }

  test(s"[$implName] a committed batch is visible in full, exactly once (R5/R6)") {
    val topic = freshTopic("commit")
    makeSink(topic).commitBatch(batchDf(0 until 10), batchId = 0L)
    assert(visibleKeys(topic) == (0 until 10).map(i => f"k$i%04d"),
      "commit must expose every record of the batch exactly once")
  }

  test(s"[$implName] redelivering a committed batchId is a no-op (R8/R10 idempotence)") {
    val topic = freshTopic("redeliver")
    val sink = makeSink(topic)
    sink.commitBatch(batchDf(0 until 5), batchId = 7L)
    // checkpoint replay after a crash re-offers the same micro-batch
    sink.commitBatch(batchDf(0 until 5), batchId = 7L)
    assert(visibleKeys(topic) == (0 until 5).map(i => f"k$i%04d"),
      "a redelivered batch must not duplicate records")
  }

  test(s"[$implName] a failed commit attempt is invisible; its retry lands exactly once (R6)") {
    val topic = freshTopic("atomic")
    val sink = makeSink(topic)
    val boom = udf((k: String) =>
      if (k == "k0003") throw new RuntimeException("injected commit failure")
      else k)
    intercept[Exception] {
      sink.commitBatch(batchDf(0 until 5).withColumn("key", boom(col("key"))),
        batchId = 0L)
    }
    assert(visibleKeys(topic).isEmpty,
      "a failed commit must be read-committed-invisible, not partially visible")
    sink.commitBatch(batchDf(0 until 5), batchId = 0L)
    assert(visibleKeys(topic) == (0 until 5).map(i => f"k$i%04d"),
      "the post-crash retry of the same batchId must land exactly once")
    assert(stagedFiles(topic).isEmpty,
      s"no staging may outlive the retry: ${stagedFiles(topic)}")
  }

  test(s"[$implName] a batchId replayed after later commits changes nothing (restart-replay race)") {
    val topic = freshTopic("replay")
    val sink = makeSink(topic)
    sink.commitBatch(batchDf(0 until 5), batchId = 0L)
    sink.commitBatch(batchDf(5 until 10), batchId = 1L)
    sink.commitBatch(batchDf(10 until 15), batchId = 2L)
    // restart where the engine's checkpoint lagged the sink: batch 1 is
    // re-offered AFTER batch 2 committed, and the replayed frame may even
    // be regenerated with different content (a re-computed micro-batch).
    // The sink must recognize the already-committed id and change nothing —
    // neither duplicating batch 1 nor letting the regenerated rows leak in.
    sink.commitBatch(batchDf(50 until 55), batchId = 1L)
    assert(visibleKeys(topic) == (0 until 15).map(i => f"k$i%04d"),
      "an out-of-order replay of a committed batchId must be a strict no-op")
  }

  test(s"[$implName] a mixed-schema-version batch crosses the seam byte-exact, resolving per record") {
    import org.apache.avro.Schema
    import org.apache.avro.generic.GenericData
    import spark.implicits._
    // the transport must be payload-agnostic: records produced under
    // DIFFERENT writer schema versions share one batch, and the reader
    // resolves each through its own framed id downstream of the seam
    // (the contract-level mirror of ReplicationSpec's mixed-schema test —
    // a Kafka impl that canonicalizes, trims or re-frames values breaks it)
    val topic = freshTopic("mixedschema")
    val regRoot = Files.createTempDirectory("graft_contract_reg").toString + "/reg"
    val v1 = new Schema.Parser().parse(
      """{"type":"record","name":"Evo","fields":[
        |  {"name":"id","type":"long"}]}""".stripMargin)
    val v2 = new Schema.Parser().parse(
      """{"type":"record","name":"Evo","fields":[
        |  {"name":"id","type":"long"},
        |  {"name":"source","type":"string","default":"legacy"}]}""".stripMargin)
    val reg = new graft.avro.FileSchemaRegistry(regRoot)
    val id1 = reg.register("evo-value", v1)
    val id2 = reg.register("evo-value", v2) // latest
    def enc(schema: Schema, id: Long, fill: GenericData.Record => Unit): Array[Byte] = {
      val rec = new GenericData.Record(schema)
      fill(rec)
      graft.avro.WireFormat.frame(id, graft.avro.AvroCodec.encode(rec, schema))
    }
    val rows = (0L until 5L).map(i => (f"k$i%04d", enc(v1, id1, _.put("id", i)))) ++
      (5L until 10L).map(i => (f"k$i%04d", enc(v2, id2, r => {
        r.put("id", i); r.put("source", s"s$i")
      })))
    makeSink(topic).commitBatch(rows.toDF("key", "value").repartition(1), 0L)
    val got = readVisible(topic)
      .select(col("key"), graft.avro.AvroFunctions.fromAvroWire(
        col("value"), v2.toString, graft.avro.FileRegistryRef(regRoot)).as("r"))
      .select(col("key"), col("r.id"), col("r.source"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._2)
    assert(got.length == 10, s"every mixed-version record must survive: ${got.length}/10")
    got.foreach { case (k, id, src) =>
      assert(k == f"k$id%04d", s"key/payload pairing broke at id=$id")
      // v1 records resolve with v2's default; v2 records keep their value —
      // possible only if the seam preserved each record's framed writer id
      if (id < 5) assert(src == "legacy", s"v1 record $id lost its framed id")
      else assert(src == s"s$id", s"v2 record $id mis-resolved to $src")
    }
  }

  test(s"[$implName] a chained consumer sees whole batches, in commit order, exactly once") {
    val topic = freshTopic("chain")
    val sink = makeSink(topic)
    (0L until 3L).foreach { b =>
      sink.commitBatch(batchDf(b.toInt * 10 until b.toInt * 10 + 10), b)
      Thread.sleep(5) // distinct mtimes: commit order == listing order
    }
    val arrivals = new java.util.concurrent.CopyOnWriteArrayList[(Long, Seq[Long], Seq[String])]()
    val q = makeChainSource(topic, maxFilesPerTrigger = 1).stream(spark)
      .writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        val rows = df.select(col("batch"), col("key")).collect()
        arrivals.add((id, rows.map(_.getLong(0)).toSeq,
          rows.map(_.getString(1)).toSeq)): Unit
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft_contract_chain_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val seen = arrivals.asScala.toSeq.sortBy(_._1)
    // exactly once, all 30 records
    val allKeys = seen.flatMap(_._3)
    assert(allKeys.sorted == (0 until 30).map(i => f"k$i%04d"),
      s"chained consumer must see every committed record exactly once, got ${allKeys.size}")
    // whole batches in commit order: the batch ids across arrival order are
    // non-decreasing (a later-committed batch never preempts an earlier one)
    val batchSeq = seen.flatMap(_._2)
    assert(batchSeq == batchSeq.sorted,
      s"batches must arrive in commit order, got $batchSeq")
  }
}

/** The file implementation must pass its own seam contract. */
class FileTopicContractSpec extends TopicContract {
  def implName: String = "file"
  def makeSink(topic: String): TopicSink = FileTopicSink(topic)
  def makeChainSource(topic: String, maxFilesPerTrigger: Int): TopicSource =
    CommittedTopicSource(topic, maxFilesPerTrigger)
  def makeProbeSource(topic: String): TopicSource = FileTopicSource(topic)
  def readVisible(topic: String): DataFrame =
    Replication.readCommitted(spark, topic)
  def createTopic(topic: String): Unit = {
    Files.createDirectories(Paths.get(topic)): Unit
  }
}
