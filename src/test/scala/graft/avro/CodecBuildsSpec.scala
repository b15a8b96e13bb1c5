package graft.avro

import java.nio.file.Files

import graft.{EvoFixture, SparkSpec}
import graft.streaming.{FileTopicSink, FileTopicSource, Replication}

/** The codec is compiled once per task, never per record: replicating 10k
  * records builds at most one [[AvroCodec.Decoding]] per (partition, writer
  * schema id) and one [[AvroCodec.Encoding]] per partition. */
class CodecBuildsSpec extends SparkSpec {

  test("replicating 10k records over 4 partitions builds codec state per task, not per record") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-builds").toString
    val partitions = 4
    val writerIds = 2
    spark.sparkContext.parallelize(EvoFixture.interleaved(s"$root/regA", 10000), partitions)
      .toDF("value").write.parquet(s"$root/topicA")

    val (decodings0, encodings0) =
      (AvroCodec.CodecBuilds.decodings.get, AvroCodec.CodecBuilds.encodings.get)
    Replication.start(spark,
      FileTopicSource(s"$root/topicA", partitions), FileTopicSink(s"$root/topicB"),
      s"$root/ck", "evo-value",
      FileRegistryRef(s"$root/regA"), FileRegistryRef(s"$root/regB"),
      idField = "id", availableNow = true).awaitTermination(120000)
    val decodings = AvroCodec.CodecBuilds.decodings.get - decodings0
    val encodings = AvroCodec.CodecBuilds.encodings.get - encodings0

    assert(Replication.readCommitted(spark, s"$root/topicB").count() === 10000)
    assert(decodings > 0 && decodings <= partitions * writerIds, s"$decodings decodings")
    assert(encodings > 0 && encodings <= partitions, s"$encodings encodings")
  }
}
