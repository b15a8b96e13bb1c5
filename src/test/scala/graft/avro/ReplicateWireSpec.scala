package graft.avro

import java.nio.file.Files

import graft.{EvoFixture, SparkSpec}
import graft.streaming.{FileTopicSink, FileTopicSource, Replication}
import org.apache.avro.generic.GenericData
import org.apache.spark.sql.functions.col

/** The replication fast path: a record whose writer schema is the subject
  * schema passes through re-framed, with no codec state built, and only
  * records of another writer schema are decoded and encoded again. */
class ReplicateWireSpec extends SparkSpec {

  private case class Counts(decodings: Long, encodings: Long, reframed: Long, transcoded: Long) {
    def -(o: Counts): Counts = Counts(decodings - o.decodings, encodings - o.encodings,
      reframed - o.reframed, transcoded - o.transcoded)
  }
  private def counts(): Counts = Counts(
    AvroCodec.CodecBuilds.decodings.get, AvroCodec.CodecBuilds.encodings.get,
    AvroCodec.Replicated.reframed.sum, AvroCodec.Replicated.transcoded.sum)

  /** Replicates `values` (over 4 partitions) from the file registry at
    * `regA`; the counts it took and the committed (key, value) pairs. */
  private def replicate(root: String, values: Seq[Array[Byte]]): (Counts, Map[String, Array[Byte]]) = {
    import spark.implicits._
    spark.sparkContext.parallelize(values, 4).toDF("value").write.parquet(s"$root/topicA")
    val before = counts()
    Replication.start(spark,
      FileTopicSource(s"$root/topicA", 4), FileTopicSink(s"$root/topicB"),
      s"$root/ck", "evo-value",
      FileRegistryRef(s"$root/regA"), FileRegistryRef(s"$root/regB"),
      idField = "id", availableNow = true).awaitTermination(120000)
    val delta = counts() - before
    val out = Replication.readCommitted(spark, s"$root/topicB")
      .select(col("key"), col("value")).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    (delta, out)
  }

  private def body(wire: Array[Byte]): Seq[Byte] = wire.drop(WireFormat.locate(wire)._2).toSeq

  test("10k writer == reader records re-frame with no codec built") {
    val root = Files.createTempDirectory("graft-reframe").toString
    val id = new FileSchemaRegistry(s"$root/regA").register("evo-value", EvoFixture.v2)
    val values = (0 until 10000).map { i =>
      val rec = new GenericData.Record(EvoFixture.v2)
      rec.put("id", i.toLong)
      rec.put("source", s"s$i")
      WireFormat.frame(id, AvroCodec.encode(rec, EvoFixture.v2))
    }
    val (delta, out) = replicate(root, values)

    assert(delta === Counts(decodings = 0, encodings = 0, reframed = 10000, transcoded = 0))
    assert(out.size === 10000)
    val targetId = new FileSchemaRegistry(s"$root/regB").latest("evo-value").get._1
    values.zipWithIndex.foreach { case (wire, i) =>
      val framed = out(i.toString)
      assert(WireFormat.locate(framed)._1 === targetId)
      assert(body(framed) === body(wire), s"record $i")
    }
  }

  test("a v1/v2 mix transcodes exactly the v1 records") {
    val root = Files.createTempDirectory("graft-reframe-mix").toString
    val n = 3000
    val (delta, out) = replicate(root, EvoFixture.interleaved(s"$root/regA", n))

    val v1 = (0 until n).count(_ % 3 == 0)
    assert(delta.transcoded === v1)
    assert(delta.reframed === n - v1)
    assert(delta.decodings > 0 && delta.encodings > 0)
    val sources = out.map { case (k, wire) =>
      k.toInt -> AvroCodec.decode(body(wire).toArray, EvoFixture.v2).get("source").toString
    }
    assert(sources === (0 until n).map(i => i -> (if (i % 3 == 0) "legacy" else s"s$i")).toMap)
  }
}
