package graft.avro

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap

import graft.{EvoFixture, SparkSpec}
import graft.streaming.{FileTopicSink, FileTopicSource, Replication}
import org.apache.avro.Schema
import org.apache.spark.sql.functions.col

/** Writer schemas are resolved once per stream per writer id, not once per
  * micro-batch task: a 10-file stream over two writer versions asks the
  * source registry for each id exactly once. */
class RegistryLookupsSpec extends SparkSpec {
  import RegistryLookupsSpec._

  test("a 10-file stream makes one byId per writer id") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-lookups").toString
    spark.sparkContext.parallelize(EvoFixture.interleaved(s"$root/regA", 1000), 10)
      .toDF("value").write.parquet(s"$root/topicA")
    val source = CountingRef(FileRegistryRef(s"$root/regA"))

    val q = Replication.start(spark,
      FileTopicSource(s"$root/topicA", 1), FileTopicSink(s"$root/topicB"),
      s"$root/ck", "evo-value", source, FileRegistryRef(s"$root/regB"),
      idField = "id", availableNow = true)
    q.awaitTermination(120000)

    assert(q.recentProgress.count(_.numInputRows > 0) === 10)
    assert(Replication.readCommitted(spark, s"$root/topicB").count() === 1000)
    val reg = new FileSchemaRegistry(s"$root/regA")
    val ids = Seq(EvoFixture.v1, EvoFixture.v2).map(SchemaRegistry.fingerprint)
    assert(ids.forall(reg.byId(_).isDefined))
    assert(byIdCalls.toMap.collect { case ((r, id), n) if r == source.root => id -> n.get } ===
      ids.map(_ -> 1).toMap)
  }

  test("a registry recreated at the same root is read with its new schemas") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-recreated")
    def stage(field: String, value: Long): (Array[Byte], String) = {
      val schema = new Schema.Parser().parse(
        s"""{"type":"record","name":"R","fields":[{"name":"$field","type":"long"}]}""")
      val reg = new ConfluentFileRegistry(root.resolve("reg").toString)
      val id = reg.register("r-value", schema)
      val rec = new org.apache.avro.generic.GenericData.Record(schema)
      rec.put(field, value)
      (WireFormat.frame(id, AvroCodec.encode(rec, schema), WireFormat.ConfluentMagic),
        schema.toString)
    }
    def decode(bytes: Array[Byte], schemaJson: String): Long =
      Seq(bytes).toDF("value")
        .select(AvroFunctions.fromAvroWire(col("value"), schemaJson,
          ConfluentRegistryRef(root.resolve("reg").toString)).as("r"))
        .select("r.*").as[Long].head()

    val (first, firstSchema) = stage("a", 1L)
    assert(decode(first, firstSchema) === 1L)
    org.apache.commons.io.FileUtils.deleteDirectory(root.resolve("reg").toFile)
    val (second, secondSchema) = stage("b", 2L)
    assert(WireFormat.locate(second)._1 === WireFormat.locate(first)._1,
      "a recreated Confluent registry reuses id 1")
    assert(decode(second, secondSchema) === 2L)
  }
}

object RegistryLookupsSpec {
  /** byId calls per (registry root, id), across every task in this JVM. */
  val byIdCalls = TrieMap.empty[(String, Long), AtomicInteger]

  final case class CountingRef(inner: FileRegistryRef) extends RegistryRef {
    def root: String = inner.root
    def magic: Byte = inner.magic
    def open(): SchemaRegistry = new SchemaRegistry {
      private val reg = inner.open()
      def register(subject: String, schema: Schema): Long = reg.register(subject, schema)
      def byId(id: Long): Option[Schema] = {
        byIdCalls.getOrElseUpdate((root, id), new AtomicInteger).incrementAndGet()
        reg.byId(id)
      }
      def latest(subject: String): Option[(Long, Schema)] = reg.latest(subject)
      def subjects: Seq[String] = reg.subjects
    }
  }
}
