package graft.avro

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap

import graft.{SparkSpec, Tables}
import graft.streaming.{FileTopicSink, FileTopicSource, Replication}
import org.apache.spark.TaskContext

/** Outside executor tasks each registry is opened once per use: once per
  * registry per `Replication.start`, once per `stageSource`. Against an
  * HTTP registry every open is a new client. */
class RegistryOpensSpec extends SparkSpec {
  import RegistryOpensSpec._

  test("start opens each registry once outside tasks; stageSource opens its registry once") {
    val root = Files.createTempDirectory("graft-opens").toString
    val (source, target) = (OpenCountingRef(s"$root/regA"), OpenCountingRef(s"$root/regB"))
    Replication.stageSource(Tables.events(spark, sf).limit(50), s"$root/topicA",
      "events-value", source, "Event")
    assert(opensOutsideTasks(source.root) === 1)

    Replication.start(spark,
      FileTopicSource(s"$root/topicA", 1), FileTopicSink(s"$root/topicB"),
      s"$root/ck", "events-value", source, target,
      idField = "event_id", availableNow = true).awaitTermination(120000)
    assert(Replication.readCommitted(spark, s"$root/topicB").count() === 50)
    assert(opensOutsideTasks(source.root) === 2)
    assert(opensOutsideTasks(target.root) === 1)
  }
}

object RegistryOpensSpec {
  /** Opens outside any task, per registry root, across this JVM. */
  val opens = TrieMap.empty[String, AtomicInteger]
  def opensOutsideTasks(root: String): Int = opens.get(root).fold(0)(_.get)

  final case class OpenCountingRef(root: String) extends RegistryRef {
    def magic: Byte = WireFormat.GraftMagic
    def open(): SchemaRegistry = {
      if (TaskContext.get() == null)
        opens.getOrElseUpdate(root, new AtomicInteger).incrementAndGet()
      new FileSchemaRegistry(root)
    }
  }
}
