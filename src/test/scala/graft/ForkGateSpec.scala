package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.avro.FileRegistryRef
import graft.streaming.{FileTopicSink, FileTopicSource, Replication}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** No process forks on the I/O path. Hadoop's local filesystem forks a
  * shell (`chmod`, `readlink`, `ls`, `stat`) per file operation when
  * `libhadoop` is missing; at 4–11 ms a fork, that was most of a small
  * micro-batch's fixed cost. The session routes the `file` scheme through
  * [[ForkFreeLocalFileSystem]] and [[ForkFreeLocalFs]]; this spec records
  * every process the JVM starts (JFR `jdk.ProcessStart`) while a stream
  * replicates two batches and a reader reads them back. */
class ForkGateSpec extends SparkSpec {

  test("a two-batch replication and a committed read fork no file-operation shell") {
    val root = Files.createTempDirectory("graft-forks").toString
    val events = Tables.events(spark, sf).limit(40)
    val commands = ForkGateSpec.processesStarted {
      Replication.stageSource(events.repartition(2), s"$root/topicA", "events-value",
        FileRegistryRef(s"$root/regA"), "Event")
      Replication.start(spark, FileTopicSource(s"$root/topicA", 1),
        FileTopicSink(s"$root/topicB"), s"$root/ck", "events-value",
        FileRegistryRef(s"$root/regA"), FileRegistryRef(s"$root/regB"),
        idField = "event_id", availableNow = true).awaitTermination(120000)
      assert(Replication.readCommitted(spark, s"$root/topicB").count() === 40)
    }
    val batches = new java.io.File(s"$root/ck/commits").list().count(_.forall(_.isDigit))
    assert(batches === 2, "the stream must have run two batches")
    val shells = commands.filter(ForkGateSpec.FileOpShell.findFirstIn(_).isDefined)
    assert(shells.size === 0,
      s"${shells.size} file-operation shells forked, e.g.:\n  " + shells.take(5).mkString("\n  "))
  }
}

object ForkGateSpec {
  /** A command line that starts with one of the shell tools Hadoop's local
    * filesystem falls back to. */
  val FileOpShell = "^(?:\\S*/)?(?:chmod|readlink|ls|stat)(?:\\s|$)".r

  /** The command line of every process the JVM started while `body` ran. */
  def processesStarted(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val file = Files.createTempFile("graft-forks", ".jfr")
      try {
        rec.dump(file)
        RecordingFile.readAllEvents(file).asScala.toSeq.map(_.getString("command"))
      } finally Files.delete(file)
    } finally rec.close()
  }
}
