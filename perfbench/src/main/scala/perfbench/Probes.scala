package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import graft.avro.{RegistryRef, SchemaRegistry}
import graft.streaming.TopicSink
import org.apache.avro.Schema
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** In-memory spans for the traced run. Each span has a name, a layer (what
  * its self time is charged to), start/end on the `System.nanoTime` clock,
  * a parent and the run id. Spans opened with [[span]] nest on the calling
  * thread; spans rebuilt after the fact (micro-batch phases from streaming
  * progress) name their parent explicitly. Spans recorded on a thread with
  * no open span (registry calls inside tasks) get parent -1: they run
  * concurrently with the timeline and are kept out of self-time accounting.
  */
object Trace {
  final case class Span(id: Long, name: String, layer: String, start: Long,
                        end: Long, parent: Long, runId: String)

  @volatile var enabled = false
  val runId: String = java.util.UUID.randomUUID().toString
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def current: Long = stack.get.headOption.getOrElse(-1L)

  def record(name: String, layer: String, start: Long, end: Long,
             parent: Long = current): Long = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Span(id, name, layer, start, end, parent, runId))
    id
  }

  def span[T](name: String, layer: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = current
    val t0 = System.nanoTime()
    stack.set(id :: stack.get)
    try body
    finally {
      stack.set(stack.get.tail)
      if (enabled)
        spans.add(Span(id, name, layer, t0, System.nanoTime(), parent, runId))
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer, in ms, over the spans that descend from `root`:
    * each span's duration minus its children's, clamped at zero. The
    * `skip` spans and their subtrees are charged to no layer. */
  def selfTimes(root: Long, skip: Set[Long] = Set.empty): Map[String, Double] = {
    val ss = all
    val byParent = ss.groupBy(_.parent)
    def walk(s: Span): Seq[(String, Double)] = {
      val kids = byParent.getOrElse(s.id, Nil)
      val own = math.max(0L, (s.end - s.start) - kids.map(k => k.end - k.start).sum)
      if (skip(s.id)) Nil else (s.layer -> own / 1e6) +: kids.flatMap(walk)
    }
    ss.find(_.id == root).toSeq.flatMap(walk)
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"run":${Json.str(s.runId)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Task metrics per Spark job group. Catalog queries run under their own
  * group; a streaming query's jobs carry its run id as group. Events arrive
  * on the listener bus, so readers call [[settle]] first. */
final class ExecProbe extends SparkListener {
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "cpu_ms", "run_ms",
    "gc_ms", "input_bytes", "output_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes")
  private val stageGroup = TrieMap.empty[Int, String]
  private val totals = TrieMap.empty[String, TrieMap[String, LongAdder]]
  private val events = new AtomicLong()

  private def add(group: String, key: String, v: Long): Unit =
    totals.getOrElseUpdate(group, TrieMap.empty)
      .getOrElseUpdate(key, new LongAdder).add(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    e.stageIds.foreach(stageGroup.put(_, group))
    add(group, "jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    add(stageGroup.getOrElse(e.stageInfo.stageId, "none"), "stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val g = stageGroup.getOrElse(e.stageId, "none")
    val m = e.taskMetrics
    add(g, "tasks", 1)
    if (m != null) {
      add(g, "cpu_ms", m.executorCpuTime / 1000000L)
      add(g, "run_ms", m.executorRunTime)
      add(g, "gc_ms", m.jvmGCTime)
      add(g, "input_bytes", m.inputMetrics.bytesRead)
      add(g, "output_bytes", m.outputMetrics.bytesWritten)
      add(g, "shuffle_read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      add(g, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(g, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Wait until no listener event has arrived for 300 ms (at most 10 s). */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while (events.get != last && System.nanoTime() < deadline) {
      last = events.get
      Thread.sleep(300)
    }
  }

  def snapshot(group: String): Map[String, Long] =
    Keys.map(k => k -> totals.get(group).flatMap(_.get(k)).map(_.sum).getOrElse(0L)).toMap

  def snapshotAll(groups: String => Boolean): Map[String, Long] =
    Keys.map(k => k -> totals.collect { case (g, m) if groups(g) =>
      m.get(k).map(_.sum).getOrElse(0L) }.sum).toMap
}

/** Counters for registry traffic, shared by every copy of a
  * [[CountingRegistryRef]] in this JVM (executors are local threads). */
object RegistryCounters {
  val opens, byIdCalls, byIdNs, registerCalls, latestCalls, httpRequests = new LongAdder
  def reset(): Unit = Seq(opens, byIdCalls, byIdNs, registerCalls, latestCalls,
    httpRequests).foreach(_.reset())
}

/** Wraps a registry so that, while tracing is on, every call is counted
  * (client side: also timed and spanned). */
final class CountingRegistry(inner: SchemaRegistry, server: Boolean) extends SchemaRegistry {
  private def timed[T](name: String, counter: LongAdder)(body: => T): T =
    if (!Trace.enabled) body
    else {
    if (server) RegistryCounters.httpRequests.increment()
    else counter.increment()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      if (!server) {
        if (counter eq RegistryCounters.byIdCalls) RegistryCounters.byIdNs.add(t1 - t0)
        Trace.record(s"registry.$name", "registry", t0, t1)
      }
    }
    }
  def register(subject: String, schema: Schema): Long =
    timed("register", RegistryCounters.registerCalls)(inner.register(subject, schema))
  def byId(id: Long): Option[Schema] =
    timed("by_id", RegistryCounters.byIdCalls)(inner.byId(id))
  def latest(subject: String): Option[(Long, Schema)] =
    timed("latest", RegistryCounters.latestCalls)(inner.latest(subject))
  def subjects: Seq[String] =
    timed("subjects", RegistryCounters.latestCalls)(inner.subjects)
  override def latestVersion(subject: String): Option[Int] =
    timed("latest_version", RegistryCounters.latestCalls)(inner.latestVersion(subject))
  override def latestEntry(subject: String): Option[(Int, Long, Schema)] =
    timed("latest_entry", RegistryCounters.latestCalls)(inner.latestEntry(subject))
}

final case class CountingRegistryRef(inner: RegistryRef) extends RegistryRef {
  def open(): SchemaRegistry = {
    RegistryCounters.opens.increment()
    new CountingRegistry(inner.open(), server = false)
  }
  def magic: Byte = inner.magic
}

/** Commit log of a [[TimedSink]]: per batch id, when its commit returned. */
object CommitLog {
  final case class Commit(batchId: Long, start: Long, end: Long, redelivered: Boolean)
  val commits = new ConcurrentLinkedQueue[Commit]()
  def reset(): Unit = commits.clear()
  def all: Seq[Commit] = commits.asScala.toSeq
}

/** Delegates to the wrapped sink and records each commit's start and
  * return time, and whether the batch id had already been committed. The
  * commit spans are built from this log under their batch's addBatch span. */
final case class TimedSink(inner: TopicSink, committedDir: String) extends TopicSink {
  def commitBatch(batch: DataFrame, batchId: Long): Unit = {
    val again = java.nio.file.Files.exists(
      java.nio.file.Paths.get(committedDir, "data", s"batch=$batchId"))
    val t0 = System.nanoTime()
    inner.commitBatch(batch, batchId)
    CommitLog.commits.add(CommitLog.Commit(batchId, t0, System.nanoTime(), again))
  }
}

/** Minimal JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}
