package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.jdk.CollectionConverters._

/** Pipeline observability — the Spark-native mapping of the reference's
  * producer-side send callbacks and counters
  * (`ReplicationApplication.java:73-76` logs per-record send results; R4).
  *
  * Spark already aggregates per-record outcomes into per-batch progress
  * events (a record-granular callback would serialize the hot path — the
  * engine deliberately surfaces the same information at batch granularity,
  * which is also what Kafka's producer callbacks get coalesced into under
  * `linger.ms` batching). The listener records, per non-empty
  * micro-batch, the rows in, each phase's duration (`durationMs`: e.g.
  * `latestOffset`, `getBatch`, `queryPlanning`, `walCommit`, `addBatch`,
  * `commitOffsets` and the whole `triggerExecution`) and their sum, plus
  * per-stream totals of rows and batches — enough to
  * derive the reference's "how many records were replicated, how fast"
  * without touching the data path. It records no event-time watermark:
  * the replication stream defines none.
  */
final class ReplicationMetrics extends StreamingQueryListener {

  /** @param durationMs the sum of `phases`
    * @param phases     each phase's duration in ms, by Spark's phase name */
  final case class BatchMetric(queryId: java.util.UUID, batchId: Long,
                               inputRows: Long, durationMs: Long, timestamp: String,
                               phases: Map[String, Long])

  private final class Totals {
    val rows = new java.util.concurrent.atomic.AtomicLong()
    val batches = new java.util.concurrent.atomic.AtomicLong()
  }

  // Rollup counters are unbounded-safe; the per-batch ledger is CAPPED — a
  // long-lived stream at a 1 s trigger would otherwise accrete ~86k entries
  // per day per stream, forever (the listener is session-wide).
  private val RecentCap = 4096
  private val recent =
    new java.util.concurrent.ConcurrentLinkedDeque[BatchMetric]()
  private val totals =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Totals]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    // AvailableNow emits trailing zero-row progress heartbeats; keep them
    // out of the batch ledger (they carry no replicated records).
    if (p.numInputRows > 0) {
      val t = totals.computeIfAbsent(p.id, _ => new Totals)
      t.rows.addAndGet(p.numInputRows)
      t.batches.incrementAndGet()
      val phases = p.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap
      recent.addLast(BatchMetric(p.id, p.batchId, p.numInputRows,
        phases.values.sum, p.timestamp, phases))
      while (recent.size() > RecentCap) recent.pollFirst()
    }
  }

  /** The most recent non-empty batches (bounded window), arrival order.
    * Listeners are session-wide, so entries from every active stream land
    * here — scope with `queryId` when more than one stream runs (e.g. a
    * chained A→B→C). Totals below never lose history. */
  def snapshot: Seq[BatchMetric] = recent.iterator().asScala.toSeq

  def snapshot(queryId: java.util.UUID): Seq[BatchMetric] =
    snapshot.filter(_.queryId == queryId)

  /** Total replicated records (≡ the reference's send-success counter). */
  def totalRows: Long = totals.values().asScala.map(_.rows.get()).sum

  def totalRows(queryId: java.util.UUID): Long =
    Option(totals.get(queryId)).map(_.rows.get()).getOrElse(0L)

  def batchCount: Long = totals.values().asScala.map(_.batches.get()).sum

  def batchCount(queryId: java.util.UUID): Long =
    Option(totals.get(queryId)).map(_.batches.get()).getOrElse(0L)
}

object ReplicationMetrics {
  /** Attach a fresh listener to the session; detach with `remove`. */
  def attach(spark: SparkSession): ReplicationMetrics = {
    val m = new ReplicationMetrics
    spark.streams.addListener(m)
    m
  }

  def remove(spark: SparkSession, m: ReplicationMetrics): Unit =
    spark.streams.removeListener(m)
}
