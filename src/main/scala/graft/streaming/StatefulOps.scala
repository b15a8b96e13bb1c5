package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Arbitrary-state streaming operators (SURVEY.md §2.2 "streaming" —
  * generalizing the reference's per-batch processing loop into keyed,
  * checkpointed state).
  *
  * State design for 100 TB streams: state lives in the executor-local state
  * store keyed by user, sized O(active keys) — the shuffle partitions the
  * stream once on the grouping key and every micro-batch touches only its
  * delta. Watermarks (set by the caller) bound retention.
  */
object StatefulOps {

  /** `event_id` breaks (user_id, ts) ties deterministically (the batch
    * operators order by (ts, event_id)); it defaults to 0 for callers whose
    * streams carry unique (user_id, ts) pairs. */
  final case class Event(user_id: Long, event_type: String, ts: Timestamp,
                         value: Double, event_id: Long = 0L)
  final case class UserRunning(user_id: Long, n: Long, sum_value: Double)

  /** Per-user running (count, sum) — emitted once per micro-batch per
    * updated key (OutputMode.Update). */
  def runningPerUser(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(user, 0L, 0.0))
          var n = prev.n
          var s = prev.sum_value
          batch.foreach { e => n += 1; s += e.value }
          val next = UserRunning(user, n, s)
          state.update(next)
          next
      }
  }

  /** Output mode the runner must use for [[runningPerUser]]. */
  val runningOutputMode: OutputMode = OutputMode.Update()

  final case class OpenSession(start: Timestamp, last: Timestamp, n: Long)
  final case class Session(user_id: Long, start: Timestamp, end: Timestamp, n_events: Long)

  /** Gap-based sessionization via flatMapGroupsWithState — the API for
    * operators that emit ZERO OR MANY records per key per batch (a closed
    * session mid-batch, none while a session stays open), which
    * mapGroupsWithState's exactly-one-output contract cannot express.
    * Event-time timeout closes idle sessions when the WATERMARK (set by
    * the caller on `ts`) passes last+gap — so emission is driven by
    * event-time progress, replayable and deterministic, not wall-clock.
    * State per key is one (start, last, n) triple; the state store holds
    * O(open sessions), bounded by the watermark. */
  def sessions(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, batch: Iterator[Event], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val closed = state.getOption
              .map(o => Session(user, o.start, o.last, o.n)).iterator
            state.remove()
            closed
          } else {
            // micro-batch iterators are not time-ordered; session logic is.
            // A late event (older than the open session's `last` but within
            // the gap) must MERGE without rewinding the bounds — min/max
            // keeps start ≤ end and never shortens the timeout.
            // Memory: this buffers ONE USER's slice of one micro-batch —
            // bounded by per-user arrival rate × trigger interval, not by
            // batch size (user_id is high-cardinality, unlike the
            // low-cardinality source key QuotaAdmitProcessor bounds for).
            val sorted = batch.toArray.sortBy(_.ts.getTime)
            var open = state.getOption
            val closed = List.newBuilder[Session]
            sorted.foreach { e =>
              open match {
                case Some(o) if e.ts.getTime - o.last.getTime <= gapMs =>
                  open = Some(OpenSession(
                    new Timestamp(math.min(o.start.getTime, e.ts.getTime)),
                    new Timestamp(math.max(o.last.getTime, e.ts.getTime)),
                    o.n + 1))
                case Some(o) =>
                  closed += Session(user, o.start, o.last, o.n)
                  open = Some(OpenSession(e.ts, e.ts, 1L))
                case None =>
                  open = Some(OpenSession(e.ts, e.ts, 1L))
              }
            }
            open.foreach { o =>
              state.update(o)
              // a timeout at-or-below the watermark is illegal (all-late
              // batches can produce one); clamp just past it so the close
              // fires on the next watermark advance
              state.setTimeoutTimestamp(
                math.max(o.last.getTime + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.result().iterator
          }
      }
  }

  /** The same running counter on the transformWithState API (Spark 4's
    * successor to mapGroupsWithState): explicit typed state variables in the
    * StatefulProcessorHandle, per-key timers available, state evolvable
    * independently of the output type. */
  class RunningCounterProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserRunning] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues}

    @transient private var state: org.apache.spark.sql.streaming.ValueState[UserRunning] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserRunning](
        "running", Encoders.product[UserRunning], org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[UserRunning] = {
      val prev = Option(state.get()).getOrElse(UserRunning(user, 0L, 0.0))
      var n = prev.n
      var s = prev.sum_value
      rows.foreach { e => n += 1; s += e.value }
      val next = UserRunning(user, n, s)
      state.update(next)
      Iterator.single(next)
    }
  }

  /** Per-user running (count, sum) via transformWithState. */
  def runningPerUserTws(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningCounterProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  final case class EwmaWindow(n: Long, newestFirst: Seq[Long])
  final case class EwmaOut(user_id: Long, n_events: Long,
                           last_micros: Long, ewma_micros: Long)

  /** Streaming form of the batch q194 closed-form EWMA: state per user is
    * the 8 newest value-micros (dyadic weights 2^(7-k) truncate below micro
    * resolution past depth 8 — the identical argument the batch operator
    * makes), so the state store holds EIGHT longs per active user no matter
    * how long the stream runs — the O(active keys) discipline of this file,
    * with a constant per-key footprint. Each batch's rows are sorted by
    * (ts, event_id) INSIDE the handler — the same total order the batch
    * q194 window uses — so neither arrival interleaving nor same-timestamp
    * ties within a micro-batch can perturb the window (cross-batch order is
    * the caller's watermarking contract, as everywhere in this file; a
    * same-(user, ts) pair split ACROSS batches is ordered by batch, so feed
    * ties within one batch). Emission mirrors q194's columns exactly; the
    * StreamingOpsSpec pins streaming == batch on the same data. */
  class EwmaProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, EwmaOut] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues}

    @transient private var state: org.apache.spark.sql.streaming.ValueState[EwmaWindow] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[EwmaWindow](
        "ewma", Encoders.product[EwmaWindow], org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[EwmaOut] = {
      val prev = Option(state.get()).getOrElse(EwmaWindow(0L, Nil))
      // memory: one user's slice of one micro-batch (high-cardinality key —
      // see the sessionizer's note), sorted for deterministic event order
      val incoming = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        .map(e => math.floor(e.value * 1000000).toLong)
      val window = (incoming.reverse ++ prev.newestFirst).take(8)
      val next = EwmaWindow(prev.n + incoming.size, window)
      state.update(next)
      if (window.isEmpty) Iterator.empty
      else {
        val weights = window.indices.map(k => 1L << (7 - k))
        val num = window.zip(weights).map { case (v, w) => v * w }.sum
        val den = weights.sum
        Iterator.single(EwmaOut(user, next.n, window.head, num / den))
      }
    }
  }

  /** Per-user streaming EWMA (dyadic weights, depth 8) via
    * transformWithState; emits the updated smoother once per key per
    * micro-batch (OutputMode.Update). */
  def ewmaPerUserTws(events: Dataset[Event]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .groupByKey(_.user_id)
      .transformWithState(new EwmaProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** `weight` lets the upstream pre-aggregate cell hits
    * (groupBy(row, bucket).count → one weighted cell per bucket per batch)
    * so the shuffle to the 4 state keys carries O(buckets), not O(tokens);
    * it defaults to 1 for a raw one-row-per-hit feed. */
  final case class CmsCell(row_i: Int, bucket: Long, weight: Long = 1L)
  final case class CmsRow(row_i: Int, cells: Seq[Long])

  /** Streaming Count-Min accumulation — the incremental form of q215's
    * batch sketch: state per hash row is the full 256-counter array (the
    * sketch IS the bounded state — 4×256 longs for the whole stream, the
    * textbook reason CMS exists), each micro-batch folds its cell hits in,
    * and the updated row is emitted for downstream point queries. Keying by
    * hash row gives only 4 keys — deliberately: the sketch's parallelism
    * comes from the map-side pre-aggregation of cell hits upstream
    * (groupBy(row, bucket).count before the shuffle at scale, carried in
    * CmsCell.weight), not from
    * sharding the tiny state. Counter arrays merge by element-wise sum, so
    * a repartitioned or replayed stream converges to the identical sketch
    * — the q92/q85 mergeable-partial discipline, live. */
  class CmsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Int, CmsCell, CmsRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues}

    @transient private var state: org.apache.spark.sql.streaming.ValueState[CmsRow] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[CmsRow](
        "cms", Encoders.product[CmsRow], org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(row: Int, rows: Iterator[CmsCell],
                                 timers: TimerValues): Iterator[CmsRow] = {
      val cells = Option(state.get()).map(_.cells.toArray)
        .getOrElse(Array.fill(256)(0L))
      rows.foreach { c =>
        require(c.bucket >= 0L && c.bucket < 256L,
          s"CmsCell.bucket must be in [0, 256), got ${c.bucket} (row ${c.row_i})")
        cells(c.bucket.toInt) += c.weight
      }
      val next = CmsRow(row, cells.toSeq)
      state.update(next)
      Iterator.single(next)
    }
  }

  /** Streaming CMS over pre-hashed cell hits (see q215 for the hash
    * family); emits each hash row's updated counters per micro-batch. */
  def cmsTws(cells: Dataset[CmsCell]): Dataset[CmsRow] = {
    import cells.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    cells
      .groupByKey(_.row_i)
      .transformWithState(new CmsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** One document arrival for [[admitOnceTws]]: `h` is the content address
    * (q160's lead fingerprint — or any band/bucket key for near-dup
    * admission), `epoch` the ingest generation the row belongs to (0 =
    * pre-existing corpus, 1 = today's crawl, ...). Epoch is DATA, not a
    * micro-batch artifact — that is what makes the dupe classification
    * batch-boundary-invariant. */
  final case class Doc(h: String, doc_id: Long, source: String, epoch: Int)
  final case class AdmitDecision(doc_id: Long, source: String, epoch: Int,
                                 status: String)
  final case class AdmitState(first_doc_id: Long, first_epoch: Int,
                              last_seen_epoch: Int)

  /** Streaming admit-once dedup — the live form of batch q160's incremental
    * dedup: the state store IS the signature index (one small fixed record
    * per distinct content address, partitioned by `h` across executors), a
    * new arrival is admitted iff its address was never seen, and rejections
    * carry q160's audit taxonomy — `batch_dupe` when the address was
    * already seen in the SAME epoch (q160's rn>1), `index_dupe` when it was
    * admitted by an earlier epoch (q160's rn=1 ∧ index hit). Because the
    * classification keys off the row's epoch field rather than micro-batch
    * membership, re-chunking the stream cannot change any decision
    * (StreamingOpsSpec pins 3-batch == 7-batch == batch q160). Within one
    * micro-batch rows sort by (epoch, doc_id) — the batch operator's
    * first-id-wins order; cross-batch delivery order is the caller's
    * contract, as everywhere in this file. At 100 TB the per-key state is
    * ~24 bytes against a 32-byte digest key — the same digests-only
    * discipline as q160's index join, with a bloom front (q96/q108) on the
    * input stream dropping the ~all-novel majority before the shuffle. */
  class AdmitOnceProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, Doc, AdmitDecision] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues}

    @transient private var state: org.apache.spark.sql.streaming.ValueState[AdmitState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[AdmitState](
        "admit", Encoders.product[AdmitState], org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(h: String, rows: Iterator[Doc],
                                 timers: TimerValues): Iterator[AdmitDecision] = {
      // memory: one DIGEST's slice of one micro-batch — the number of
      // copies of one document arriving together, which no realistic skew
      // makes large (cf. QuotaAdmitProcessor, whose low-cardinality source
      // key is why it needs a bounded selection instead of this sort)
      rows.toSeq.sortBy(d => (d.epoch, d.doc_id)).iterator.map { d =>
        val status = Option(state.get()) match {
          case None =>
            state.update(AdmitState(d.doc_id, d.epoch, d.epoch))
            "admitted"
          case Some(st) =>
            state.update(st.copy(last_seen_epoch = d.epoch))
            if (st.last_seen_epoch == d.epoch) "batch_dupe" else "index_dupe"
        }
        AdmitDecision(d.doc_id, d.source, d.epoch, status)
      }
    }
  }

  /** Keyed admit-once dedup via transformWithState (Append: every arrival
    * yields exactly one decision row, decided once, never revised). */
  def admitOnceTws(docs: Dataset[Doc]): Dataset[AdmitDecision] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    docs
      .groupByKey(_.h)
      .transformWithState(new AdmitOnceProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** One arrival for [[quotaAdmitTws]]: `pri` is the caller's admission
    * priority (lower admits first within a micro-batch — e.g. q228's LCG
    * value for a deterministic mix, or a quality score's negation for
    * best-first admission). */
  final case class SrcDoc(doc_id: Long, source: String, pri: Long)
  final case class QuotaDecision(doc_id: Long, source: String, rk: Long,
                                 admitted: Boolean)
  // public like AdmitState: Catalyst codegen cannot reference a private
  // class and silently falls back to interpreted state (de)serialization
  final case class QuotaState(admitted: Long)

  /** Streaming per-source quota admission — the live form of batch q228's
    * temperature mixer: state per source is ONE counter, an arrival is
    * admitted iff the source's counter is below its quota, and admitted
    * rows carry their 1-based admission rank. Within a micro-batch the
    * `quota − admitted` smallest (pri, doc_id) arrivals win — feed arrivals
    * in priority order and the admitted set is exactly the batch mixer's
    * selection (StreamingOpsSpec pins 3-chunk == 7-chunk == batch q228);
    * cross-batch delivery order is the caller's contract, as everywhere in
    * this file. Decisions are decided once and never revised (Append), and
    * the state-store checkpoint rolls counters back with the batch on
    * restart, so replay cannot double-count. At 100 TB the state is 8 bytes
    * per source — thousands of keys, not billions — while the arrival
    * stream itself never shuffles anywhere but the groupByKey on the
    * low-cardinality source. */
  class QuotaAdmitProcessor(quotas: Map[String, Long])
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, SrcDoc, QuotaDecision] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues}

    @transient private var state: org.apache.spark.sql.streaming.ValueState[QuotaState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[QuotaState](
        "quota", Encoders.product[QuotaState], org.apache.spark.sql.streaming.TTLConfig.NONE)

    /** Memory contract: executor heap per source is O(min(quota − admitted,
      * slice)) — a bounded selection heap, never the micro-batch slice. A
      * saturated source streams rejections through with zero buffering; an
      * unsaturated one keeps only the current k-smallest candidates, and an
      * arrival (or the evictee it displaces) is rejected the moment it
      * loses. Decisions are identical to sorting the whole slice by
      * (pri, doc_id) and admitting the head (the pre-round-9 shape, kept as
      * the reference in StreamingOpsSpec's mega-slice test), but a skewed
      * mega-source can no longer blow a task's heap. */
    override def handleInputRows(source: String, rows: Iterator[SrcDoc],
                                 timers: TimerValues): Iterator[QuotaDecision] = {
      val quota = quotas.getOrElse(source, 0L)
      val n0 = Option(state.get()).map(_.admitted).getOrElse(0L)
      val room = quota - n0
      def reject(d: SrcDoc) = QuotaDecision(d.doc_id, d.source, 0L, admitted = false)
      if (room <= 0L) {
        // saturated: ordering no longer affects any decision — pass
        // rejections straight through; the counter does not move
        rows.map(reject)
      } else {
        // worst-of-the-best at the head, so the heap never exceeds `room`
        val cmp = Ordering.by[SrcDoc, (Long, Long)](d => (d.pri, d.doc_id))
        val heap = new java.util.PriorityQueue[SrcDoc](
          math.max(1, math.min(room, 1024L).toInt), cmp.reverse)
        val rejections = rows.flatMap { d =>
          if (heap.size < room) { heap.add(d); Iterator.empty }
          else if (cmp.lt(d, heap.peek())) {
            val evicted = heap.poll(); heap.add(d); Iterator.single(reject(evicted))
          } else Iterator.single(reject(d))
        }
        // evaluated only once `rows` is exhausted (++ is by-name); the
        // execution engine keeps the implicit grouping key set around lazy
        // consumption (iteratorWithImplicitKeySet), so the state write
        // here lands before the batch commits
        def admitted: Iterator[QuotaDecision] = {
          val survivors = new Array[SrcDoc](heap.size)
          var i = survivors.length - 1
          while (i >= 0) { survivors(i) = heap.poll(); i -= 1 }
          state.update(QuotaState(n0 + survivors.length))
          survivors.iterator.zipWithIndex.map { case (d, k) =>
            QuotaDecision(d.doc_id, d.source, n0 + k + 1, admitted = true)
          }
        }
        rejections ++ admitted
      }
    }
  }

  /** Keyed quota admission via transformWithState (Append: one decision
    * per arrival, never revised). */
  def quotaAdmitTws(docs: Dataset[SrcDoc],
                    quotas: Map[String, Long]): Dataset[QuotaDecision] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    docs
      .groupByKey(_.source)
      .transformWithState(new QuotaAdmitProcessor(quotas),
        TimeMode.None(), OutputMode.Append())
  }

  /** One arrival for [[tokenBudgetAdmitTws]]: like [[SrcDoc]] plus the
    * document's token count — the unit the budget is denominated in. */
  final case class TokDoc(doc_id: Long, source: String, pri: Long,
                          n_tokens: Long)
  final case class TokDecision(doc_id: Long, source: String, cum_tokens: Long,
                               admitted: Boolean)
  // public like AdmitState: Catalyst codegen cannot reference a private
  // class and silently falls back to interpreted state (de)serialization
  final case class TokState(spent: Long)

  /** Streaming token-budget admission — the live form of batch q238's
    * shard builder: state per source is ONE token counter, and an arrival
    * is admitted iff the tokens admitted ahead of it (across all batches
    * and, within this batch, all better-(pri, doc_id) winners) are still
    * below the source's shard budget. That admit-then-saturate rule (the
    * final admission may overshoot by under one document) is exactly what
    * makes the decision PREFIX-SHAPED: once the running sum crosses the
    * budget, no later arrival can ever be admitted, so a decision never
    * depends on future arrivals and Append mode is sound.
    *
    * Memory contract (the q228 lesson, applied from the start): the
    * candidate heap's total token mass stays under `room + one document`
    * by construction — an arrival that cannot be a winner (or the
    * worse-priority candidate it displaces) is rejected THE MOMENT the
    * retained mass would exceed the open budget, so a skewed mega-source
    * micro-batch costs O(room / min_tokens) heap entries, never the
    * slice. The eviction rule is exact, not heuristic: the retained set
    * after every arrival is precisely the winner set of the arrivals so
    * far (every retained candidate's preceding retained mass is < room —
    * if a middle candidate violated this, the worst one would violate it
    * harder and be evicted first), so decisions are identical to sorting
    * the whole slice by (pri, doc_id) and walking the prefix.
    *
    * Feed arrivals in priority order across batches (the caller contract
    * shared with [[quotaAdmitTws]]) and the admitted set with its
    * cumulative token positions is exactly batch q238's shard,
    * chunk-invariantly (StreamingOpsSpec pins 3-chunk == 7-chunk ==
    * batch). On restart the state-store checkpoint rolls the counter back
    * with the batch, so replay cannot double-spend. */
  class TokenBudgetAdmitProcessor(shards: Map[String, Long])
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, TokDoc, TokDecision] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues}

    @transient private var state: org.apache.spark.sql.streaming.ValueState[TokState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TokState](
        "tok", Encoders.product[TokState], org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(source: String, rows: Iterator[TokDoc],
                                 timers: TimerValues): Iterator[TokDecision] = {
      val shard = shards.getOrElse(source, 0L)
      val spent0 = Option(state.get()).map(_.spent).getOrElse(0L)
      val room = shard - spent0
      def reject(d: TokDoc) = TokDecision(d.doc_id, d.source, 0L, admitted = false)
      if (room <= 0L) {
        // saturated: the prefix property says nothing can ever be admitted
        // again — stream rejections through, the counter does not move
        rows.map(reject)
      } else {
        // worst-of-the-best at the head; total retained mass tracked so an
        // arrival is rejected the moment it cannot be in the winner prefix
        val cmp = Ordering.by[TokDoc, (Long, Long)](d => (d.pri, d.doc_id))
        val heap = new java.util.PriorityQueue[TokDoc](16, cmp.reverse)
        var mass = 0L
        val rejections = rows.flatMap { d =>
          heap.add(d)
          mass += d.n_tokens
          // evict while the worst candidate's preceding retained mass
          // already fills the room (mass − its own tokens ≥ room)
          var out = List.empty[TokDecision]
          while (!heap.isEmpty && mass - heap.peek().n_tokens >= room) {
            val ev = heap.poll()
            mass -= ev.n_tokens
            out ::= reject(ev)
          }
          out.iterator
        }
        // evaluated only once `rows` is exhausted (++ is by-name); the
        // execution engine keeps the implicit grouping key set around lazy
        // consumption, so the state write here lands before the batch commits
        def admitted: Iterator[TokDecision] = {
          val survivors = new Array[TokDoc](heap.size)
          var i = survivors.length - 1
          while (i >= 0) { survivors(i) = heap.poll(); i -= 1 }
          var cum = spent0
          val out = survivors.map { d =>
            cum += d.n_tokens
            TokDecision(d.doc_id, d.source, cum, admitted = true)
          }
          state.update(TokState(cum))
          out.iterator
        }
        rejections ++ admitted
      }
    }
  }

  /** Keyed token-budget admission via transformWithState (Append: one
    * decision per arrival, never revised). `shards` is q235's plan reduced
    * to per-source unique-token shard budgets (alloc div cap_epochs — the
    * q238 gate). */
  def tokenBudgetAdmitTws(docs: Dataset[TokDoc],
                          shards: Map[String, Long]): Dataset[TokDecision] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    docs
      .groupByKey(_.source)
      .transformWithState(new TokenBudgetAdmitProcessor(shards),
        TimeMode.None(), OutputMode.Append())
  }

  /** One arrival for [[semanticAdmitTws]]: a vector already assigned to its
    * cluster — assignment is batch-side map work against broadcast (frozen,
    * trained) centroids, exactly q234's shape; the stateful operator only
    * ever sees (cent_id, vec_id, v). */
  final case class ClusterVec(cent_id: Long, vec_id: Long, v: Array[Double])
  final case class SemanticDecision(vec_id: Long, cent_id: Long,
                                    admitted: Boolean, n_net: Long)
  // public like AdmitState: Catalyst codegen cannot reference a private
  // class and silently falls back to interpreted state (de)serialization
  final case class NetVec(vec_id: Long, v: Array[Double], nrm: Double)

  /** Streaming semantic admit-once — the live form of the SemDeDup family
    * (q230/q234): per cluster, the state is the set of ADMITTED vectors,
    * and an arrival is admitted iff it sits below `eps` cosine to every one
    * of them. The admitted set is therefore pairwise eps-SEPARATED — an
    * eps-net of the cluster — so its size is bounded by the angular packing
    * number of the sphere at acos(eps), a constant in the dimension and
    * threshold, NOT in the stream length: state cannot grow past the
    * geometry no matter how many duplicates arrive. Decision rule is greedy
    * first-fit in arrival order (within a micro-batch slice, vec_id order),
    * the sequential SemDeDup semantics; it differs deliberately from batch
    * q230/q234's exists-ANY-lower-id contract — the greedy net can admit a
    * vector whose only near neighbor was itself rejected, which the
    * SQL-replayable batch rule cannot express. Both are deterministic;
    * StreamingOpsSpec pins chunking-invariance against a sequential
    * reference and the eps-separation invariant. Cross-batch delivery order
    * is the caller's contract, as everywhere in this file; checkpointed
    * state rolls back with the batch on restart exactly like quota
    * admission. At 100 TB the groupByKey shuffles assigned ids+vectors on
    * cent_id once; per-key state is (net size) × (dim+2) numbers. */
  class SemanticAdmitProcessor(eps: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, ClusterVec, SemanticDecision] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues}

    @transient private var net: org.apache.spark.sql.streaming.ListState[NetVec] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      net = getHandle.getListState[NetVec](
        "eps_net", Encoders.product[NetVec], org.apache.spark.sql.streaming.TTLConfig.NONE)

    private def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }

    /** Memory contract: heap per cluster is the persisted eps-net (bounded
      * by packing, see class doc) plus one micro-batch slice of this
      * cluster's arrivals for the deterministic vec_id sort — the
      * AdmitOnceProcessor contract, acceptable because the upstream
      * assignment spreads a batch across the centroid key space; a single
      * cluster receiving a whole skewed batch is a mis-trained index, not
      * an operator regime. */
    override def handleInputRows(cent: Long, rows: Iterator[ClusterVec],
                                 timers: TimerValues): Iterator[SemanticDecision] = {
      val current = scala.collection.mutable.ArrayBuffer.empty[NetVec]
      net.get().foreach(current += _)
      rows.toSeq.sortBy(_.vec_id).iterator.map { r =>
        val nrm = math.sqrt(dot(r.v, r.v))
        val dup = current.exists(a => dot(a.v, r.v) / (a.nrm * nrm) >= eps)
        if (!dup) {
          val nv = NetVec(r.vec_id, r.v, nrm)
          current += nv
          net.appendValue(nv)
        }
        SemanticDecision(r.vec_id, cent, admitted = !dup, current.length.toLong)
      }
    }
  }

  /** Keyed semantic admission via transformWithState (Append: one decision
    * per arrival, never revised). */
  def semanticAdmitTws(vecs: Dataset[ClusterVec],
                       eps: Double): Dataset[SemanticDecision] = {
    import vecs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    vecs
      .groupByKey(_.cent_id)
      .transformWithState(new SemanticAdmitProcessor(eps),
        TimeMode.None(), OutputMode.Append())
  }

  /** One arrival for [[pqDriftTws]]: a vector's quantization error against
    * the frozen PQ codebook in one subspace, already in floored integer
    * micros — assignment is batch-side map work against the broadcast
    * codebook (exactly q245's `pqErrU` rows, the [[ClusterVec]] shape of
    * this family); the stateful operator only ever sees 24-byte rows. */
  final case class PqErr(vec_id: Long, m: Long, err_u: Long)
  final case class PqDriftCell(m: Long, n_old: Long, n_new: Long,
                               merr_old_u: Option[Long],
                               merr_new_u: Option[Long],
                               shift_u: Option[Long],
                               retrain: Option[Boolean])
  // public like AdmitState: Catalyst codegen cannot reference a private
  // class and silently falls back to interpreted state (de)serialization
  final case class PqDriftState(n_old: Long, e_old: Long,
                                n_new: Long, e_new: Long)

  /** Streaming PQ codebook drift monitor — the live form of batch q245:
    * state per subspace is FOUR counters (n, Σerr_u per epoch; 32 bytes —
    * the whole monitor's state is 128 bytes for a 4-subspace quantizer),
    * and every micro-batch emits the subspace's current monitor reading
    * (running means in integer micros, 2.5% relative retrain flag), so the
    * sink accumulates the health TIME SERIES an index operator alerts on.
    *
    * Unlike the admission operators in this file, counters COMMUTE: the
    * final reading is invariant to arrival order, chunking, AND cross-batch
    * delivery order — there is no caller ordering contract at all, and
    * StreamingOpsSpec pins 3-chunk == 7-chunk == batch q245 row-for-row on
    * the final reading. Restart safety is the standard state-store
    * contract: the checkpoint rolls the counters back with the batch, so
    * replay cannot double-count a vector. At 100 TB the only movement is
    * the groupByKey on the 4-value subspace key carrying 24-byte rows —
    * and since integer sums partial-aggregate, a production binding can
    * pre-combine per partition upstream and feed this operator per-batch
    * subtotals instead of rows without changing a single emitted reading
    * (the same commutativity, exploited twice). */
  class PqDriftProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, PqErr, PqDriftCell] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues}

    @transient private var state: org.apache.spark.sql.streaming.ValueState[PqDriftState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[PqDriftState](
        "pq_drift", Encoders.product[PqDriftState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(m: Long, rows: Iterator[PqErr],
                                 timers: TimerValues): Iterator[PqDriftCell] = {
      var s = Option(state.get()).getOrElse(PqDriftState(0L, 0L, 0L, 0L))
      rows.foreach { r =>
        s = if (r.vec_id % 2 == 0)
          s.copy(n_old = s.n_old + 1, e_old = s.e_old + r.err_u)
        else
          s.copy(n_new = s.n_new + 1, e_new = s.e_new + r.err_u)
      }
      state.update(s)
      val merrOld = if (s.n_old == 0) None else Some(s.e_old / s.n_old)
      val merrNew = if (s.n_new == 0) None else Some(s.e_new / s.n_new)
      val shift = for (o <- merrOld; n <- merrNew) yield math.abs(n - o)
      val retrain = for (sh <- shift; o <- merrOld) yield sh * 40L > o
      Iterator.single(PqDriftCell(m, s.n_old, s.n_new,
        merrOld, merrNew, shift, retrain))
    }
  }

  /** Keyed PQ drift monitoring via transformWithState (Append: each batch
    * appends one reading per touched subspace — the monitor's time series). */
  def pqDriftTws(errs: Dataset[PqErr]): Dataset[PqDriftCell] = {
    import errs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    errs
      .groupByKey(_.m)
      .transformWithState(new PqDriftProcessor(),
        TimeMode.None(), OutputMode.Append())
  }

  /** One arrival for [[ivfCellTws]]: a vector already assigned to its IVF
    * cell — assignment is batch-side map work against the broadcast
    * frozen centroids (`SelectionQueries.assigned`'s rule, exactly q241's
    * feed); the stateful operator only ever sees 16-byte id rows. */
  final case class CellArrival(vec_id: Long, cent_id: Long)
  final case class IvfCellCount(cent_id: Long, n_old: Long, n_new: Long)
  // public like AdmitState: Catalyst codegen cannot reference a private
  // class and silently falls back to interpreted state (de)serialization
  final case class IvfCellState(n_old: Long, n_new: Long)

  /** Streaming IVF cell-mass monitor — the live form of batch q241's
    * drift audit and the symmetric sibling of [[pqDriftTws]]: state per
    * centroid cell is TWO counters (arrivals per epoch; 16 bytes — a
    * thousand-cell index carries 16 KB of monitor state), and every
    * micro-batch emits the cell's current counts, so the sink accumulates
    * the per-cell time series. Counters COMMUTE: the final reading is
    * invariant to arrival order, chunking AND cross-batch delivery order —
    * no caller ordering contract — and restart safety is the standard
    * state-store contract (counters roll back with the batch; replay
    * cannot double-count).
    *
    * Unlike the per-subspace PQ monitor, the ppm SHARES and the 2% flag
    * need the totals ACROSS cells, which no per-key processor can see —
    * so the monitor emits raw counts and the reading runs the counts
    * through the SAME `RefineQueries.ivfDriftFromCells` finisher batch
    * q241 uses (a cells-sized stateless aggregate the dashboard runs per
    * tick). StreamingOpsSpec pins final-counts→finisher == batch q241
    * row-for-row under 3-chunk, 7-chunk and restart deliveries. At
    * 100 TB the only movement is the groupByKey on cent_id carrying
    * 16-byte rows, pre-combinable upstream by the same commutativity. */
  class IvfCellProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, CellArrival, IvfCellCount] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues}

    @transient private var state: org.apache.spark.sql.streaming.ValueState[IvfCellState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[IvfCellState](
        "ivf_cells", Encoders.product[IvfCellState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(cent: Long, rows: Iterator[CellArrival],
                                 timers: TimerValues): Iterator[IvfCellCount] = {
      var s = Option(state.get()).getOrElse(IvfCellState(0L, 0L))
      rows.foreach { r =>
        s = if (r.vec_id % 2 == 0) s.copy(n_old = s.n_old + 1)
        else s.copy(n_new = s.n_new + 1)
      }
      state.update(s)
      Iterator.single(IvfCellCount(cent, s.n_old, s.n_new))
    }
  }

  /** Keyed IVF cell monitoring via transformWithState (Append: each batch
    * appends one count reading per touched cell — the monitor's time
    * series; the drift dashboard folds the latest reading per cell
    * through `RefineQueries.ivfDriftFromCells`). */
  def ivfCellTws(arrivals: Dataset[CellArrival]): Dataset[IvfCellCount] = {
    import arrivals.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    arrivals
      .groupByKey(_.cent_id)
      .transformWithState(new IvfCellProcessor(),
        TimeMode.None(), OutputMode.Append())
  }

  /** One media arrival for [[mediaNearDupTws]]: the 64-bit byte-shingle
    * SimHash of the payload, computed batch-side in the scan (the native
    * `graft_byte_shingles` → `graft_simhash_array` projection — exactly
    * q252's signature; payloads never reach the stateful operator). */
  final case class MediaSig(doc_id: Long, sim: Long)
  final case class MediaBandArrival(bucket: Long, doc_id: Long, sim: Long)
  final case class NearDupPair(doc_a: Long, doc_b: Long, hamming: Long)
  // public like AdmitState: Catalyst codegen cannot reference a private
  // class and silently falls back to interpreted state (de)serialization
  final case class BucketMember(doc_id: Long, sim: Long)

  /** Streaming byte-shingle near-dup detection — the media twin of the
    * semantic admit-once processor, and the live form of batch q252: state
    * per (band, key) bucket is the ≤[[graft.operators.DedupQueries.MaxBucket]]
    * signatures already filed there (16 bytes each — never a payload), and
    * an arriving signature reports every filed member within Hamming ≤ 6,
    * exactly the batch pipeline's exact re-check. Cross-band uniqueness
    * costs NO second stateful stage: a pair is emitted only from its
    * CANONICAL band — the smallest band index where the two signatures'
    * keys agree (both full sigs are in hand at emission, so the canonical
    * band is a pure function of the pair; a Hamming-≤6 pair has ≥1 agreeing
    * band by the pigeonhole guarantee, so canonical-band emission loses
    * nothing). Buckets are bounded exactly like the batch `bounded` CTE:
    * an arrival into a full bucket files nothing and reports nothing there
    * — the one deliberate divergence from batch (which drops a bucket by
    * its FINAL size, unknowable mid-stream); both sides agree wherever no
    * bucket saturates. Within a micro-batch, bucket slices sort by doc_id
    * (the banding pipeline's id order); cross-batch delivery order is the
    * caller's contract, as everywhere in this file. At 100 TB the
    * groupByKey shuffles 24-byte (bucket, doc_id, sim) rows once and an
    * ingest pipeline drops a flagged doc_b on arrival — admit-once over
    * media content, without ever holding two payloads in one place. */
  /** One bucket's pre-filed members for a BOOTSTRAPPED start — the state
    * shape the stored SimHash postings pillar persists (q283), so a fresh
    * stream can begin from the installed index instead of re-streaming
    * the corpus after a checkpoint loss (VERDICT r15 item 2). */
  final case class BucketBootstrap(bucket: Long, members: Seq[BucketMember])

  class MediaBandProcessor(cap: Int = graft.operators.DedupQueries.MaxBucket)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[Long, MediaBandArrival, NearDupPair, BucketBootstrap] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues}

    @transient private var members: org.apache.spark.sql.streaming.ListState[BucketMember] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[BucketMember](
        "bucket", Encoders.product[BucketMember],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    /** Pre-file the stored members in the batch filing order (doc_id
      * ascending, the order a corpus-streaming run would have filed),
      * truncated at the cap exactly as live filing is. */
    override def handleInitialState(bucket: Long, init: BucketBootstrap,
                                    timers: TimerValues): Unit =
      init.members.sortBy(_.doc_id).take(cap).foreach(members.appendValue)

    override def handleInputRows(bucket: Long, rows: Iterator[MediaBandArrival],
                                 timers: TimerValues): Iterator[NearDupPair] = {
      val band = (bucket >> 10).toInt
      val filed = scala.collection.mutable.ArrayBuffer.empty[BucketMember]
      members.get().foreach(filed += _)
      rows.toSeq.sortBy(_.doc_id).iterator.flatMap { r =>
        if (filed.length >= cap) Iterator.empty
        else {
          val hits = filed.iterator.filter { m =>
            java.lang.Long.bitCount(m.sim ^ r.sim) <= 6 &&
              canonicalBand(m.sim, r.sim) == band
          }.map { m =>
            val (a, b) = if (m.doc_id < r.doc_id) (m.doc_id, r.doc_id)
                         else (r.doc_id, m.doc_id)
            NearDupPair(a, b, java.lang.Long.bitCount(m.sim ^ r.sim).toLong)
          }.toVector
          val nv = BucketMember(r.doc_id, r.sim)
          filed += nv
          members.appendValue(nv)
          hits.iterator
        }
      }
    }
  }

  /** The smallest band index on which two signatures' keys agree — defined
    * for every Hamming-≤6 pair (pigeonhole over
    * [[graft.operators.DedupQueries.SimhashBands]]). */
  private def canonicalBand(a: Long, b: Long): Int =
    graft.operators.DedupQueries.SimhashBands
      .find { case (_, off, mask) =>
        ((a >>> off) & mask) == ((b >>> off) & mask)
      }.map(_._1).getOrElse(-1)

  /** One arrival for [[chunkAdmitTws]]: a (doc, chunk-fingerprint) pair
    * from the native CDC decomposition — per-doc DISTINCT, the q253/q254
    * chunk-set convention; fps are batch-side scan work, the stateful
    * operator only ever sees 16-byte rows. */
  final case class ChunkArrival(cfp: Long, doc_id: Long)
  final case class ChunkDecision(doc_id: Long, cfp: Long, novel: Boolean,
                                 first_doc_id: Long)

  /** Streaming chunk-store admission — the WRITE path q254 sizes: state
    * per chunk fingerprint is the id of the doc that first filed it (8
    * bytes against an 8-byte key — the content-addressed store's index
    * record), an arriving (doc, chunk) is `novel` iff its fingerprint was
    * never filed, and every decision carries the canonical first writer —
    * exactly the dedup a content-addressed store performs on PUT: novel
    * chunks persist bytes, duplicate chunks bump a refcount toward the
    * first writer's copy. Within a micro-batch a fingerprint's slice
    * sorts by doc_id (the batch rule's min-doc-wins order), so the
    * decision stream equals the batch window-min truth under ANY chunking
    * of the arrivals (StreamingOpsSpec pins 3-chunk == 7-chunk == batch
    * over the sf corpus's real chunk stream). At 100 TB the groupByKey
    * shuffles 16-byte rows once, keyed by fingerprint across the store's
    * partitions — payload bytes travel only for admitted chunks, to the
    * store partition that owns them. */
  /** One fingerprint's canonical first writer for a BOOTSTRAPPED start —
    * derivable from the stored CDC chunk pillar (q286). */
  final case class ChunkOwnerBootstrap(cfp: Long, owner: Long)

  class ChunkAdmitProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[Long, ChunkArrival, ChunkDecision, ChunkOwnerBootstrap] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues}

    @transient private var owner: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      owner = getHandle.getValueState[Long](
        "owner", Encoders.scalaLong, org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInitialState(cfp: Long, init: ChunkOwnerBootstrap,
                                    timers: TimerValues): Unit =
      owner.update(init.owner)

    override def handleInputRows(cfp: Long, rows: Iterator[ChunkArrival],
                                 timers: TimerValues): Iterator[ChunkDecision] =
      rows.toSeq.sortBy(_.doc_id).iterator.map { r =>
        if (!owner.exists()) {
          owner.update(r.doc_id)
          ChunkDecision(r.doc_id, cfp, novel = true, first_doc_id = r.doc_id)
        } else {
          ChunkDecision(r.doc_id, cfp, novel = false, first_doc_id = owner.get())
        }
      }
  }

  /** Keyed chunk-store admission via transformWithState (Append: one
    * decision per arriving (doc, chunk), decided once, never revised). */
  def chunkAdmitTws(chunks: Dataset[ChunkArrival]): Dataset[ChunkDecision] = {
    import chunks.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    chunks
      .groupByKey(_.cfp)
      .transformWithState(new ChunkAdmitProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** A CDC near-dup CANDIDATE pair: the two docs share ≥ 1 informative
    * chunk through the live inverted chunk index. The containment
    * threshold (shared / min sizes ≥ 50%, q253's cut) is deliberately
    * DOWNSTREAM — two chunk-manifest lookups per candidate — because a
    * doc's whole chunk set in per-bucket state is the wrong trade at
    * scale (n-chunk docs would carry their n-entry set into each of n
    * buckets: quadratic state per doc, the very cost the MinHash twin's
    * candidate/confirm split avoids for 512-byte signatures). A pair
    * sharing k chunks surfaces up to k times; the confirm step's
    * set-insert dedups for free. */
  final case class CdcCandidate(doc_a: Long, doc_b: Long)
  // public like AdmitState: Catalyst codegen cannot reference a private
  // class and silently falls back to interpreted state (de)serialization
  final case class ChunkFiler(doc_id: Long)

  /** Streaming CDC near-dup candidate generation — the live form of batch
    * q253's candidate generator and the last banded index to gain an
    * ingest-time twin (SimHash text/media, embedding LSH, MinHash, now
    * CDC chunks): state per chunk fingerprint is the ≤cap doc ids already
    * filed there (8 bytes each against an 8-byte key — the inverted chunk
    * index's posting list, bounded exactly the way q276's dial calibrates
    * the batch index), and an arriving (doc, chunk) reports every filed
    * doc as a candidate. Buckets are bounded by CURRENT filed size — the
    * media twin's documented divergence from batch's final-df rule; both
    * sides agree wherever no bucket saturates, and the calibrated cap is
    * the dial's to raise when they shouldn't diverge (StreamingOpsSpec
    * pins both). At 100 TB the groupByKey shuffles 16-byte rows once,
    * the candidate stream is 16 bytes/pair, and payload bytes never
    * leave the scan stage. */
  /** One fingerprint's filed doc ids for a BOOTSTRAPPED start — the
    * stored CDC chunk pillar's posting list (q286). */
  final case class CdcFilersBootstrap(cfp: Long, filers: Seq[Long])

  class CdcCandidateProcessor(cap: Int = graft.operators.DedupQueries.MaxBucket)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[Long, ChunkArrival, CdcCandidate, CdcFilersBootstrap] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues}

    @transient private var filers: org.apache.spark.sql.streaming.ListState[ChunkFiler] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      filers = getHandle.getListState[ChunkFiler](
        "cdc_bucket", Encoders.product[ChunkFiler],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInitialState(cfp: Long, init: CdcFilersBootstrap,
                                    timers: TimerValues): Unit =
      init.filers.sorted.take(cap)
        .foreach(d => filers.appendValue(ChunkFiler(d)))

    override def handleInputRows(cfp: Long, rows: Iterator[ChunkArrival],
                                 timers: TimerValues): Iterator[CdcCandidate] = {
      val filed = scala.collection.mutable.ArrayBuffer.empty[Long]
      filers.get().foreach(filed += _.doc_id)
      rows.toSeq.sortBy(_.doc_id).iterator.flatMap { r =>
        if (filed.length >= cap) Iterator.empty
        else {
          val hits = filed.iterator.map { d =>
            val (a, b) = if (d < r.doc_id) (d, r.doc_id) else (r.doc_id, d)
            CdcCandidate(a, b)
          }.toVector
          filed += r.doc_id
          filers.appendValue(ChunkFiler(r.doc_id))
          hits.iterator
        }
      }
    }
  }

  /** Keyed CDC near-dup candidates via transformWithState (Append: a
    * candidate surfaces when the pair's later doc files into a shared
    * bucket; an ingest pipeline confirms containment with two manifest
    * lookups and drops the contained doc on arrival). */
  def cdcCandidateTws(chunks: Dataset[ChunkArrival],
                      cap: Int = graft.operators.DedupQueries.MaxBucket)
      : Dataset[CdcCandidate] = {
    import chunks.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    chunks
      .groupByKey(_.cfp)
      .transformWithState(new CdcCandidateProcessor(cap),
        TimeMode.None(), OutputMode.Append())
  }

  /** Keyed media near-dup detection via transformWithState over the shared
    * band table (Append: each near-dup pair is reported exactly once, at
    * its canonical band, when its later doc arrives). */
  def mediaNearDupTws(sigs: Dataset[MediaSig],
                      cap: Int = graft.operators.DedupQueries.MaxBucket)
      : Dataset[NearDupPair] = {
    import sigs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    sigs
      .flatMap(s => graft.operators.DedupQueries.SimhashBands.map {
        case (b, off, mask) =>
          MediaBandArrival((b.toLong << 10) | ((s.sim >>> off) & mask),
            s.doc_id, s.sim)
      })
      .groupByKey(_.bucket)
      .transformWithState(new MediaBandProcessor(cap),
        TimeMode.None(), OutputMode.Append())
  }

  /** One arrival for [[lshAdmitTws]]: a vector's per-table sign-LSH codes
    * (`DedupQueries.lshSigCodes` — the same hyperplanes as q67's batch
    * index), computed batch-side in the scan; the embedding itself NEVER
    * reaches the stateful operator, only this ~16-byte code row. */
  final case class LshSig(vec_id: Long, codes: Seq[Int])
  final case class LshBucketArrival(bucket: Long, vec_id: Long, codes: Seq[Int])
  /** A near-dup CANDIDATE pair: collides through the banded index's own
    * criterion (some table's codes within Hamming ≤ 2). The exact cosine
    * re-check is deliberately downstream — two point lookups in the
    * vector store per candidate — because carrying 512-byte vectors into
    * per-bucket state (× tables × probes copies) is the wrong trade at
    * scale, while the candidate stream is 16 bytes/pair. */
  final case class LshCandidate(vec_a: Long, vec_b: Long)
  // public like AdmitState: Catalyst codegen cannot reference a private
  // class and silently falls back to interpreted state (de)serialization
  final case class LshMember(vec_id: Long, codes: Seq[Int])

  /** Streaming embedding near-dup admission — the embedding twin of
    * [[MediaBandProcessor]] and the live form of batch q67: state per
    * (table, probe-code) bucket is the ≤cap code rows already filed there,
    * and an arriving vector reports every filed member whose SAME-TABLE
    * codes sit within Hamming ≤ 2 — exactly the symmetric-multi-probe
    * collision criterion the batch index implements by bucket equi-join.
    * Cross-table/cross-bucket uniqueness costs no second stage: a pair is
    * emitted only from its CANONICAL bucket — the smallest table where the
    * two code vectors collide, and within it the smallest probe code both
    * balls share (both full code rows are in hand at emission, so the
    * canonical bucket is a pure function of the pair; a colliding pair
    * shares ≥1 probe code by construction, so canonical emission loses
    * nothing). Buckets are bounded by CURRENT filed size — the media
    * twin's documented divergence from batch's final-size rule; both
    * sides agree wherever no bucket saturates, and the table count is the
    * q268 dial's to calibrate ([[lshAdmitTws]] takes it as a parameter,
    * so a store recalibration moves ingestion with the batch index). At
    * 100 TB the groupByKey shuffles tables × (1+bits) code rows per
    * vector — the same fan-out the batch probe frame materializes — and
    * an ingest pipeline drops a flagged vec_b on arrival after the
    * two-lookup cosine confirm. */
  /** One probed bucket's pre-filed members for a BOOTSTRAPPED start —
    * derivable from the stored LSH code pillar (q285) by the same probe
    * expansion the arrival generation performs. */
  final case class LshBucketBootstrap(bucket: Long, members: Seq[LshMember])

  class LshBucketProcessor(bits: Int,
                           cap: Int = graft.operators.DedupQueries.MaxBucket)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[Long, LshBucketArrival, LshCandidate, LshBucketBootstrap] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues}

    @transient private var members: org.apache.spark.sql.streaming.ListState[LshMember] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[LshMember](
        "lsh_bucket", Encoders.product[LshMember],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInitialState(bucket: Long, init: LshBucketBootstrap,
                                    timers: TimerValues): Unit =
      init.members.sortBy(_.vec_id).take(cap).foreach(members.appendValue)

    override def handleInputRows(bucket: Long, rows: Iterator[LshBucketArrival],
                                 timers: TimerValues): Iterator[LshCandidate] = {
      val tbl = (bucket >> 24).toInt
      val code = (bucket & ((1L << 24) - 1)).toInt
      val filed = scala.collection.mutable.ArrayBuffer.empty[LshMember]
      members.get().foreach(filed += _)
      rows.toSeq.sortBy(_.vec_id).iterator.flatMap { r =>
        if (filed.length >= cap) Iterator.empty
        else {
          val hits = filed.iterator.filter { m =>
            StatefulOps.lshCanonicalBucket(m.codes, r.codes, bits) == ((tbl, code))
          }.map { m =>
            val (a, b) = if (m.vec_id < r.vec_id) (m.vec_id, r.vec_id)
                         else (r.vec_id, m.vec_id)
            LshCandidate(a, b)
          }.toVector
          val nv = LshMember(r.vec_id, r.codes)
          filed += nv
          members.appendValue(nv)
          hits.iterator
        }
      }
    }
  }

  /** The canonical bucket of a colliding pair: the smallest table index
    * where the codes sit within Hamming ≤ 2 (probe balls meet), and
    * within it the smallest probe code covered by BOTH balls — defined
    * for every colliding pair, (-1, -1) otherwise. */
  private[graft] def lshCanonicalBucket(a: Seq[Int], b: Seq[Int],
                                        bits: Int): (Int, Int) = {
    var t = 0
    val n = math.min(a.length, b.length)
    while (t < n) {
      if (Integer.bitCount(a(t) ^ b(t)) <= 2) {
        var best = -1
        var i = -1
        while (i < bits) {
          val x = if (i < 0) a(t) else a(t) ^ (1 << i)
          if (Integer.bitCount(x ^ b(t)) <= 1 && (best < 0 || x < best)) best = x
          i += 1
        }
        return (t, best)
      }
      t += 1
    }
    (-1, -1)
  }

  /** Keyed embedding near-dup admission via transformWithState (Append:
    * each candidate pair is reported exactly once, at its canonical
    * bucket, when its later vector arrives). `sigs` carries the per-table
    * codes from [[graft.operators.DedupQueries.lshSigCodes]]; the table
    * count is `codes.length` — the calibrated reading of the q268 dial
    * (or the store's installed version) decides how many codes the
    * batch-side projection emits. */
  def lshAdmitTws(sigs: Dataset[LshSig], bits: Int,
                  cap: Int = graft.operators.DedupQueries.MaxBucket)
      : Dataset[LshCandidate] = {
    import sigs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    sigs
      .flatMap { s =>
        s.codes.zipWithIndex.flatMap { case (c, t) =>
          (c +: (0 until bits).map(b => c ^ (1 << b))).map(pc =>
            LshBucketArrival((t.toLong << 24) | (pc.toLong & 0xffffffL),
              s.vec_id, s.codes))
        }
      }
      .groupByKey(_.bucket)
      .transformWithState(new LshBucketProcessor(bits, cap),
        TimeMode.None(), OutputMode.Append())
  }

  /** One arrival for [[minhashAdmitTws]]: a document's 16 MinHash band
    * keys (`DedupQueries.minhashSigKeysFor` — the same
    * signature → band-key fold as q39's batch index), computed batch-side
    * in the scan; neither the signature nor the document ever reaches the
    * stateful operator, only this ~128-byte key row. */
  final case class MinhashSig(doc_id: Long, keys: Seq[Long])
  final case class MinhashBandArrival(bucket: Long, doc_id: Long,
                                      keys: Seq[Long])
  /** A near-dup CANDIDATE pair: collides through the banded index's own
    * criterion (some band's keys agree). The signature-agreement score
    * (eqCount ≥ 32 ⇔ est J ≥ ½, q39's cut) is deliberately downstream —
    * two point lookups in the signature store per candidate — because
    * carrying 512-byte signatures into per-bucket state is the wrong
    * trade at scale, while the candidate stream is 16 bytes/pair. */
  final case class MinhashCandidate(doc_a: Long, doc_b: Long)
  // public like AdmitState: Catalyst codegen cannot reference a private
  // class and silently falls back to interpreted state (de)serialization
  final case class MinhashMember(doc_id: Long, keys: Seq[Long])

  /** Streaming MinHash near-dup admission — the text twin of
    * [[LshBucketProcessor]] and the live form of batch q39's candidate
    * generator, completing streaming parity across every banded near-dup
    * index (SimHash text/media, embedding LSH, MinHash): state per
    * (band, key) bucket is the ≤cap key rows already filed there, and an
    * arriving document reports every filed member — same bucket means the
    * band's keys already agree. Cross-band uniqueness costs no second
    * stage: a pair is emitted only from its CANONICAL band — the smallest
    * band index where the two key vectors agree (both full key rows are
    * in hand at emission, so the canonical band is a pure function of the
    * pair; a colliding pair agrees on ≥1 band by construction, so
    * canonical emission loses nothing). Buckets are bounded by CURRENT
    * filed size — the media twin's documented divergence from batch's
    * final-size rule; both sides agree wherever no bucket saturates. At
    * 100 TB the groupByKey shuffles 16 × ~136-byte key rows per document
    * and an ingest pipeline drops a flagged doc_b on arrival after the
    * two-lookup signature confirm. */
  /** One band bucket's pre-filed members for a BOOTSTRAPPED start —
    * derivable from the stored MinHash postings pillar (q284): the
    * member's full key vector folds from the stored signature. */
  final case class MinhashBucketBootstrap(bucket: Long,
                                          members: Seq[MinhashMember])

  class MinhashBucketProcessor(cap: Int = graft.operators.DedupQueries.MaxBucket)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[Long, MinhashBandArrival, MinhashCandidate, MinhashBucketBootstrap] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues}

    @transient private var members: org.apache.spark.sql.streaming.ListState[MinhashMember] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[MinhashMember](
        "mh_bucket", Encoders.product[MinhashMember],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInitialState(bucket: Long, init: MinhashBucketBootstrap,
                                    timers: TimerValues): Unit =
      init.members.sortBy(_.doc_id).take(cap).foreach(members.appendValue)

    override def handleInputRows(bucket: Long, rows: Iterator[MinhashBandArrival],
                                 timers: TimerValues): Iterator[MinhashCandidate] = {
      val band = (bucket >>> 32).toInt
      val filed = scala.collection.mutable.ArrayBuffer.empty[MinhashMember]
      members.get().foreach(filed += _)
      rows.toSeq.sortBy(_.doc_id).iterator.flatMap { r =>
        if (filed.length >= cap) Iterator.empty
        else {
          val hits = filed.iterator.filter { m =>
            StatefulOps.minhashCanonicalBand(m.keys, r.keys) == band
          }.map { m =>
            val (a, b) = if (m.doc_id < r.doc_id) (m.doc_id, r.doc_id)
                         else (r.doc_id, m.doc_id)
            MinhashCandidate(a, b)
          }.toVector
          val nv = MinhashMember(r.doc_id, r.keys)
          filed += nv
          members.appendValue(nv)
          hits.iterator
        }
      }
    }
  }

  /** The smallest band index on which two key vectors agree — defined for
    * every colliding pair, -1 otherwise. */
  private[graft] def minhashCanonicalBand(a: Seq[Long], b: Seq[Long]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      if (a(i) == b(i)) return i
      i += 1
    }
    -1
  }

  /** Keyed MinHash near-dup admission via transformWithState (Append:
    * each candidate pair is reported exactly once, at its canonical band,
    * when its later document arrives). Band keys are < 2³¹
    * (`DedupQueries.bandKeys` folds mod 2147483647) and the band index
    * < 16, so `(band << 32) | key` is collision-free. */
  def minhashAdmitTws(sigs: Dataset[MinhashSig],
                      cap: Int = graft.operators.DedupQueries.MaxBucket)
      : Dataset[MinhashCandidate] = {
    import sigs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    sigs
      .flatMap { s =>
        s.keys.zipWithIndex.map { case (k, b) =>
          MinhashBandArrival((b.toLong << 32) | k, s.doc_id, s.keys)
        }
      }
      .groupByKey(_.bucket)
      .transformWithState(new MinhashBucketProcessor(cap),
        TimeMode.None(), OutputMode.Append())
  }

  // ---------- admitter bootstrap from the stored pillars ----------
  //
  // Every tws admitter above starts from empty state, so a checkpoint
  // loss forces a restarted ingest stream to RE-STREAM the whole corpus
  // to rebuild its window/bucket index — even though the stored postings
  // pillars (q283–q286) persist exactly that state shape (VERDICT r15
  // item 2). These entry points wire `transformWithState` initial state:
  // the bootstrap frame derives from the installed pillar with one
  // index-sized read (groupBy bucket — the same shuffle key the stream
  // uses), the processor pre-files it in the batch filing order
  // (id-ascending, cap-truncated exactly like live filing), and the
  // fresh stream admits its first batch with decisions identical to a
  // checkpointed stream that had streamed the corpus. Re-offered docs
  // already in the pillar are the batch-side anti-join's to drop, as in
  // q289–q292's admission contract.

  /** [[mediaNearDupTws]] starting from pre-filed bucket state. */
  def mediaNearDupTwsBootstrapped(sigs: Dataset[MediaSig],
                                  initial: Dataset[BucketBootstrap],
                                  cap: Int = graft.operators.DedupQueries.MaxBucket)
      : Dataset[NearDupPair] = {
    import sigs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    sigs
      .flatMap(s => graft.operators.DedupQueries.SimhashBands.map {
        case (b, off, mask) =>
          MediaBandArrival((b.toLong << 10) | ((s.sim >>> off) & mask),
            s.doc_id, s.sim)
      })
      .groupByKey(_.bucket)
      .transformWithState(new MediaBandProcessor(cap),
        TimeMode.None(), OutputMode.Append(), initial.groupByKey(_.bucket))
  }

  /** The SimHash admitter's initial state FROM the installed pillar —
    * postings joined to stored signatures, grouped per bucket (one
    * index-sized shuffle; no text, no signature recompute). */
  def simhashBootstrapFrom(s: SparkSession,
                           root: String): Dataset[BucketBootstrap] = {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val ix = graft.operators.IndexLifecycle.readPostings(s, root,
      graft.operators.IndexLifecycle.SimhashPostings.layout)
    val (sigs, postings) = (ix("sigs"), ix("postings"))
    postings.join(sigs, "doc_id")
      .select(shiftleft(col("band").cast("long"), 10)
          .bitwiseOR(col("key")).as("bucket"),
        struct(col("doc_id"), col("sim")).as("m"))
      .groupBy("bucket")
      .agg(sort_array(collect_list(col("m"))).as("members"))
      .as[BucketBootstrap]
  }

  /** [[minhashAdmitTws]] starting from pre-filed band-bucket state. */
  def minhashAdmitTwsBootstrapped(sigs: Dataset[MinhashSig],
                                  initial: Dataset[MinhashBucketBootstrap],
                                  cap: Int = graft.operators.DedupQueries.MaxBucket)
      : Dataset[MinhashCandidate] = {
    import sigs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    sigs
      .flatMap { s =>
        s.keys.zipWithIndex.map { case (k, b) =>
          MinhashBandArrival((b.toLong << 32) | k, s.doc_id, s.keys)
        }
      }
      .groupByKey(_.bucket)
      .transformWithState(new MinhashBucketProcessor(cap),
        TimeMode.None(), OutputMode.Append(), initial.groupByKey(_.bucket))
  }

  /** The MinHash admitter's initial state FROM the installed pillar —
    * each member's full key vector folds from the stored signature
    * (`bandKeys`), never from text. */
  def minhashBootstrapFrom(s: SparkSession,
                           root: String): Dataset[MinhashBucketBootstrap] = {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val ix = graft.operators.IndexLifecycle.readPostings(s, root,
      graft.operators.IndexLifecycle.MinhashPostings.layout)
    val (sigs, postings) = (ix("sigs"), ix("postings"))
    val keyed = sigs.select(col("doc_id"),
      transform(graft.operators.DedupQueries.bandKeys(col("sig")),
        bk => bk("key")).as("keys"))
    postings.join(keyed, "doc_id")
      .select(shiftleft(col("band").cast("long"), 32)
          .bitwiseOR(col("key")).as("bucket"),
        struct(col("doc_id"), col("keys")).as("m"))
      .groupBy("bucket")
      .agg(sort_array(collect_list(col("m"))).as("members"))
      .as[MinhashBucketBootstrap]
  }

  /** [[lshAdmitTws]] starting from pre-filed probe-bucket state. */
  def lshAdmitTwsBootstrapped(sigs: Dataset[LshSig], bits: Int,
                              initial: Dataset[LshBucketBootstrap],
                              cap: Int = graft.operators.DedupQueries.MaxBucket)
      : Dataset[LshCandidate] = {
    import sigs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    sigs
      .flatMap { s =>
        s.codes.zipWithIndex.flatMap { case (c, t) =>
          (c +: (0 until bits).map(b => c ^ (1 << b))).map(pc =>
            LshBucketArrival((t.toLong << 24) | (pc.toLong & 0xffffffL),
              s.vec_id, s.codes))
        }
      }
      .groupByKey(_.bucket)
      .transformWithState(new LshBucketProcessor(bits, cap),
        TimeMode.None(), OutputMode.Append(), initial.groupByKey(_.bucket))
  }

  /** The LSH admitter's initial state FROM the installed pillar: the
    * stored base codes probe-expand exactly as arrivals do (8 XORs per
    * row), and each member carries its full per-table code vector
    * (pivoted from the stored rows) — embeddings never load. */
  def lshBootstrapFrom(s: SparkSession,
                       root: String): Dataset[LshBucketBootstrap] = {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val ix = graft.operators.IndexLifecycle.readPostings(s, root,
      graft.operators.IndexLifecycle.LshLayout)
    val (codes, bits) = (ix("codes"), ix.cfg.head.toInt)
    val codeVecs = codes.groupBy("vec_id")
      .agg(transform(sort_array(collect_list(struct(col("tbl"), col("code")))),
        x => x("code")).as("codes"))
    codes
      .select(col("vec_id"), col("tbl"),
        explode(array(col("code") +:
          (0 until bits).map(b => col("code").bitwiseXOR(lit(1 << b))): _*))
          .as("pc"))
      .join(codeVecs, "vec_id")
      .select(shiftleft(col("tbl").cast("long"), 24)
          .bitwiseOR(col("pc").cast("long").bitwiseAND(lit(0xffffffL)))
          .as("bucket"),
        struct(col("vec_id"), col("codes")).as("m"))
      .groupBy("bucket")
      .agg(sort_array(collect_list(col("m"))).as("members"))
      .as[LshBucketBootstrap]
  }

  /** [[chunkAdmitTws]] starting from pre-filed fingerprint owners. */
  def chunkAdmitTwsBootstrapped(chunks: Dataset[ChunkArrival],
                                initial: Dataset[ChunkOwnerBootstrap])
      : Dataset[ChunkDecision] = {
    import chunks.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    chunks
      .groupByKey(_.cfp)
      .transformWithState(new ChunkAdmitProcessor,
        TimeMode.None(), OutputMode.Append(), initial.groupByKey(_.cfp))
  }

  /** [[cdcCandidateTws]] starting from pre-filed posting lists. */
  def cdcCandidateTwsBootstrapped(chunks: Dataset[ChunkArrival],
                                  initial: Dataset[CdcFilersBootstrap],
                                  cap: Int = graft.operators.DedupQueries.MaxBucket)
      : Dataset[CdcCandidate] = {
    import chunks.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    chunks
      .groupByKey(_.cfp)
      .transformWithState(new CdcCandidateProcessor(cap),
        TimeMode.None(), OutputMode.Append(), initial.groupByKey(_.cfp))
  }

  /** The chunk-store admitter's initial owners FROM the installed CDC
    * pillar (min-doc first writer per fingerprint — the batch rule). */
  def chunkOwnerBootstrapFrom(s: SparkSession,
                              root: String): Dataset[ChunkOwnerBootstrap] = {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val chunks = graft.operators.IndexLifecycle.readPostings(s, root,
      graft.operators.IndexLifecycle.CdcPostings.layout)("chunks")
    chunks.groupBy("cfp").agg(min(col("doc_id")).as("owner"))
      .as[ChunkOwnerBootstrap]
  }

  /** The CDC candidate admitter's initial posting lists FROM the
    * installed pillar. */
  def cdcFilersBootstrapFrom(s: SparkSession,
                             root: String): Dataset[CdcFilersBootstrap] = {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val chunks = graft.operators.IndexLifecycle.readPostings(s, root,
      graft.operators.IndexLifecycle.CdcPostings.layout)("chunks")
    chunks.groupBy("cfp")
      .agg(sort_array(collect_list(col("doc_id"))).as("filers"))
      .as[CdcFilersBootstrap]
  }

  /** [[spanAdmitTws]] starting from a pre-owned window index. */
  def spanAdmitTwsBootstrapped(wins: Dataset[WindowArrival],
                               initial: Dataset[SpanOwnerBootstrap])
      : Dataset[SpanDecision] = {
    import wins.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    wins
      .groupByKey(_.wh)
      .transformWithState(new SpanAdmitProcessor,
        TimeMode.None(), OutputMode.Append(), initial.groupByKey(_.wh))
  }

  /** The span admitter's initial owners from any (wh, doc_id, pos)
    * window index — the q114/q277 keeper rule (min (doc, pos) per
    * distinct hash) applied to the stored index frame. */
  def spanOwnersBootstrap(wins: org.apache.spark.sql.DataFrame)
      : Dataset[SpanOwnerBootstrap] = {
    import wins.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    wins.groupBy("wh")
      .agg(min(struct(col("doc_id"), col("pos"))).as("o"))
      .select(col("wh"), col("o.doc_id").as("doc_id"),
        col("o.pos").as("pos"), lit(0).as("epoch"))
      .as[SpanOwnerBootstrap]
  }

  /** One arrival for [[labelCensusTws]]: a vector's metadata label —
    * 16-byte id rows; the embedding itself never reaches the stateful
    * operator. */
  final case class LabelArrival(vec_id: Long, lbl: Long)
  final case class LabelCount(lbl: Long, n: Long)
  // public like AdmitState: Catalyst codegen cannot reference a private
  // class and silently falls back to interpreted state (de)serialization
  final case class LabelState(n: Long)

  /** Streaming label census — the live feed of q258's filter-strategy
    * router: state per label is ONE counter (8 bytes — a thousand-label
    * taxonomy carries 8 KB of monitor state), and every micro-batch emits
    * the label's current population, so the router's selectivity estimate
    * (`matches = census(label) − 1`) tracks ingestion instead of waiting
    * for a nightly census. Counters COMMUTE: the final reading is
    * invariant to arrival order and chunking, and restart safety is the
    * standard state-store contract (counters roll back with the batch;
    * replay cannot double-count). The pre/post-filter routing decision
    * needs exactly this number plus the probed-cell supply, which the
    * batch router computes per query — a census flip across the k
    * threshold is the signal to re-plan a stored filter's strategy.
    * StreamingOpsSpec pins final counts == batch census under re-chunking
    * and that q258's matches column is the census reading minus one. */
  class LabelCensusProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, LabelArrival, LabelCount] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues}

    @transient private var state: org.apache.spark.sql.streaming.ValueState[LabelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[LabelState](
        "label_census", Encoders.product[LabelState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(lbl: Long, rows: Iterator[LabelArrival],
                                 timers: TimerValues): Iterator[LabelCount] = {
      var s = Option(state.get()).getOrElse(LabelState(0L))
      rows.foreach(_ => s = s.copy(n = s.n + 1))
      state.update(s)
      Iterator.single(LabelCount(lbl, s.n))
    }
  }

  /** Keyed label census via transformWithState (Append: one population
    * reading per touched label per batch — the router's time series). */
  def labelCensusTws(arrivals: Dataset[LabelArrival]): Dataset[LabelCount] = {
    import arrivals.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    arrivals
      .groupByKey(_.lbl)
      .transformWithState(new LabelCensusProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** One arrival for [[spanAdmitTws]]: ONE stride-1 rolling window of one
    * document — `wh` = xxhash64 of the window text
    * (`DedupQueries.windowKeysFor`, computed batch-side in the scan: the
    * window STRING never reaches the operator), `pos` its 0-based token
    * offset, `epoch` the caller's arrival batch. */
  final case class WindowArrival(wh: Long, doc_id: Long, pos: Long, epoch: Int)
  final case class SpanDecision(doc_id: Long, pos: Long, epoch: Int,
                                dup: Boolean)
  // public like AdmitState: Catalyst codegen cannot reference a private
  // class and silently falls back to interpreted state (de)serialization
  final case class SpanOwner(doc_id: Long, pos: Long, epoch: Int)

  /** Streaming exact-substring span admission — batch q277's live twin:
    * the state store IS the rolling-window index (one 24-byte owner per
    * DISTINCT window hash, partitioned by `wh`), an arriving window is a
    * duplicate iff another (doc, offset) already owns its hash, and the
    * downstream doc-local islands merge (q277's own second stage, or the
    * spec's Scala re-derivation) turns each document's duplicated offsets
    * into the maximal spans its cleaner strips. First-writer ownership is
    * the batch keeper rule under the file's standing contract (cross-batch
    * delivery order is the caller's; within a batch the first-writer is
    * the slice's (epoch, doc_id, pos) minimum); a replayed OWNER row is
    * recognized by value
    * and re-admitted, so a restart that re-offers a committed batch
    * changes no decision. State cardinality is the corpus's distinct
    * window count — the admit-once digest discipline at a finer grain,
    * hash-partitioned across executors, with the same bloom-front option
    * ahead of the shuffle for the ~all-novel majority.
    *
    * Memory contract: once a hash has an owner, its slice streams through
    * with ZERO buffering (each decision is row-independent), so a hot
    * boilerplate window replayed millions of times per batch costs only
    * iteration. Buffering happens solely on a hash's FIRST sight — the
    * first-writer is the slice's (epoch, doc_id, pos) minimum, found in
    * one pass while the compact 28-byte arrivals are held — and is
    * bounded by that window's duplicate multiplicity WITHIN its debut
    * batch, after which the hash is owned forever. */
  /** One window hash's canonical owner for a BOOTSTRAPPED start — the
    * q114/q277 keeper index's row (min (doc, pos) per distinct window),
    * exactly the state a corpus-streamed run would hold. */
  final case class SpanOwnerBootstrap(wh: Long, doc_id: Long, pos: Long,
                                      epoch: Int)

  class SpanAdmitProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[Long, WindowArrival, SpanDecision, SpanOwnerBootstrap] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues}

    @transient private var owner: org.apache.spark.sql.streaming.ValueState[SpanOwner] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      owner = getHandle.getValueState[SpanOwner](
        "owner", Encoders.product[SpanOwner],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInitialState(wh: Long, init: SpanOwnerBootstrap,
                                    timers: TimerValues): Unit =
      owner.update(SpanOwner(init.doc_id, init.pos, init.epoch))

    private def before(a: WindowArrival, b: WindowArrival): Boolean =
      a.epoch < b.epoch || (a.epoch == b.epoch &&
        (a.doc_id < b.doc_id || (a.doc_id == b.doc_id && a.pos < b.pos)))

    override def handleInputRows(wh: Long, rows: Iterator[WindowArrival],
                                 timers: TimerValues): Iterator[SpanDecision] =
      Option(owner.get()) match {
        case Some(o) =>
          // owned hash: every decision is row-independent, so the slice
          // streams through lazily — no buffering however hot the window
          rows.map(a => SpanDecision(a.doc_id, a.pos, a.epoch,
            o.doc_id != a.doc_id || o.pos != a.pos))
        case None =>
          // debut: the first-writer is the slice's (epoch, doc_id, pos)
          // minimum — one pass tracks it while holding the compact
          // arrivals (no sort; memory is this window's duplicate
          // multiplicity within its debut batch, see class doc)
          val buf = scala.collection.mutable.ArrayBuffer.empty[WindowArrival]
          var min: WindowArrival = null
          rows.foreach { a =>
            buf += a
            if (min == null || before(a, min)) min = a
          }
          if (min == null) Iterator.empty
          else {
            owner.update(SpanOwner(min.doc_id, min.pos, min.epoch))
            val (od, op) = (min.doc_id, min.pos)
            buf.iterator.map(a => SpanDecision(a.doc_id, a.pos, a.epoch,
              a.doc_id != od || a.pos != op))
          }
      }
  }

  /** Keyed span admission via transformWithState (Append: every window
    * arrival yields exactly one decision row, decided once). */
  def spanAdmitTws(wins: Dataset[WindowArrival]): Dataset[SpanDecision] = {
    import wins.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    wins
      .groupByKey(_.wh)
      .transformWithState(new SpanAdmitProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** One arrival for [[contaminationRunTws]]: ONE stride-1 rolling window
    * of one TRAINING document whose hash matched the frozen eval index —
    * membership is batch-side map work (the training window stream inner-
    * joins the broadcast eval hash set, exactly q278's plan), so the
    * operator only ever sees the contaminated fraction of the stream as
    * 20-byte (doc_id, pos) rows; neither text nor hashes reach it.
    * `epoch` is the caller's arrival batch, echoed in the reading. */
  final case class EvalHit(doc_id: Long, pos: Long, epoch: Int)
  final case class ContamReading(doc_id: Long, epoch: Int, n_runs: Long,
                                 max_run_tokens: Long, covered_tokens: Long)
  // public like AdmitState: Catalyst codegen cannot reference a private
  // class and silently falls back to interpreted state (de)serialization
  final case class RunSpan(a: Long, b: Long)

  /** Streaming contamination monitor — batch q278's live twin: per
    * training document, the state is its MERGED verbatim-overlap intervals
    * [a, b] against the eval set (q277/q278's gaps-and-islands rule:
    * touching or overlapping 4-token windows coalesce), and every
    * micro-batch with hits emits the document's current severity reading
    * (n_runs, max_run_tokens, covered_tokens) — the q278 verdict AT
    * ADMISSION TIME, so a training-ingest pipeline can reject or excise a
    * benchmark-bearing document before it lands, instead of auditing the
    * corpus after the fact.
    *
    * Interval union is COMMUTATIVE and IDEMPOTENT: the final reading is
    * invariant to arrival order, chunking, cross-batch delivery order AND
    * duplicate delivery (a replayed window merges into the span it
    * already covers) — like the drift monitors, there is no caller
    * ordering contract at all, and StreamingOpsSpec pins 3-chunk ==
    * 7-chunk == replayed == batch q278 on the final reading. Restart
    * safety is the standard state-store contract (state rolls back with
    * the batch), with idempotence as a second belt. At 100 TB the eval
    * index is a broadcast of DISTINCT eval-window hashes (benchmarks are
    * MBs; the corpus never shuffles for the membership test) and the only
    * keyed movement is the contaminated hits on doc_id; per-doc state is
    * its disjoint run list — bounded by the doc's token count / 5, and in
    * practice by its eval overlap, which is exactly what the monitor
    * exists to bound. */
  /** One contaminated doc's merged overlap runs for a BOOTSTRAPPED
    * start — the q278 batch audit's span frame, so a restarted monitor
    * resumes from the corpus's known contamination instead of an empty
    * ledger. */
  final case class ContamBootstrap(doc_id: Long, runs: Seq[RunSpan])

  class ContaminationRunProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[Long, EvalHit, ContamReading, ContamBootstrap] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues}

    @transient private var runs: org.apache.spark.sql.streaming.ListState[RunSpan] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      runs = getHandle.getListState[RunSpan](
        "runs", Encoders.product[RunSpan],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    /** Interval union is commutative and idempotent, so pre-filing the
      * audited runs as-is reproduces exactly the state a corpus-streamed
      * run would hold (they are already merged and disjoint). */
    override def handleInitialState(doc: Long, init: ContamBootstrap,
                                    timers: TimerValues): Unit =
      init.runs.sortBy(s => (s.a, s.b)).foreach(runs.appendValue)

    override def handleInputRows(doc: Long, rows: Iterator[EvalHit],
                                 timers: TimerValues): Iterator[ContamReading] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[RunSpan]
      runs.get().foreach(buf += _)
      var epoch = Int.MinValue
      rows.foreach { h =>
        buf += RunSpan(h.pos, h.pos + 3)
        if (h.epoch > epoch) epoch = h.epoch
      }
      val sorted = buf.sortInPlaceBy(s => (s.a, s.b))
      val merged = scala.collection.mutable.ArrayBuffer.empty[RunSpan]
      sorted.foreach { s =>
        if (merged.nonEmpty && s.a <= merged.last.b + 1)
          merged(merged.length - 1) =
            RunSpan(merged.last.a, math.max(merged.last.b, s.b))
        else merged += s
      }
      runs.clear()
      merged.foreach(runs.appendValue)
      var mx = 0L; var cov = 0L
      merged.foreach { s => val w = s.b - s.a + 1; if (w > mx) mx = w; cov += w }
      Iterator.single(ContamReading(doc, epoch, merged.length.toLong, mx, cov))
    }
  }

  /** Keyed contamination monitoring via transformWithState (Append: each
    * micro-batch emits the hit documents' current readings; the latest
    * reading per doc is the verdict). */
  def contaminationRunTws(hits: Dataset[EvalHit]): Dataset[ContamReading] = {
    import hits.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    hits
      .groupByKey(_.doc_id)
      .transformWithState(new ContaminationRunProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** [[contaminationRunTws]] starting from a pre-filed run ledger. */
  def contaminationRunTwsBootstrapped(hits: Dataset[EvalHit],
                                      initial: Dataset[ContamBootstrap])
      : Dataset[ContamReading] = {
    import hits.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    hits
      .groupByKey(_.doc_id)
      .transformWithState(new ContaminationRunProcessor,
        TimeMode.None(), OutputMode.Append(), initial.groupByKey(_.doc_id))
  }

  /** The contamination monitor's initial state from a batch (doc_id, a,
    * b) merged-span frame — the q278 audit's own output shape. */
  def contamBootstrap(spans: org.apache.spark.sql.DataFrame)
      : Dataset[ContamBootstrap] = {
    import spans.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    spans.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("a"), col("b"))))
        .as("runs"))
      .as[ContamBootstrap]
  }

  /** Admission-time decontamination — q282's excision at INGEST, the live
    * twin [[contaminationRunTws]]'s verdict stream exists to feed: a
    * training-ingest pipeline wants the CLEANED TEXT as documents arrive,
    * not an after-the-fact audit. Each micro-batch of `docs(doc_id,
    * text)` runs exactly the shared batch machinery
    * ([[graft.operators.DedupQueries.exciseAgainst]]): lowercased
    * stride-1 window hashes probe the broadcast FROZEN eval index `evalW`
    * (benchmarks are MBs — the stream never shuffles for membership),
    * duplicated offsets merge doc-locally to maximal runs, and the
    * one-pass audit-and-transform tail lands (doc_id, n_tokens, n_runs,
    * excised_tokens, text_clean) under `outDir/batch=<id>`.
    *
    * Documents arrive whole, and everything past the broadcast probe is
    * doc-local — so the landed corpus is chunking-invariant by
    * construction and row-identical to batch q282 on the union of all
    * batches (StreamingOpsSpec pins 3-chunk == 7-chunk == batch, and
    * restart). Exactly-once is the idempotent-foreachBatch discipline:
    * each batch publishes its own `batch=<id>` directory with
    * [[graft.Commit.publish]], and the excision is a pure function of
    * (batch, frozen evalW), so a replayed epoch finds its directory
    * committed and writes nothing — the same replay contract as the
    * transactional sink, at directory granularity. */
  def decontaminateAdmit(docs: org.apache.spark.sql.DataFrame,
                         evalW: org.apache.spark.sql.DataFrame,
                         outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.Commit.publish(java.nio.file.Paths.get(outDir, s"batch=$id"))(staged =>
          graft.operators.DedupQueries.exciseAgainst(batch.toDF(), evalW)
            .write.mode("overwrite").parquet(staged.toString))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()
}
