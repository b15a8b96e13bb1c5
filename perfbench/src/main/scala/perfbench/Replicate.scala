package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import graft.Tables
import graft.avro._
import graft.streaming.{FileTopicSink, FileTopicSource, Replication}
import org.apache.avro.Schema
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The paper's pipeline, driven through its public seams: a Confluent-framed
  * source topic staged with `Replication.stageSource`, replicated by
  * `Replication.start` into a `FileTopicSink` (wrapped by [[TimedSink]]),
  * with registries behind `RegistryRef`s. */
object Replicate {
  val Subject = "events-value"
  val RecordName = "Event"
  val TrickleRecordsPerFile = 500 // the reference's max.poll.records
  val TrickleRecordsPerS = 500.0
  val TrickleWarmFiles = 8
  val SetupRounds = 3
  val WarmReps = 2

  /** The events table as the replicated record: `id` is the key field. */
  def records(ctx: Ctx): DataFrame =
    Tables.events(ctx.spark, ctx.data).select(col("event_id").as("id"),
      col("ts"), col("user_id"), col("event_type"), col("value"), col("props"))

  def ref(ctx: Ctx, r: RegistryRef): RegistryRef =
    if (ctx.traced) CountingRegistryRef(r) else r

  // ------------------------------------------------------------- backfill

  def backfill(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rep = ctx.report
    var src = ""
    var srcReg = ""
    val (source, total) = Trace.span("setup", "harness") {
      // the events table is one single-row-group file, so the staged topic
      // is one file and each replication one 100k-record batch
      val source = records(ctx)
      (1 to SetupRounds).foreach { i =>
        val (dir, reg) = (ctx.dir(s"src-$i"), ctx.dir(s"srcreg-$i"))
        val t0 = System.nanoTime()
        Trace.span("stage_source", "replication") {
          Replication.stageSource(source, dir, Subject, ConfluentRegistryRef(reg), RecordName)
        }
        rep.setupRounds += (System.nanoTime() - t0) / 1e9
        if (src.nonEmpty) { rmrf(Paths.get(src)); rmrf(Paths.get(srcReg)) }
        src = dir; srcReg = reg
      }
      // unmeasured replications: JIT and codegen warm-up of the stream
      val t0 = System.nanoTime()
      (1 to WarmReps).foreach(k => runOnce(ctx, src, srcReg, s"warm-$k"))
      rep.warmS = (System.nanoTime() - t0) / 1e9
      (source, source.count())
    }

    var lastTarget: Option[(String, String)] = None
    var i = 0
    /** Replicate again and again for the window's seconds. */
    def measure(traced: Boolean): Window = ctx.window(traced) {
      val w = Window()
      val t0 = System.nanoTime()
      CommitLog.reset()
      RegistryCounters.reset()
      val first = i
      while (i == first || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
        i += 1
        rep.attempted += 1
        try {
          val before = ctx.exec.snapshotAll(_ => true)
          val r = Trace.span("rep", "harness")(runOnce(ctx, src, srcReg, s"rep-$i"))
          if (traced) {
            ctx.exec.settle()
            ctx.exec.snapshotAll(_ => true).foreach { case (k, v) => w.exec(k) += v - before(k) }
          }
          val committed = spark.read.parquet(s"${r.target}/data").count()
          if (committed != total)
            throw new IllegalStateException(s"committed $committed of $total records")
          w.rates += total / r.seconds
          w.batchMs ++= r.progress.map(_.durationMs.get("triggerExecution").toDouble)
          w.progress ++= r.progress
          lastTarget.foreach { case (t, reg) => rmrf(Paths.get(t)); rmrf(Paths.get(reg)) }
          lastTarget = Some(r.target -> r.targetReg)
        } catch { case t: Throwable => rep.fail(s"backfill rep $i", t) }
      }
      w
    }
    val ws = ctx.windows.map(measure)
    val untraced = ws.head
    rep.metric("throughput_per_s", Stats.median(untraced.rates.toSeq), "1/s", untraced.rates.size)
    untraced.rates.zipWithIndex.foreach { case (r, k) => rep.detail(s"rep ${k + 1} records_per_s") = r }
    latencyMetrics(rep, untraced.batchMs.toSeq)

    Trace.span("check", "harness") {
      lastTarget.foreach { case (t, reg) =>
        checkReplica(ctx, source, t, ConfluentRegistryRef(reg), total)
      }
      if (ctx.traced && lastTarget.nonEmpty) {
        val traced = ws.last
        ctx.overhead(Stats.median(untraced.rates.toSeq), Stats.median(traced.rates.toSeq),
          higherIsBetter = true)
        execLayers(ctx, traced.exec.toMap)
        replicationLayers(ctx, traced.progress.toSeq, CommitLog.all, lastTarget.get._1)
        registryLayers(rep)
        AvroMicro.run(ctx, src, ConfluentRegistryRef(srcReg))
      }
    }
  }

  /** What one measured backfill window saw. */
  final case class Window(
      rates: collection.mutable.ArrayBuffer[Double] = collection.mutable.ArrayBuffer.empty,
      batchMs: collection.mutable.ArrayBuffer[Double] = collection.mutable.ArrayBuffer.empty,
      progress: collection.mutable.ArrayBuffer[StreamingQueryProgress] = collection.mutable.ArrayBuffer.empty,
      exec: collection.mutable.Map[String, Long] = collection.mutable.Map.empty[String, Long].withDefaultValue(0L))

  final case class RunResult(target: String, targetReg: String, seconds: Double,
                             progress: Seq[StreamingQueryProgress])

  /** Replicate the staged topic once into a fresh target; `seconds` runs
    * from `start` to the return of the last batch's commit. */
  private def runOnce(ctx: Ctx, src: String, srcReg: String, tag: String): RunResult = {
    val (tgt, tgtReg, ckpt) = (ctx.dir(s"tgt-$tag"), ctx.dir(s"tgtreg-$tag"), ctx.dir(s"ckpt-$tag"))
    val t0 = System.nanoTime()
    val q = Trace.span("replication.start", "replication") {
      Replication.start(ctx.spark, FileTopicSource(src, 1), TimedSink(FileTopicSink(tgt), tgt),
        ckpt, Subject, ref(ctx, ConfluentRegistryRef(srcReg)),
        ref(ctx, ConfluentRegistryRef(tgtReg)), "id", availableNow = true)
    }
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    val end = CommitLog.all.filter(_.start >= t0).map(_.end).maxOption.getOrElse(System.nanoTime())
    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    traceBatches(progress, Trace.current)
    rmrf(Paths.get(ckpt))
    RunResult(tgt, tgtReg, (end - t0) / 1e9, progress)
  }

  // -------------------------------------------------------------- trickle

  def trickle(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rep = ctx.report
    val rng = new scala.util.Random(ctx.seed)
    // seeded open-loop arrivals at a mean of TrickleRecordsPerS records/s,
    // one 500-record file each: one arrival per 1/rate slot of the measured
    // window, at a seeded uniform offset in the first quarter of its slot,
    // so gaps range over 0.75..1.25 slots (README: why not Poisson gaps)
    val perS = TrickleRecordsPerS / TrickleRecordsPerFile
    val schedule = Vector.tabulate((ctx.windows.size * ctx.seconds * perS).toInt)(i =>
      (i + rng.nextDouble() / 4) / perS)
    val nFiles = TrickleWarmFiles + schedule.size
    val nRecords = nFiles.toLong * TrickleRecordsPerFile
    val srcRegistry = new ConfluentFileRegistry(ctx.dir("srcreg"))
    val tgtRegRoot = ctx.dir("tgtreg")
    def served(r: SchemaRegistry) =
      graft.avro.ConfluentHttpServer.serve(if (ctx.traced) new CountingRegistry(r, server = true) else r)
    val (srcServer, srcUrl) = served(srcRegistry)
    val (tgtServer, tgtUrl) = served(new ConfluentFileRegistry(tgtRegRoot))
    val srcRef = ConfluentHttpRegistryRef(srcUrl)
    val tgtRef = ConfluentHttpRegistryRef(tgtUrl)
    try {
      var pre = ""
      val source = Trace.span("setup", "harness") {
        val rows = records(ctx).orderBy("id").limit(nRecords.toInt).collect().toSeq
        require(rows.size == nRecords, s"corpus holds ${rows.size} < $nRecords records")
        // contiguous 500-record slices, one per partition, so stageSource
        // writes one file per slice
        val source = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, nFiles), records(ctx).schema)
        (1 to SetupRounds).foreach { i =>
          val dir = ctx.dir(s"pre-$i")
          val t0 = System.nanoTime()
          Trace.span("stage_source", "replication") {
            Replication.stageSource(source, dir, Subject, srcRef, RecordName)
          }
          rep.setupRounds += (System.nanoTime() - t0) / 1e9
          if (pre.nonEmpty) rmrf(Paths.get(pre))
          pre = dir
        }
        source
      }
      val files = Files.list(Paths.get(pre)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)
      require(files.size == nFiles, s"staged ${files.size} files, expected $nFiles")

      val (srcDir, tgt, ckpt) = (ctx.dir("src"), ctx.dir("tgt"), ctx.dir("ckpt"))
      Files.createDirectories(Paths.get(srcDir))
      CommitLog.reset()
      def land(i: Int): Long = {
        val dst = Paths.get(srcDir, f"f-$i%05d.parquet")
        val now = System.currentTimeMillis()
        Files.setLastModifiedTime(files(i), FileTime.fromMillis(now))
        Files.move(files(i), dst, StandardCopyOption.ATOMIC_MOVE)
        System.nanoTime()
      }
      def committed = CommitLog.all.count(!_.redelivered)
      var q: StreamingQuery = null
      Trace.span("setup.warm", "harness") {
        val t0 = System.nanoTime()
        q = Trace.span("replication.start", "replication") {
          Replication.start(spark, FileTopicSource(srcDir, 1), TimedSink(FileTopicSink(tgt), tgt),
            ckpt, Subject, ref(ctx, srcRef), ref(ctx, tgtRef), "id", availableNow = false)
        }
        (0 until TrickleWarmFiles).foreach { i =>
          land(i)
          awaitCommits(q, i + 1, 120)
        }
        rep.warmS = (System.nanoTime() - t0) / 1e9
      }

      val landed = new Array[Long](schedule.size)
      var backlogMax = 0
      val t0 = System.nanoTime()
      def due(i: Int) = t0 + (schedule(i) * 1e9).toLong
      val gen = new Thread(() => schedule.indices.foreach { i =>
        val wait = due(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        landed(i) = land(TrickleWarmFiles + i)
        backlogMax = math.max(backlogMax, TrickleWarmFiles + i + 1 - committed)
      }, "perfbench-trickle-generator")
      gen.start()
      var execBefore = Map.empty[String, Long]
      ctx.windows.zipWithIndex.foreach { case (traced, k) =>
        ctx.window(traced) {
          if (traced) {
            RegistryCounters.reset()
            execBefore = ctx.exec.snapshotAll(_ => true)
          }
          if (k < ctx.windows.size - 1)
            Thread.sleep(math.max(0L, (t0 + ((k + 1) * ctx.seconds * 1e9).toLong - System.nanoTime()) / 1000000L))
          else {
            gen.join()
            awaitCommits(q, nFiles, 60)
          }
        }
      }
      rep.attempted = schedule.size
      q.stop()
      q.exception.foreach(e => rep.fail("trickle stream", e))

      // which batch carried which file: the source's own offset log
      val batchOf = fileBatches(Paths.get(ckpt, "sources", "0"))
      val commitEnd = CommitLog.all.filterNot(_.redelivered).map(c => c.batchId -> c.end).toMap
      def name(i: Int) = f"f-${TrickleWarmFiles + i}%05d.parquet"
      val ends = schedule.indices.map { i =>
        val end = batchOf.get(name(i)).flatMap(commitEnd.get)
        if (end.isEmpty) rep.failures += s"file ${name(i)} was not committed"
        end
      }
      val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0).map(p => p.batchId -> p).toMap
      /** Of the files scheduled in window k: their latencies (ms), and the
        * stream's capacity over the batches that carried them, in records
        * per second of trigger time. The arrival rate does not enter the
        * capacity, so a slower batch moves it in full. */
      def windowFigures(k: Int): (Seq[Double], Double) = {
        val in = schedule.indices.filter(i => (schedule(i) / ctx.seconds).toInt == k)
        val lat = in.flatMap(i => ends(i).map(e => (e - due(i)) / 1e6))
        val carried = in.flatMap(i => batchOf.get(name(i))).distinct.flatMap(batches.get)
        val busyS = carried.map(_.durationMs.get("triggerExecution").toDouble).sum / 1000.0
        (lat, carried.map(_.numInputRows).sum / busyS)
      }
      val (lat, recordsPerS) = windowFigures(0)
      rep.metric("throughput_per_s", recordsPerS, "1/s", lat.size)
      latencyMetrics(rep, lat)
      lat.zipWithIndex.foreach { case (ms, i) => rep.detail(f"file $i%02d latency_ms") = ms }

      Trace.span("check", "harness") {
        checkReplica(ctx, source, tgt, ConfluentRegistryRef(tgtRegRoot), nRecords)
        if (ctx.traced) {
          ctx.overhead(Stats.median(lat), Stats.median(windowFigures(1)._1), higherIsBetter = false)
          ctx.exec.settle()
          val after = ctx.exec.snapshotAll(_ => true)
          execLayers(ctx, after.map { case (k, v) => k -> (v - execBefore(k)) })
          // the traced window's batches: from the one carrying its first file
          val firstTraced = schedule.indices.find(i => schedule(i) >= ctx.seconds)
            .flatMap(i => batchOf.get(name(i))).getOrElse(Long.MaxValue)
          val progress = q.recentProgress.toSeq.filter(p => p.numInputRows > 0 && p.batchId >= firstTraced)
          traceBatches(progress, Trace.all.find(_.name == "measure").get.id)
          replicationLayers(ctx, progress, CommitLog.all.filter(_.batchId >= firstTraced), tgt)
          registryLayers(rep)
          val late = schedule.indices.map(i => (landed(i) - due(i)) / 1e6)
          rep.layers("trickle.generator_late_ms_p90") = Stats.quantile(late, 0.9)
          rep.layers("trickle.backlog_files_max") = backlogMax
          AvroMicro.run(ctx, srcDir, ConfluentRegistryRef(ctx.work.resolve("srcreg").toString))
        }
      }
    } finally {
      srcServer.stop(0)
      tgtServer.stop(0)
    }
  }

  private def awaitCommits(q: StreamingQuery, n: Int, timeoutS: Int): Unit = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (CommitLog.all.count(!_.redelivered) < n && q.isActive && System.nanoTime() < deadline)
      Thread.sleep(2)
  }

  /** file name → batch id, from the file source's per-batch log entries. */
  private def fileBatches(log: Path): Map[String, Long] = {
    val Entry = "\"path\":\"[^\"]*/([^/\"]+)\".*\"batchId\":(\\d+)".r.unanchored
    Files.list(log).iterator().asScala.toSeq
      .filter(_.getFileName.toString.matches("\\d+(\\.compact)?")).flatMap { f =>
      Files.readAllLines(f).asScala.collect { case Entry(name, b) => name -> b.toLong }
    }.toMap
  }

  // --------------------------------------------------------------- shared

  def latencyMetrics(rep: Report, ms: Seq[Double]): Unit = {
    rep.metric("latency_p50_ms", Stats.median(ms), "ms", ms.size)
    rep.metric("latency_p90_ms", Stats.quantile(ms, 0.9), "ms", ms.size)
    rep.metric("latency_geomean_ms", Stats.geomean(ms), "ms", ms.size)
  }

  /** Order-independent content hash and count of a frame's rows. */
  private def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).head
    (r.getLong(0), r.getDecimal(1))
  }

  /** The replica's output checks: every staged record committed once,
    * key == value.id, the decoded target equal to the source, and the
    * target registry holding the subject under the id the values carry. */
  def checkReplica(ctx: Ctx, source: DataFrame, tgt: String,
                   tgtReg: RegistryRef, staged: Long): Unit = {
    val rep = ctx.report
    try {
      val committed = Replication.readCommitted(ctx.spark, tgt)
      val (tid, tschema) = tgtReg.open().latest(Subject)
        .getOrElse(throw new IllegalStateException(s"target registry lacks $Subject"))
      val decoded = committed.select(col("key"), col("value"),
        AvroFunctions.fromAvroWire(col("value"), tschema.toString, tgtReg).as("r"))
      val stats = decoded.agg(count(lit(1)), countDistinct(col("key")),
        count(when(col("r.id").cast("string") =!= col("key") || col("r").isNull, 1)),
        countDistinct(substring(col("value"), 1, 5))).head
      rep.check("committed_count", stats.getLong(0) == staged)
      rep.check("distinct_keys", stats.getLong(1) == staged)
      rep.check("key_is_value_id", stats.getLong(2) == 0)
      val frame = decoded.select(substring(col("value"), 1, 5).as("h")).distinct().head.getAs[Array[Byte]](0)
      val framedId = java.nio.ByteBuffer.wrap(frame).get().toLong -> java.nio.ByteBuffer.wrap(frame, 1, 4).getInt.toLong
      rep.check("target_registry_id", stats.getLong(3) == 1 && framedId == (0L -> tid))
      val srcCols = source.columns.map(c => col(c))
      rep.check("content_hash",
        digest(source.select(srcCols: _*)) == digest(decoded.select(col("r.*")).select(srcCols: _*)))
      rep.check("target_schema", tschema == new Schema.Parser().parse(
        AvroFunctions.writerSchemaFor(source.schema, RecordName)))
    } catch { case t: Throwable => rep.fail("replica check", t); rep.check("replica_check_ran", false) }
  }

  // ------------------------------------------------------------ tracing

  private val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")
  private def snake(s: String) = s.replaceAll("([A-Z])", "_$1").toLowerCase

  /** Rebuild one span per batch and per progress-reported phase (laid out
    * in execution order from the trigger start), and one span per sink
    * commit of that batch under its addBatch span. `layer` names both the
    * spans' layer and their name prefix. */
  def traceBatches(progress: Seq[StreamingQueryProgress], parent: Long,
                   layer: String = "replication"): Unit =
    if (Trace.enabled) {
      val skew = System.currentTimeMillis() * 1000000L - System.nanoTime()
      progress.foreach { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L - skew
        val d = p.durationMs
        val end = start + d.get("triggerExecution").toLong * 1000000L
        val batch = Trace.record(s"$layer.batch", layer, start, end, parent)
        var t = start
        Phases.foreach { ph =>
          val dur = Option(d.get(ph)).map(_.toLong).getOrElse(0L) * 1000000L
          val id = Trace.record(s"$layer.${snake(ph)}", layer, t, t + dur, batch)
          if (ph == "addBatch")
            CommitLog.all.filter(c => c.batchId == p.batchId && c.start >= start - 1000000L &&
              c.end <= end + 1000000L).foreach(c =>
              Trace.record("topic.commit", "topic", c.start, c.end, id))
          t += dur
        }
      }
    }

  /** Per-batch median of each progress-reported phase, as `<layer>.<phase>_ms`. */
  def phaseLayers(ctx: Ctx, progress: Seq[StreamingQueryProgress], layer: String): Unit =
    Phases.foreach { ph =>
      ctx.report.layers(s"$layer.${snake(ph)}_ms") =
        Stats.median(progress.map(p => Option(p.durationMs.get(ph)).map(_.toDouble).getOrElse(0.0)))
    }

  def replicationLayers(ctx: Ctx, progress: Seq[StreamingQueryProgress],
                        commits: Seq[CommitLog.Commit], tgt: String): Unit = {
    val rep = ctx.report
    phaseLayers(ctx, progress, "replication")
    rep.layers("replication.batches") = progress.size
    rep.layers("replication.records_per_batch") = Stats.median(progress.map(_.numInputRows.toDouble))
    rep.layers("topic.commit_ms") = Stats.median(commits.map(c => (c.end - c.start) / 1e6))
    rep.layers("topic.commits") = commits.size
    rep.layers("topic.redelivered") = commits.count(_.redelivered)
    rep.layers("topic.bytes_committed") = Store.tree(Paths.get(tgt, "data"))._2.toDouble
  }

  def registryLayers(rep: Report): Unit = {
    import RegistryCounters._
    rep.layers("registry.opens") = opens.sum.toDouble
    rep.layers("registry.by_id_calls") = byIdCalls.sum.toDouble
    rep.layers("registry.by_id_ms") = byIdNs.sum / 1e6
    rep.layers("registry.register_calls") = registerCalls.sum.toDouble
    rep.layers("registry.latest_calls") = latestCalls.sum.toDouble
    rep.layers("registry.http_requests") = httpRequests.sum.toDouble
  }

  def execLayers(ctx: Ctx, delta: Map[String, Long]): Unit =
    ctx.exec.Keys.filterNot(k => k == "jobs" || k == "stages").foreach { k =>
      ctx.report.layers(s"exec.$k") = delta.getOrElse(k, 0L).toDouble
    }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}
