package perfbench

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable

import graft.{GraftQuery, SparkEntry}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A fixed stratified subset of the oracle-backed catalog, each query timed
  * on a full-result action (a `noop` write: every row is produced, nothing
  * is pruned the way `.count()` lets the optimizer prune). */
object Catalog {
  val Strata: Seq[(String, Seq[String])] = Seq(
    "heavy" -> Seq("q141_robust_outliers", "q184_basket_affinity", "q239_perplexity_buckets"),
    "serve" -> Seq("q285_lsh_postings_serve"),
    "avro" -> Seq("q49_avro_roundtrip", "q50_replication_project"),
    "light" -> Seq("q03_agg_tpch_q1", "q24_window_analytic"))

  val WarmClients = 3
  val WarmPasses = 2

  /** Tracker phases of each finished command, from the listener bus. */
  final class PhaseProbe extends QueryExecutionListener {
    val done = new LinkedBlockingQueue[(Boolean, Map[String, (Long, Long)])]()
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      done.add(qe.logical.toString.contains("noop-table") ->
        qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) })
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    /** Phases of the next noop write to finish (waits up to 10 s). */
    def nextNoop(): Map[String, (Long, Long)] = {
      val deadline = System.nanoTime() + 10000000000L
      var out: Option[Map[String, (Long, Long)]] = None
      while (out.isEmpty && System.nanoTime() < deadline) {
        Option(done.poll(100, TimeUnit.MILLISECONDS)).foreach {
          case (true, ph) => out = Some(ph)
          case _ => ()
        }
      }
      out.getOrElse(Map.empty)
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rep = ctx.report
    val byName = SparkEntry.catalog.map(q => q.name -> q).toMap
    val plan: Seq[(String, GraftQuery)] =
      Strata.flatMap { case (s, names) => names.map(n => s -> byName(n)) }
    val phases = new PhaseProbe
    val failed = mutable.Set.empty[String]
    val skew = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val qPhases = mutable.Map.empty[String, mutable.Map[String, Double]]

    /** One timed full-result execution; None (and a named failure) if the
      * query throws. */
    def timed(group: String, q: GraftQuery, dir: String, traceIt: Boolean,
              resultDir: Option[String] = None): Option[Double] = {
      spark.sparkContext.setJobGroup(s"$group:${q.name}", q.name)
      try {
        val t0 = System.nanoTime()
        val df = q.run(spark, dir) // builds and analyzes the query's frame
        val built = System.nanoTime()
        val w = df.write.mode("overwrite")
        resultDir match {
          case Some(out) => w.parquet(out)
          case None => w.format("noop").save()
        }
        val t1 = System.nanoTime()
        if (traceIt) {
          val qid = Trace.record(s"query.${q.name}", "catalog.execution", t0, t1)
          val qp = qPhases.getOrElseUpdate(q.name, mutable.Map.empty)
          def add(ph: String, ms: Double) = qp.updateWith(ph)(v => Some(v.getOrElse(0.0) + ms))
          Trace.record("query.build", "catalog.planning", t0, built, qid)
          add("analysis", (built - t0) / 1e6)
          phases.nextNoop().foreach { case (ph, (s, e)) =>
            add(ph, (e - s).toDouble)
            Trace.record(s"query.$ph", "catalog.planning",
              s * 1000000L - skew, e * 1000000L - skew, qid)
          }
        }
        Some((t1 - t0) / 1e6)
      } catch {
        case t: Throwable =>
          failed.synchronized { if (failed.add(q.name)) rep.fail(q.name, t) }
          None
      } finally spark.sparkContext.clearJobGroup()
    }

    // set-up: one untimed pass, which installs the index stores and stages
    // the frames the serve and avro queries memoize per corpus, warms the
    // JIT and codegen, and writes every query's full result for the oracle
    val data = ctx.data
    val results = ctx.work.resolve("results")
    Trace.span("setup", "harness") {
      val t0 = System.nanoTime()
      Trace.span("warm", "catalog.execution") {
        plan.foreach { case (_, q) =>
          val out = results.resolve(q.name).toString
          rep.attempted += 1
          timed("setup", q, data, traceIt = false, Some(out)).foreach { ms =>
            rep.detail(s"${q.name} warm_ms") = ms
            rep.oracle(q.name) = out
          }
        }
      }
      // then noop passes from WarmClients concurrent clients. Passes keep
      // getting faster for a minute or more as the JIT compiles, and one
      // client leaves the CPUs mostly idle (scale-0.004 queries run few
      // tasks), so concurrent clients fit more of that warm-up into set-up
      Trace.span("warm", "catalog.execution") {
        val clients = (1 to WarmClients).map { _ =>
          new Thread(() => (1 to WarmPasses).foreach { _ =>
            plan.foreach { case (_, q) =>
              if (!failed.synchronized(failed(q.name))) timed("setup", q, data, traceIt = false)
            }
          })
        }
        clients.foreach(_.start())
        clients.foreach(_.join())
      }
      rep.warmS = (System.nanoTime() - t0) / 1e9
    }

    /** Timed passes over the plan for the window's seconds: each query's
      * median time (failed queries left out) and the number of passes. */
    def measure(traced: Boolean, k: Int): (Seq[(String, Double)], Int) = ctx.window(traced) {
      val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
      var passes = 0
      if (traced) { // only this window's noop writes may reach the probe
        ctx.exec.settle()
        spark.listenerManager.register(phases)
      }
      val t0 = System.nanoTime()
      while (passes == 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
        passes += 1
        plan.foreach { case (_, q) =>
          if (!failed(q.name)) {
            rep.attempted += 1
            timed(s"measure$k", q, data, traced).foreach(ms =>
              times.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += ms)
          }
        }
      }
      // a query that failed in any pass is kept out of every timing
      (plan.map(_._2.name).filterNot(failed)
        .flatMap(n => times.get(n).map(t => n -> Stats.median(t.toSeq))), passes)
    }
    def perS(medians: Seq[(String, Double)]) = medians.size / (medians.map(_._2).sum / 1000.0)
    val ws = ctx.windows.zipWithIndex.map { case (t, k) => measure(t, k) }
    val (medians, passes) = ws.head
    val ms = medians.map(_._2)
    medians.foreach { case (n, m) => rep.detail(s"$n median_ms") = m }
    rep.metric("throughput_per_s", perS(medians), "1/s", passes)
    rep.metric("latency_p50_ms", Stats.median(ms), "ms", ms.size)
    rep.metric("latency_p90_ms", Stats.quantile(ms, 0.9), "ms", ms.size)
    rep.metric("latency_geomean_ms", Stats.geomean(ms), "ms", ms.size)

    Trace.span("check", "harness") {
      val sql = plan.flatMap { case (_, q) => q.oracle.map(q.name -> _) }
        .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
      Files.createDirectories(results)
      Files.writeString(results.resolve("oracle_sql.json"), sql)
      if (ctx.traced) {
        val (tracedMedians, tracedPasses) = ws.last
        ctx.overhead(perS(medians), perS(tracedMedians), higherIsBetter = true)
        rep.layers("catalog.passes") = tracedPasses
        ctx.exec.settle()
        strataLayers(ctx, plan, qPhases, tracedMedians.toMap, tracedPasses)
        Store.layers(ctx, ctx.work.resolve("staging"))
        val all = ctx.exec.snapshotAll(_.startsWith("measure1:"))
        ctx.exec.Keys.filterNot(k => k == "jobs" || k == "stages").foreach(k =>
          rep.layers(s"exec.$k") = all(k).toDouble / tracedPasses)
      }
    }
    // the ingest pipeline writes the kind of index store the serve queries
    // read; it is too slow per batch for a workload of its own (README)
    if (ctx.traced) Ingest.traced(ctx)
  }

  /** Per stratum and per pass: tracker phases, execution time and the
    * task counters of the queries' job groups. */
  private def strataLayers(ctx: Ctx, plan: Seq[(String, GraftQuery)],
                           qPhases: mutable.Map[String, mutable.Map[String, Double]],
                           medians: Map[String, Double], passes: Int): Unit = {
    val l = ctx.report.layers
    Strata.foreach { case (s, _) =>
      val names = plan.filter(_._1 == s).map(_._2.name).filter(medians.contains)
      def phase(p: String) = names.map(n =>
        qPhases.get(n).flatMap(_.get(p)).getOrElse(0.0) / passes).sum
      val planning = Seq("analysis", "optimization", "planning").map { p =>
        l(s"query.$s.${p}_ms") = phase(p); phase(p)
      }.sum
      l(s"query.$s.execution_ms") = math.max(0.0, names.map(medians).sum - planning)
      val ex = names.map(n => ctx.exec.snapshot(s"measure1:$n"))
      def per(k: String) = ex.map(_(k)).sum.toDouble / passes
      l(s"query.$s.jobs") = per("jobs")
      l(s"query.$s.stages") = per("stages")
      l(s"query.$s.tasks") = per("tasks")
      l(s"query.$s.shuffle_bytes") = per("shuffle_write_bytes")
      l(s"query.$s.input_bytes") = per("input_bytes")
      l(s"query.$s.spill_bytes") = per("spill_bytes")
      l(s"query.$s.cpu_ms") = per("cpu_ms")
    }
  }
}
