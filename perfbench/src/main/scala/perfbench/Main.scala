package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** What one workload run reports back to `run.py`: end-to-end metrics with
  * their sample counts, per-layer metrics (traced runs), the attempts and
  * the named failures, and the output checks. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  val setupRounds = mutable.ArrayBuffer.empty[Double]
  var warmS = 0.0
  /** Named per-item figures printed alongside the metrics (e.g. per-query
    * median ms). */
  val detail = mutable.LinkedHashMap.empty[String, Double]
  /** Query result dirs the caller checks against the DuckDB oracle. */
  val oracle = mutable.LinkedHashMap.empty[String, String]

  def metric(name: String, value: Double, unit: String, samples: Int): Unit =
    metrics(name) = (value, unit, samples)
  def check(name: String, ok: Boolean): Unit = checks(name) = ok
  def fail(name: String, t: Throwable): Unit = {
    failures += s"$name: ${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"
    System.err.println(s"[perfbench] $name failed: $t")
  }

  def toJson: String = {
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    obj(Seq(
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "checks" -> obj(checks.map { case (k, v) => k -> v.toString }),
      "metrics" -> obj(metrics.map { case (k, (v, u, n)) =>
        k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)},"samples":$n}""" }),
      "layers" -> obj(layers.map { case (k, v) => k -> Json.num(v) }),
      "detail" -> obj(detail.map { case (k, v) => k -> Json.num(v) }),
      "oracle" -> obj(oracle.map { case (k, v) => k -> Json.str(v) })))
  }
}

/** Shared state of one run: the session, the run's scratch root, the seed
  * and whether this run is traced. */
final case class Ctx(spark: SparkSession, data: String, work: Path, seed: Long,
                     seconds: Double, traced: Boolean, exec: ExecProbe, report: Report) {
  /** The measured windows, each `seconds` long: an untraced one, which
    * gives the end-to-end metrics, and in a traced run a traced one after
    * it, which gives the per-layer metrics. The two differ only in
    * tracing, so their difference is the tracing overhead. */
  def windows: Seq[Boolean] = if (traced) Seq(false, true) else Seq(false)

  def window[T](tracedWindow: Boolean)(body: => T): T =
    Trace.span(if (tracedWindow) "measure" else "measure.untraced", "harness") {
      val was = Trace.enabled
      Trace.enabled = tracedWindow
      try body finally Trace.enabled = was
    }

  /** Tracing overhead, in % of the untraced window's value. */
  def overhead(untraced: Double, traced: Double, higherIsBetter: Boolean): Unit =
    report.layers("trace.overhead_pct") =
      100.0 * (if (higherIsBetter) untraced - traced else traced - untraced) / untraced

  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }
}

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --data <corpus dir> --work <scratch root> --out <result>`.
  * Builds the session, runs the workload's set-up, measured phase and
  * output checks, and writes the report as one JSON object to `--out`. */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "replicate_backfill" -> Replicate.backfill,
    "replicate_trickle" -> Replicate.trickle,
    "catalog_mix" -> Catalog.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val body = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Trace.enabled = traced
    val report = new Report
    val cpus = Runtime.getRuntime.availableProcessors()
    val exec = new ExecProbe
    Trace.span("run", "unattributed") {
      val spark = Trace.span("setup.session", "harness") {
        val s = GraftSession.builder(s"local[$cpus]", cpus)
          .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
          .config("spark.local.dir", work.resolve("spark-local").toString)
          .config("graft.staging.root", work.resolve("staging").toString)
          .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
          .getOrCreate()
        s.sparkContext.setLogLevel("ERROR")
        s
      }
      val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
      if (traced) spark.sparkContext.addSparkListener(exec)
      val ctx = Ctx(spark, opts("data"), work, opts("seed").toLong,
        opts("seconds").toDouble, traced, exec, report)
      body(ctx)
      // set-up = session start + one-time warm-up + median repeatable round
      report.metric("setup_s", sessionS + report.warmS +
        (if (report.setupRounds.isEmpty) 0.0 else Stats.median(report.setupRounds.toSeq)),
        "s", math.max(1, report.setupRounds.size))
      report.layers("setup.session_s") = sessionS
      report.layers("setup.warm_s") = report.warmS
      Trace.span("teardown", "harness")(spark.stop())
    }
    report.layers("process.peak_rss_mb") = peakRssMb()
    if (traced) {
      // the untraced window records no spans of the program's layers, so
      // it is left out of the accounting and of the traced wall time
      val root = Trace.all.find(_.name == "run").get
      val untraced = Trace.all.filter(_.name == "measure.untraced")
      val self = Trace.selfTimes(root.id, skip = untraced.map(_.id).toSet)
      Seq("harness", "replication", "topic", "registry", "catalog.planning",
        "catalog.execution", "ingest", "unattributed").foreach { l =>
        report.layers(s"self.${l.replace('.', '_')}_ms") = self.getOrElse(l, 0.0)
      }
      report.layers("trace.wall_ms") =
        (root.end - root.start - untraced.map(s => s.end - s.start).sum) / 1e6
      report.layers("trace.spans") = Trace.all.size.toDouble
      opts.get("spans").foreach(p => Trace.writeJsonl(Paths.get(p)))
    }
    Files.writeString(Paths.get(opts("out")), report.toJson)
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}
