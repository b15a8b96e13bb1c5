package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every catalog query timed at SPARK_GRAFT_SF_DIR,
  * one JSON line on stdout. An untimed warm-up absorbs JVM/codegen/parquet
  * footer costs so per-query numbers reflect steady state; queries run in
  * catalog order so numbers are comparable across rounds. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: one untimed pass of every query at the bench SF. The first
    // execution of a plan pays janino codegen compilation plus C2 JIT of the
    // generated classes (~5-10s for the heavier plans); the timed passes
    // below then measure steady-state throughput, which is what a
    // long-running cluster job actually sees.
    SparkEntry.catalog.foreach { q =>
      try q.run(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    // A query that throws in any timed run is named and counted as failed;
    // its time-to-failure is not a query time, so it stays out of
    // "queries", the medians and the total.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timed(q: GraftQuery): Option[Double] = {
      val t0 = System.nanoTime()
      try { q.run(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
      catch {
        case e: Throwable =>
          failed.getOrElseUpdate(q.name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    }
    // Two timed passes, per-query MIN: this box has noisy co-tenants and a
    // single pass can read 20-200% high on whichever queries the noise hits;
    // the min of two is the honest steady-state signal (same rationale as
    // BenchSome's min-of-N dev loop).
    def timedPass(qs: Seq[GraftQuery]): Map[String, Double] =
      qs.flatMap(q => timed(q).map(q.name -> _)).toMap
    val (p1, p2) = (timedPass(SparkEntry.catalog), timedPass(SparkEntry.catalog))
    val mins = SparkEntry.catalog.map(_.name).filterNot(failed.contains)
      .map(k => k -> math.min(p1(k), p2(k)))
    // Median-of-3 for the 10 most expensive queries: with min-of-2 alone, a
    // real 1.5x regression in a ~2s query is indistinguishable from this
    // box's co-tenant noise (q102's ±40% swing across rounds with untouched
    // code). A third sample of just the top-10 costs seconds and the median
    // is the cross-round comparison signal; the headline total stays
    // min-based so totals remain comparable with earlier rounds.
    val top10 = mins.sortBy(-_._2).take(10).map(_._1).toSet
    val p3 = timedPass(SparkEntry.catalog.filter(q => top10(q.name)))
    val results = mins.filterNot(r => failed.contains(r._1))
    val medians = results.filter(r => top10(r._1)).map { case (k, _) =>
      k -> Seq(p1(k), p2(k), p3(k)).sorted.apply(1)
    }
    failed.foreach { case (k, err) => System.err.println(s"[bench] FAILED $k: $err") }
    val failures = s""""n_failed":${failed.size},"failed":""" +
      failed.keys.map("\"" + _ + "\"").mkString("[", ",", "]")
    val med = medians.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"median3_top10":$med,$failures,"sf":"$sfDir"}"""
    println(json)
    // Also persist the line verbatim: the driver captures only a tail of
    // stdout and sbt noise has twice truncated the JSON (BENCH_r01/r02
    // "parsed": null). The file is the durable record.
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_local.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    // The driver keeps only the last ~2 KB of stdout, which decapitates the
    // full per-query line above (BENCH_r04 "parsed": null). Emit a compact
    // summary — same schema, 5 slowest queries only — as the FINAL stdout
    // line (after spark.stop(), so no shutdown logging lands behind it);
    // any tail capture then carries a complete parseable record.
    val slowest = results.sortBy(-_._2).take(5)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"queries":$slowest,"median3_top10":$med,$failures,"sf":"$sfDir"}""")
  }
}
