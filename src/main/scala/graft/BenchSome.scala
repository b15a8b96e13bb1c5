package graft

/** Dev harness: time an arbitrary query list in ONE warm JVM (min and
  * median of N reps per query, untimed first pass as warm-up) — the
  * before/after A/B loop for optimization rounds; one query is a list of
  * one. [[ScaleBench]] times its headline list through the same loop.
  * Usage: runMain graft.BenchSome <sfDir> <reps> <name...>
  */
object BenchSome {
  def main(args: Array[String]): Unit =
    run(args(0), args(1).toInt, args.drop(2).toSeq, "BENCHSOME")

  /** Times `names` against `sfDir` and prints one line per query, each
    * starting with `tag`. */
  def run(sfDir: String, reps: Int, names: Seq[String], tag: String): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      // a query that cannot run must fail LOUDLY here and skip its timed
      // loop (not throw uncaught mid-list): print the cause, mark the row
      // FAILED, continue to the next query
      val warmOk =
        try { fn(spark, sfDir).count(); true }
        catch { case t: Throwable =>
          t.printStackTrace()
          println(s"$tag $n FAILED (warm-up): $t")
          false
        }
      if (warmOk) {
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        val sorted = times.sorted
        val med = sorted(sorted.size / 2)
        println(f"$tag $n min=${sorted.head}%.3f med=$med%.3f " +
          f"times=${times.map(t => f"$t%.3f").mkString(",")}")
      }
    }
    spark.stop()
  }
}
