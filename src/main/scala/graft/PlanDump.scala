package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Dev harness: write `.explain("formatted")` for queries to files — the
  * before/after plan evidence for optimization rounds and refactors.
  * Usage: runMain graft.PlanDump <outDir> <suffix> [sfDir] [names...]
  * With no names, dumps every catalog query. The dumps are [[mask]]ed,
  * so two dumps of the same code compare byte-identical — except where
  * Spark's own planning varies run to run (the multi-distinct Expand
  * order of q193/q208).
  */
object PlanDump {

  /** Replace the run-dependent tokens of an explain string: expression,
    * plan and RDD ids (global counters), the random suffixes of temp dirs
    * (`graft-<name><random digits>`) and index segments
    * (`segments/<artifact>-<random>`), lambda class names and object
    * identity hashes (`[D@1b2c3d`). */
  def mask(plan: String): String =
    plan
      .replaceAll("#\\d+", "#N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
      .replaceAll("(graft-[a-z0-9-]*?)\\d{10,}", "$1*")
      .replaceAll("(segments/[a-z]+)-\\d+", "$1-*")
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda\\$*")
      .replaceAll("@[0-9a-f]{1,8}(?![0-9A-Za-z])", "@*")

  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val names =
      if (args.length > 3) args.drop(3).toSeq else SparkEntry.catalog.map(_.name)
    Files.createDirectories(outDir)
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val mode = ExplainMode.fromString("formatted")
    names.foreach { n =>
      val txt =
        try mask(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(mode))
        catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
      Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] $n -> ${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
