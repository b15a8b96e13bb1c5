package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Staged copies kept in `RelationalQueries`' per-format slots (the
  * json/csv round trips, the index pillar stores) live under the JVM's
  * temp root and must be gone once the JVM that staged them exits. */
class StagedExitSpec extends SparkSpec {

  test("a driver JVM leaves no staged graft-* directory under its temp root") {
    val tmp = Files.createTempDirectory("graft_exit_tmp")
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    // this JVM's flags (module opens, heap) minus its own temp root
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(_.startsWith("-Djava.io.tmpdir"))
    val cmd = Seq(javaBin) ++ flags ++ Seq(s"-Djava.io.tmpdir=$tmp",
      "-cp", System.getProperty("java.class.path"), "graft.RunOne",
      "q283_simhash_postings_serve", sf)
    val proc = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(tmp.resolve("run.log").toFile)
      .start()
    assert(proc.waitFor() === 0, "the staging driver must run to completion")
    val left = Files.list(tmp).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("graft-")).toSeq
    assert(left.isEmpty, s"staged copies left behind at exit: $left")
    Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }
}
