package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Directories the engine mints for itself — the staged copies kept in
  * `RelationalQueries`' per-format slots (the json/csv round trips, the
  * index pillar stores) and q50's registry — must be gone once the JVM
  * that made them exits, under the temp root or a configured staging
  * root; a replaced slot's copy goes at once. */
class StagedExitSpec extends SparkSpec {

  /** The `graft-*` entries a driver running `query` leaves in its temp root. */
  private def leftAfterRunOne(query: String): Seq[String] = {
    val tmp = Files.createTempDirectory("graft_exit_tmp")
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    // this JVM's flags (module opens, heap) minus its own temp root
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(_.startsWith("-Djava.io.tmpdir"))
    val cmd = Seq(javaBin) ++ flags ++ Seq(s"-Djava.io.tmpdir=$tmp",
      "-cp", System.getProperty("java.class.path"), "graft.RunOne", query, sf)
    val proc = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(tmp.resolve("run.log").toFile)
      .start()
    assert(proc.waitFor() === 0, s"the $query driver must run to completion")
    val left = Files.list(tmp).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("graft-")).toSeq
    Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    left
  }

  test("a driver JVM leaves no staged graft-* directory under its temp root") {
    val left = leftAfterRunOne("q283_simhash_postings_serve")
    assert(left.isEmpty, s"staged copies left behind at exit: $left")
  }

  test("q50's registry directory is released when its JVM exits") {
    val left = leftAfterRunOne("q50_replication_project")
    assert(left.isEmpty, s"left behind at exit: $left")
  }

  test("replacing a slot under a configured staging root deletes the superseded copy") {
    // a root outside the JVM's temp root, as a deployment configures one
    Files.createDirectories(Paths.get("target"))
    val root = Files.createTempDirectory(Paths.get("target").toAbsolutePath, "graft_staging_root")
    assert(!root.startsWith(Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath))
    val before = spark.conf.getOption("graft.staging.root")
    spark.conf.set("graft.staging.root", root.toString)
    try {
      val fmt = s"exit-spec-${System.nanoTime()}"
      def stage(key: String) = operators.RelationalQueries.staged(spark, fmt, key) { out =>
        Files.createDirectories(Paths.get(out))
        Files.writeString(Paths.get(out, "part"), key)
        ()
      }
      val first = stage("corpus-1")
      assert(first.startsWith(root.toString) && Files.exists(Paths.get(first, "part")))
      val second = stage("corpus-2")
      assert(second !== first)
      assert(!Files.exists(Paths.get(first)), s"the superseded slot $first is still there")
      assert(Files.readString(Paths.get(second, "part")) === "corpus-2")
    } finally {
      before match {
        case Some(v) => spark.conf.set("graft.staging.root", v)
        case None => spark.conf.unset("graft.staging.root")
      }
      Commit.delete(root)
    }
  }
}
