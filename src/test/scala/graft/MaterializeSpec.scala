package graft

import java.nio.file.Files

import graft.streaming.MaterializedAgg
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** MaterializedAgg contract: the incrementally maintained state equals the
  * batch recompute over everything ingested; a replayed micro-batch
  * (checkpoint recovery redelivers the same batchId) is a no-op; readers
  * always see a fully committed version.
  */
class MaterializeSpec extends SparkSpec {

  test("incremental aggregate equals batch recompute; replay is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-mv").toString
    val state = s"$root/state"

    val input = MemoryStream[(Long, Long)]
    val q = MaterializedAgg.start(
      input.toDS().toDF("user", "cents"), state, s"$root/ckpt", "user", "cents")
    try {
      input.addData((1L, 100L), (2L, 50L), (1L, 25L))
      q.processAllAvailable()
      input.addData((2L, 10L), (3L, 7L))
      q.processAllAvailable()
      // third batch makes pruning REAL: with Retain=2, v=0 must actually
      // be deleted (and never the newest) for the assertion below to pass
      input.addData((1L, 1L))
      q.processAllAvailable()
    } finally q.stop()

    val got = MaterializedAgg.read(spark, state)
      .orderBy("user").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 3L, 126L), (2L, 2L, 60L), (3L, 1L, 7L)),
      s"state diverged from batch recompute: ${got.toSeq}")

    // checkpoint replay: re-applying an already-committed batchId must not
    // double-count (its version dir exists -> no-op)
    MaterializedAgg.applyBatch(spark,
      Seq((2L, 10L), (3L, 7L)).toDF("user", "cents"), 1L, state, "user", "cents")
    val replayed = MaterializedAgg.read(spark, state)
      .orderBy("user").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(replayed.toSeq === got.toSeq, "replayed batch changed the state")

    // version pruning dropped v=0 and kept exactly the newest Retain
    val kept = new java.io.File(state).list().filter(_.startsWith("v=")).sorted
    assert(kept.toSeq === Seq("v=1", "v=2"),
      s"pruning must drop the oldest version only: ${kept.toSeq}")

    // a stray non-numeric version dir must not poison reads or merges
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(state, "v=backup"))
    assert(MaterializedAgg.read(spark, state).count() == 3)

    // non-integral value columns are rejected up front (order-dependent
    // double sums would break the equals-batch-recompute contract)
    intercept[IllegalArgumentException] {
      MaterializedAgg.applyBatch(spark,
        Seq((1L, 1.5)).toDF("user", "cents"), 99L, state, "user", "cents")
    }
  }

  test("a failed batch leaves the state and no staging behind; its retry commits") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft-mv-fail").resolve("state").toString
    MaterializedAgg.applyBatch(spark,
      Seq((1L, 100L), (2L, 50L)).toDF("user", "cents"), 0L, state, "user", "cents")
    def snapshot = MaterializedAgg.read(spark, state).orderBy("user").collect().toSeq
    val before = snapshot
    val boom = udf((c: Long) =>
      if (c == 7L) throw new RuntimeException("injected merge failure") else c)
    val batch1 = Seq((2L, 10L), (3L, 7L)).toDF("user", "cents")
    intercept[Exception] {
      MaterializedAgg.applyBatch(spark, batch1.withColumn("cents", boom(col("cents"))),
        1L, state, "user", "cents")
    }
    assert(snapshot === before, "a failed batch must leave the committed state as it was")
    def staging = new java.io.File(state).list().filter(_.startsWith(".staging")).toSeq
    assert(staging.isEmpty, s"a failed batch left staging behind: $staging")
    MaterializedAgg.applyBatch(spark, batch1, 1L, state, "user", "cents")
    assert(snapshot.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ===
      Seq((1L, 1L, 100L), (2L, 2L, 60L), (3L, 1L, 7L)))
    assert(staging.isEmpty)
  }
}
