package graft.streaming

import java.nio.file.{Path, Paths}

import graft.Commit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental materialized aggregate — lakehouse MV maintenance: a keyed
  * stream continuously folds into a per-key (n, total) parquet table,
  * updated once per micro-batch by merging the batch's PARTIALS with the
  * current state (work per batch ∝ batch + state size, never history), and
  * committed as version directory `v=<batchId>` by [[graft.Commit.publish]]:
  * a replayed batch (checkpoint recovery) finds its version committed and
  * does nothing, and readers always load one committed version —
  * exactly-once end to end without a log-compaction service.
  *
  * Scale notes: count/sum partials are mergeable, so the merge is one
  * co-partitioned groupBy of (state ∪ batch-partials) — at 100 TB both
  * sides are bucketed by key on write and the merge is shuffle-free;
  * version pruning keeps the last [[Retain]] snapshots for concurrent
  * readers (a real deployment would gate pruning on reader leases).
  * Cites the reference's commit-after-durable-output contract
  * (`ReplicationApplication.java:96-101`) applied to derived state
  * instead of replicated records.
  */
object MaterializedAgg {

  /** Committed versions kept for in-flight readers. */
  val Retain = 2

  /** Continuously maintain `stateDir` from a streaming (keyCol, valueCol)
    * DataFrame. */
  def start(source: DataFrame, stateDir: String, checkpointDir: String,
      keyCol: String, valueCol: String): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch.sparkSession, batch, batchId, stateDir, keyCol, valueCol)
      }
      .start()

  /** Merge one micro-batch into the keyed state. Idempotent per `batchId`;
    * atomic. `valueCol` must be an integral type:
    * integer partial sums merge order-independently, which is what makes
    * the state provably equal a batch recompute — double totals drift by
    * summation order and decimal sums widen their precision every merge
    * round (store money as cents, the engine-wide convention). */
  def applyBatch(s: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String, keyCol: String, valueCol: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val vt = batch.schema(valueCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(vt),
      s"valueCol '$valueCol' must be integral for order-independent merges, got $vt")
    val root = Paths.get(stateDir)
    Commit.publish(root.resolve(s"v=$batchId")) { staged =>
      val partial = batch
        .groupBy(col(keyCol))
        .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))
      val merged = latest(root) match {
        case Some(prev) =>
          s.read.parquet(root.resolve(s"v=$prev").toString)
            .select(col(keyCol), col("n"), col("total"))
            .union(partial.select(col(keyCol), col("n"), col("total")))
            .groupBy(col(keyCol))
            .agg(sum("n").as("n"), sum("total").as("total"))
        case None => partial
      }
      merged.write.mode("overwrite").parquet(staged.toString)
    }
    Commit.numbered(root, "v=").dropRight(Retain)
      .foreach(v => Commit.delete(root.resolve(s"v=$v")))
  }

  /** The latest committed snapshot of the materialized aggregate. */
  def read(s: SparkSession, stateDir: String): DataFrame = {
    val root = Paths.get(stateDir)
    val v = latest(root).getOrElse(
      throw new IllegalStateException(s"no committed state under $stateDir"))
    s.read.parquet(root.resolve(s"v=$v").toString)
  }

  private def latest(root: Path): Option[Long] =
    Commit.numbered(root, "v=").lastOption
}
