package org.apache.spark.sql.graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalarSubquery}
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column ↔ Expression conversions, so the
  * engine's native Catalyst expressions (graft.functions.VectorExpressions)
  * can be exposed as ordinary `Column`s. Lives under `org.apache.spark.sql`
  * solely for access; contains no logic.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a one-row, one-column DataFrame as an uncorrelated scalar
    * subquery `Column` — evaluated once per query, then visible to
    * expressions as a constant (the shape [[BloomMightContain]] requires). */
  def scalarSubquery(df: DataFrame): Column =
    ExpressionUtils.column(ScalarSubquery(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.analyzed))
}

/** Bridge into a task's output metrics, whose setters are
  * `private[spark]`, so a task that writes its files itself
  * (graft.streaming.FileTopicSink) reports them as Spark's own file writer
  * does. Contains no logic. */
object OutputMetricsBridge {
  /** Add to the running task's bytes and records written. */
  def report(bytes: Long, records: Long): Unit =
    Option(TaskContext.get()).foreach { tc =>
      val m = tc.taskMetrics().outputMetrics
      m.setBytesWritten(m.bytesWritten + bytes)
      m.setRecordsWritten(m.recordsWritten + records)
    }
}

/** Bridge into Spark's `private[sql]` streaming relation, so a DSv2
  * [[org.apache.spark.sql.connector.catalog.Table]] the engine builds
  * (graft.streaming.TopicStream) streams as is, without a provider looked
  * up by name and rebuilt from string options. Contains no logic. */
object StreamBridge {
  def stream(spark: org.apache.spark.sql.SparkSession,
             table: org.apache.spark.sql.connector.catalog.Table): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.catalyst.streaming.StreamingRelationV2(None, table.name(), table,
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty(),
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(table.schema()),
        None, None, None))
}
