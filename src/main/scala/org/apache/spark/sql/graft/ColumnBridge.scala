package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for custom Catalyst expressions. Spark 4 made
  * the converters `private[sql]` (`ExpressionUtils`), so extension libraries
  * reach them from inside the `org.apache.spark.sql` package — this shim is
  * the only file that does; all engine code stays in `graft.*`.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a (resolved) logical plan — `Dataset.ofRows` is
    * likewise `private[sql]`; needed to hand custom logical nodes (e.g. the
    * as-of join) to the session's planner. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Uncorrelated scalar subquery over a finished single-row/single-column
    * DataFrame — the expression shape Spark's own `InjectRuntimeFilter`
    * emits for bloom-filter runtime pruning. The subquery plan executes once
    * before the main query; its scalar result is then a constant available
    * to every task (`BloomFilterMightContain` requires its filter side to be
    * foldable or exactly this). */
  def scalarSubquery(df: org.apache.spark.sql.DataFrame): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
          .queryExecution.analyzed))

  /** The `AppendColumns` plan `groupByKey(f)` builds, as a DataFrame, with
    * its appended key columns and the input's data columns, both as
    * attributes (a data column may share the key's name, e.g. `value`).
    * `KeyValueGroupedDataset.queryExecution` is `private[sql]`. */
  def appendedKey(kv: org.apache.spark.sql.KeyValueGroupedDataset[_, _])
      : (org.apache.spark.sql.DataFrame, Seq[Column], Seq[Column]) = {
    val qe = kv.asInstanceOf[org.apache.spark.sql.classic.KeyValueGroupedDataset[_, _]]
      .queryExecution
    qe.analyzed match {
      case a: org.apache.spark.sql.catalyst.plans.logical.AppendColumns =>
        (ofRows(qe.sparkSession, a), a.newColumns.map(column), a.child.output.map(column))
      case p => throw new IllegalStateException(s"groupByKey did not append a key: $p")
    }
  }
}
