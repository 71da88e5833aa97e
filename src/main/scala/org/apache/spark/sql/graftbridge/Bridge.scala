package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into package-private Spark 4 internals: Column no longer
  * exposes a public Expression constructor; classic.ExpressionUtils.column
  * is the internal factory (pattern per SNIPPETS.md [1]/[3] — public
  * projects place a one-file shim in the spark namespace).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over an arbitrary DSv2 [[Table]] instance (no catalog
    * registration needed) — the doorway ChangeFeed uses to scan a pinned
    * file subset. DataSourceV2Relation + Dataset.ofRows are private[sql];
    * this shim is the supported pattern for reaching them.
    */
  def v2Rows(spark: org.apache.spark.sql.SparkSession,
             table: org.apache.spark.sql.connector.catalog.Table): org.apache.spark.sql.DataFrame = {
    val rel = org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
      .create(table, None, None)
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], rel)
  }

  /** Block until every event posted so far has reached every listener.
    * The bus is private[spark]; counters read after this call are exact,
    * with no polling.
    */
  def waitUntilEmpty(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
