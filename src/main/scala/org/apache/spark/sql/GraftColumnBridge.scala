package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> catalyst Expression bridge.
  *
  * Spark 4 moved `Column` onto ColumnNode (Connect-compatible) and made
  * the classic converters `private[sql]`; this shim lives in the sql
  * package purely to re-export the two conversions graft's native
  * expressions need. No Spark internals are modified.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** [[connector.catalog.CatalogV2Util]] is private[sql]; the lake
    * catalog needs its column conversion to re-attach generation
    * expressions the default createTable bridge drops.
    */
  def v2ColumnsToStructType(
      cols: Array[connector.catalog.Column]): types.StructType =
    connector.catalog.CatalogV2Util.v2ColumnsToStructType(cols.toSeq)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** `c` converted now, as Dataset operators do (the form above defers
    * an API Column's conversion to the Dataset that uses it). */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)
  /** A DataFrame over an already-materialized InternalRow RDD (e.g. a
    * localCheckpoint'ed iteration state) — `internalCreateDataFrame` is
    * sql-private. The plan is a LogicalRDD leaf: lineage is CUT, which
    * is the point for iterative operators.
    */
  def internalFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every event already posted to the SparkContext's
    * listener bus has been delivered (QueryExecutionListener callbacks
    * included) — the deterministic replacement for sleeping after an
    * action. The bus is private[spark], hence this bridge.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
