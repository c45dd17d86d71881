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
  /** Top-level conjuncts of `c`'s ColumnNode tree (the pre-analysis shape
    * Spark 4 Columns carry: comparisons are UnresolvedFunction nodes named
    * "=", "<", "and", …, not catalyst BinaryComparisons — and the node
    * classes are private[sql], hence this bridge), each function reduced
    * to (name, args) with every argument mapped to Left(attributeName),
    * Right(literalValue), or None for anything more complex. Callers
    * pattern match on this neutral form to derive e.g. predicate-implied
    * bounds without touching sql-private classes.
    */
  def conjunctComparisons(c: Column): Seq[(String, Seq[Option[Either[String, Any]]])] = {
    import org.apache.spark.sql.internal.{ColumnNode, Literal, UnresolvedAttribute,
      UnresolvedFunction}
    def conj(n: ColumnNode): Seq[ColumnNode] = n match {
      case f: UnresolvedFunction if f.functionName == "and" => f.arguments.flatMap(conj)
      case o => Seq(o)
    }
    def arg(n: ColumnNode): Option[Either[String, Any]] = n match {
      case a: UnresolvedAttribute => Some(Left(a.nameParts.mkString(".")))
      case l: Literal => Some(Right(l.value))
      case _ => None
    }
    conj(c.node).collect {
      case f: UnresolvedFunction => (f.functionName, f.arguments.map(arg))
    }
  }
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
