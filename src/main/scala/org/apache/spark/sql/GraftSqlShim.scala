package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge between Catalyst `Expression`s and the public `Column`
  * API. Spark 4.x moved Column to a ColumnNode abstraction; the classic
  * converters live in `org.apache.spark.sql.classic.ExpressionUtils`, which
  * is `private[sql]` — this shim (compiled into the sql package, a standard
  * pattern for Spark extensions) re-exposes exactly the two conversions the
  * engine's custom-expression tier needs (SURVEY.md §3.8 row 51).
  */
object GraftSqlShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap an `RDD[InternalRow]` with a known schema as a DataFrame
    * (`SparkSession.internalCreateDataFrame` is `private[sql]`) — the
    * bridge graft.LazyFrame uses to defer an iterative query's driver-side
    * jobs to first action instead of DataFrame construction.
    */
  def internalCreateDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** Block until every posted listener event is delivered (`waitUntilEmpty`
    * is spark-private); graft.Profile reads its listener only after this.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
