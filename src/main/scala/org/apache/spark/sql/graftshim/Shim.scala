package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{DataType, StructType}

/** Bridge into `private[sql]` Spark internals: wrap a raw Catalyst
  * [[org.apache.spark.sql.catalyst.expressions.Expression]] as a
  * user-facing [[org.apache.spark.sql.Column]] and register native
  * functions on a live session. Lives under `org.apache.spark.sql` for
  * access; keep the surface minimal.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over an already-optimized logical plan, so the rules
    * that produced it (e.g. the driver-side evaluation that folds a
    * projection into a `LocalRelation`) do not run a second time. */
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame over driver-held rows: a `LocalRelation`, so
    * projections and filters over it fold at planning time and
    * `collect()` runs no job. */
  def localFrame(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    ofPlan(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** A DataFrame over an RDD of Catalyst rows laid out as `schema`,
    * for operators that map over `queryExecution.toRdd` themselves. */
  def ofRows(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** A row's column 0 of type `t` as Spark groups it in a window,
    * join or aggregate key, where NaN and -0.0 are normalized
    * (`NormalizeFloatingNumbers`): two rows group together exactly when
    * their keys are equal. */
  def groupingKey(t: DataType): InternalRow => UnsafeRow = {
    val proj = UnsafeProjection.create(
      Seq(NormalizeFloatingNumbers.normalize(BoundReference(0, t, nullable = true))))
    r => proj(r).copy()
  }

  /** Register a native function builder under `name` for SQL use. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression
  ): Unit = {
    val registry =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.functionRegistry
    registry.createOrReplaceTempFunction(name, builder, "built-in")
  }
}
