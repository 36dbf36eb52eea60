package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.types.DataType

/** Column ⇄ Expression bridge. Spark 4 made the Column internals
  * `private[sql]`; this shim is the single sanctioned crossing point for
  * the graft engine's custom expressions. */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Lazy wrapper (fine when the result re-enters the DataFrame API). */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager ColumnNode → catalyst conversion, required when the result is
    * embedded directly in a plan (e.g. from a FunctionRegistry builder):
    * the lazy wrapper never gets converted there and dies at codegen.
    * Nested functions come out as UnresolvedFunction and are resolved by
    * the analyzer's next pass. */
  def toExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** `ExpectsInputTypes`' check (exact types up to nullability, no
    * implicit casts, the standard UNEXPECTED_INPUT_TYPE error) for
    * expressions outside `sql`, where its input-type base class is not
    * visible. */
  def checkInputTypes(inputs: Seq[Expression], types: Seq[DataType]): TypeCheckResult =
    ExpectsInputTypes.checkInputDataTypes(inputs, types)

  /** InternalRow RDD → DataFrame (private[sql] in Spark 4). Used by
    * operators that need explicit partition placement (e.g. identity
    * range partitioning), where the public `repartition` API only offers
    * hash or sampling-based range placement. */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)
}
