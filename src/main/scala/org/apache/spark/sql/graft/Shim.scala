package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, classic}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` surface (Spark 4 no longer exposes a
  * public Expression→Column constructor). Lives in the org.apache.spark.sql
  * namespace solely for access; contains no Spark code.
  */
object Shim {
  /** Lift a raw Catalyst expression into a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst expression backing a Column (classic backend). */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A new DataFrame over a fresh instance of `df`'s base relation (a
    * file scan, as `spark.read` returns it): same relation, new attribute
    * ids, and no re-resolution — so no file listing or schema job. */
  def freshRelation(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case r: MultiInstanceRelation => classic.Dataset.ofRows(
        df.sparkSession.asInstanceOf[classic.SparkSession], r.newInstance())
      case other => throw new IllegalArgumentException(
        s"freshRelation needs a base relation, got ${other.nodeName}")
    }
}
