package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, classic}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

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

  /** Materialized checkpoints as ONE leaf (fresh ids): a `LogicalRDD` over
    * `SparkContext.union` of their RDDs. A column is nullable if it is in
    * any, `sizeInBytes` sums theirs, and they must share one (name, type) list. */
  def checkpointUnion(segs: Seq[DataFrame]): DataFrame = {
    val rels = segs.map(_.queryExecution.analyzed match {
      case r: LogicalRDD if r.rdd.isCheckpointed => r
      case other => throw new IllegalArgumentException(
        s"checkpointUnion needs materialized checkpoints, got ${other.nodeName}")
    })
    val shapes = rels.map(_.output.map(a => (a.name, a.dataType.asNullable)))
    require(shapes.distinct.size == 1,
      s"checkpointUnion needs one column list, got ${shapes.distinct.mkString(" and ")}")
    val output = rels.map(_.output).transpose.map(as => AttributeReference(
      as.head.name, as.map(_.dataType).reduce(StructType.unionLikeMerge),
      as.exists(_.nullable), as.head.metadata)())
    val s = segs.head.sparkSession.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(s, LogicalRDD(output,
      s.sparkContext.union(rels.map(_.rdd)))(
      s, Some(Statistics(rels.map(_.computeStats().sizeInBytes).sum))))
  }
}
