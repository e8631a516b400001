package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.{CosineSimilarity, DotProduct, IntDotProduct, IntMatchCount, IntSquaredDistance, Shim, SquaredDistance}

/** User-facing Column API for the custom vector expressions
  * (implementation in org.apache.spark.sql.graft — see the Scaladoc there
  * for design + scale rationale). */
object VectorFunctions {
  def cosine_sim(a: Column, b: Column): Column =
    Shim.column(CosineSimilarity(Shim.expression(a), Shim.expression(b)))

  def dot_product(a: Column, b: Column): Column =
    Shim.column(DotProduct(Shim.expression(a), Shim.expression(b)))

  def squared_distance(a: Column, b: Column): Column =
    Shim.column(SquaredDistance(Shim.expression(a), Shim.expression(b)))

  def int_dot(a: Column, b: Column): Column =
    Shim.column(IntDotProduct(Shim.expression(a), Shim.expression(b)))

  def int_squared_distance(a: Column, b: Column): Column =
    Shim.column(IntSquaredDistance(Shim.expression(a), Shim.expression(b)))

  def int_match_count(a: Column, b: Column): Column =
    Shim.column(IntMatchCount(Shim.expression(a), Shim.expression(b)))
}
