package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

class VectorSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def df = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (4L, Array(1.0f, 1.0f, 1.0f), Array(0.0f, 0.0f, 0.0f))
  ).toDF("id", "a", "b")

  test("cosine_sim matches hand computation") {
    val m = df.select(col("id"), cosine_sim(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(m(1L) === Some(1.0))
    assert(m(2L) === Some(0.0))
    val expected = (4 + 10 + 18) / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(m(3L).get - expected) < 1e-12)
    assert(m(4L) === None) // zero vector → NULL
  }

  test("dot_product matches hand computation") {
    val m = df.select(col("id"), dot_product(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(3L) === 32.0)
    assert(m(4L) === 0.0)
  }

  test("interpreted eval matches codegen") {
    // collect() path exercises codegen; eval via filter on literal exercises
    // the interpreted path through constant folding
    val viaSql = {
      spark.sql(
        "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)), " +
          "array(CAST(4.0 AS FLOAT), CAST(5.0 AS FLOAT), CAST(6.0 AS FLOAT)))")
        .collect()(0).getDouble(0)
    }
    val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(viaSql - expected) < 1e-12)
  }

  test("squared_distance equals the declarative fold bit-for-bit on corpus vectors") {
    // the q61 oracle contract: the codegen loop must produce the EXACT
    // IEEE sequence of aggregate(zip_with(...)) — on real embeddings,
    // not just synthetics
    val e = graft.tables.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("de"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("de").as("qe"))
    val both = e.crossJoin(q).select(
      graft.functions.VectorFunctions.squared_distance(col("de"), col("qe"))
        .as("fast"),
      org.apache.spark.sql.functions.aggregate(
        org.apache.spark.sql.functions.zip_with(col("de"), col("qe"),
          (x, y) => (x - y) * (x - y)),
        lit(0.0d), (acc, v) => acc + v).as("slow"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
      s"${r.getDouble(0)} != ${r.getDouble(1)}"))
  }

  test("squared_distance: length mismatch is NULL, like the declarative fold") {
    val df = Seq((Seq(1.0, 2.0), Seq(1.0))).toDF("a", "b")
    val r = df.select(
      graft.functions.VectorFunctions.squared_distance(col("a"), col("b")))
      .collect()(0)
    assert(r.isNullAt(0))
  }

  test("null ELEMENT is NULL, like the declarative fold (all three exprs)") {
    // SQL-registered functions see arbitrary arrays: a null element must
    // poison the result to NULL (matching aggregate(zip_with(...))), not
    // contribute an arbitrary 0.0 to the partial sum
    val rows = spark.sql(
      "SELECT squared_distance(array(CAST(1.0 AS DOUBLE), CAST(NULL AS DOUBLE)), " +
        "  array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE))), " +
        "cosine_sim(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), " +
        "  array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))), " +
        "dot_product(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "  array(CAST(NULL AS FLOAT), CAST(2.0 AS FLOAT))), " +
        "aggregate(zip_with(array(CAST(1.0 AS DOUBLE), CAST(NULL AS DOUBLE)), " +
        "  array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE)), " +
        "  (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
      .collect()(0)
    (0 to 3).foreach(i => assert(rows.isNullAt(i), s"col $i should be NULL"))
  }

  test("null input propagates") {
    val r = df.select(cosine_sim(lit(null).cast("array<float>"), col("b")))
      .collect()
    assert(r.forall(_.isNullAt(0)))
  }

  test("int_dot / int_squared_distance equal the declarative integer " +
      "fold exactly on corpus-quantized vectors; NULL semantics match") {
    // the q139/q97 contract: the codegen loops must produce the SAME
    // exact integers as aggregate(zip_with(...)) on real q54-quantized
    // vectors — integer arithmetic, so equality is outright
    val qv = graft.ext.Similarity.quantizedVectors(
      graft.tables.Tables.embeddings(spark, sf))
    val probes = qv.filter(col("vec_id") < 5).select(col("q").as("qq"))
    val both = qv.crossJoin(probes).select(
      graft.functions.VectorFunctions.int_dot(col("q"), col("qq"))
        .as("fd"),
      aggregate(zip_with(col("q"), col("qq"), (x, y) => x * y),
        lit(0L), (a, v) => a + v).as("sd"),
      graft.functions.VectorFunctions
        .int_squared_distance(col("q"), col("qq")).as("fs"),
      aggregate(zip_with(col("q"), col("qq"), (x, y) => (x - y) * (x - y)),
        lit(0L), (a, v) => a + v).as("ss"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getLong(0) === r.getLong(1), "int_dot != fold")
      assert(r.getLong(2) === r.getLong(3), "int_squared_distance != fold")
    }
    // NULL element poisons; NULL input propagates; length mismatch NULL
    val n = spark.sql(
      "SELECT int_dot(array(1L, CAST(NULL AS BIGINT)), array(1L, 2L)), " +
        "int_squared_distance(array(1L, 2L), array(CAST(NULL AS BIGINT), 1L)), " +
        "int_dot(CAST(NULL AS ARRAY<BIGINT>), array(1L)), " +
        "int_squared_distance(array(1L, 2L), array(1L))")
      .collect()(0)
    // length mismatch → NULL too: zip_with pads the shorter array with
    // NULLs, which poison the fold, so the expressions must match
    (0 to 3).foreach(i => assert(n.isNullAt(i), s"col $i should be NULL"))
  }
}
