package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet loaders for the harness star schema (TESTDATA.md).
  *
  * Generalizes the reference's catalog-scan entry point
  * (reference: CollegeScorecard.scala:72 `spark.sql("select * from db.tbl")`)
  * to the driver corpus: one parquet file per table under a scale-factor dir.
  *
  * Scale note: `spark.read.parquet` gives Spark's vectorized columnar reader;
  * at 100 TB the same call reads a partitioned directory tree and Catalyst
  * performs partition pruning + predicate pushdown automatically — nothing
  * here assumes single-file inputs.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` normalized to session-zone TIMESTAMP regardless of how the
    * corpus generator encoded it. Two vintages exist:
    *
    *  - parquet TIMESTAMP(NANOS): Spark 4 rejects it unless
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    *    `GraftExtensions.builder`), which surfaces it as a LONG of epoch-nanos.
    *    Truncate to microseconds with integer `div` (epoch-nanos exceed
    *    double's 53-bit mantissa) — exactly what DuckDB does reading the
    *    same file, so oracle comparisons line up.
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads it as
    *    TIMESTAMP_NTZ. Cast to TIMESTAMP — value-identical under the UTC
    *    session zone every entry point pins, and DuckDB's naive TIMESTAMP
    *    read of the same file matches.
    *
    * Branching on the OBSERVED type (not session conf) keeps one binary
    * correct across both corpus vintages. A loader must not mutate session
    * conf: that is a global side effect from a read path, and under
    * concurrent queries it would race. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame =
    load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    load(s, d, "embeddings")

  /** Register every table as a temp view so `spark.sql` works against the
    * corpus — the reference's name-based access idiom
    * (reference: CollegeScorecard.scala:72) without requiring a Hive
    * metastore. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach { n =>
      val df = if (n == "events") events(spark, sfDir)
               else load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}
