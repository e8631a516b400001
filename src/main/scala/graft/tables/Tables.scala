package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import graft.ops.SessionMemo

/** Parquet loaders for the harness star schema (TESTDATA.md).
  *
  * Generalizes the reference's catalog-scan entry point
  * (reference: CollegeScorecard.scala:72 `spark.sql("select * from db.tbl")`)
  * to the driver corpus: one parquet file per table under a scale-factor dir.
  *
  * Each table is resolved ONCE per (session, path) at its file stamp,
  * like the reference's catalog tables: the first [[load]] pays the file
  * listing and the footer/schema-inference job, later loads reuse that
  * resolved relation and run no job at all. A new stamp re-resolves the
  * table and replaces the session's entry for that path; every other
  * [[graft.ops.SessionMemo]] whose build loaded the table rebuilds too.
  *
  * Scale note: `spark.read.parquet` gives Spark's vectorized columnar reader;
  * at 100 TB the same call reads a partitioned directory tree and Catalyst
  * performs partition pruning + predicate pushdown automatically — nothing
  * here assumes single-file inputs. There the listing and footer reads
  * are what resolution costs, so they are paid once per session instead
  * of once per query; the stamp check per load is one `stat` of the
  * table's root path. A table rewritten through that root (a new file or
  * directory moved over the old one) is seen by the next load. Edits
  * below the root that leave its modification time and length as they
  * were are NOT seen within a session: a part file rewritten in place, or
  * a file added to a partition subdirectory. The session keeps serving
  * the old file list, so new rows are missed and a deleted part file
  * fails the read — the catalog's REFRESH TABLE case, and on object
  * stores a directory's modification time may mean nothing at all.
  * `TablesSpec` pins the root-rewrite case.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private[graft] val resolved = new SessionMemo[DataFrame]()

  /** The table as a fresh instance of its once-resolved relation: the
    * same files and schema, new attribute ids — so two loads of one
    * table self-join exactly as two independent reads would. Memo builds
    * around a load record its path ([[SessionMemo.dependOn]]). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    Shim.freshRelation(resolved.getOrBuild(spark, path) {
      SessionMemo.dependOn(spark, path)
      spark.read.parquet(path)
    })
  }

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
    * metastore. Over already-resolved tables this runs no job. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach { n =>
      val df = if (n == "events") events(spark, sfDir)
               else load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}
