package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL corpus interchange — the de-facto wire format of LLM training
  * data (every public corpus drop ships as `*.jsonl`). The engine-side
  * concern is not parsing (Spark's JSON source is codegen'd) but INGEST
  * DISCIPLINE at 100 TB: an explicit schema (schema inference would
  * re-scan the whole drop before the first real job), PERMISSIVE mode
  * with a corrupt-record capture column (a million-file crawl drop
  * ALWAYS contains truncated lines — failing the job on line 10⁹ or,
  * worse, silently dropping bad lines are both unacceptable), and a
  * quarantine count that reconciles input lines to output rows.
  *
  * Scale shape: one pass, file-parallel (JSONL splits on newlines, so
  * even a single giant file fans out by HDFS block); the corrupt
  * capture rides the same scan — no second validation pass. */
object JsonlIo {

  /** Deterministic malformed lines planted into the fixture drop —
    * truncated records, bare text, structural typos: the shapes a
    * truncated upload or mid-line rotation actually produces. */
  val CorruptLines: Seq[String] = Seq(
    """{"doc_id": 900001, "text": "truncated mid-str""",
    """{"doc_id": 900002,""",
    """not json at all""",
    """{"doc_id": }""",
    """[1, 2""",
    """{"doc_id" 900003}""",
    """{unquoted: true}""")

  /** The documents schema plus the corrupt-record capture column. */
  private val ingestSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("_corrupt", StringType)))

  /** Schema-enforced PERMISSIVE JSONL read: well-formed lines parse
    * into typed columns; malformed lines surface as a row whose
    * `_corrupt` column carries the raw line (all data columns null). */
  def ingest(s: SparkSession, path: String): DataFrame =
    s.read.schema(ingestSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** The documents corpus exported to JSONL plus one planted shard of
    * [[CorruptLines]], once per (session, dir). */
  private def jsonlDocs(s: SparkSession, dir: String): String =
    graft.tables.Tables.documentsFixture(s, dir, "jsonl_docs") { (docs, d) =>
      docs.write.mode("overwrite").json(d)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(d, "part-corrupt.json"),
        CorruptLines.mkString("\n") + "\n")
    }

  /** q248 — JSONL ingest under the value gate: per-source corpus stats
    * computed FROM THE ROUND-TRIPPED DROP (writer → JSONL shards →
    * schema-enforced permissive reader), with the planted malformed
    * lines quarantined under a `__corrupt__` bucket whose count must
    * be exactly [[CorruptLines]].size — the reconciliation a real
    * ingest publishes next to every drop. The oracle recomputes the
    * clean stats from raw parquet and pins the corrupt row as a
    * constant: the whole writer/reader pair must be value-invisible
    * and the quarantine exact. */
  def jsonlIngestStats(s: SparkSession, dir: String): DataFrame =
    ingest(s, jsonlDocs(s, dir))
      .groupBy(when(col("_corrupt").isNotNull, lit("__corrupt__"))
        .otherwise(col("source")).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("n_chars"), lit(0L))).as("total_chars"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy(col("source"))

  val jsonlIngestSql: String =
    s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS total_chars,
       |  max(doc_id) AS max_doc_id
       |FROM documents GROUP BY source
       |UNION ALL
       |SELECT '__corrupt__', ${CorruptLines.size}, 0, NULL
       |ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q248_jsonl_ingest" -> (jsonlIngestStats _))

  val oracles: Map[String, String] = Map(
    "q248_jsonl_ingest" -> jsonlIngestSql)
}
