package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes — run only matching
    // queries (local iteration; the driver always runs the full set)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val spark = GraftExtensions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_SQL_ONLY=1: dump oracle_sql.json/ordered.json without
    // executing the queries (local iteration: the paired DuckDB bench
    // needs only the SQL, not the parquet results)
    val sqlOnly = sys.env.get("SPARK_GRAFT_SQL_ONLY").contains("1")
    if (!sqlOnly) SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // order-sensitive contracts (separate file so the driver's
    // oracle_sql.json parse is untouched): check.py compares these
    // queries' rows IN ORDER — coalesce(1) above makes the dumped
    // parquet's row order well-defined
    Files.writeString(Paths.get(s"$outDir/ordered.json"),
      SparkEntry.ordered.filter(selected).toSeq.sorted
        .map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
