package graft

import graft.io.SnapTable
import graft.queries.Snapshots
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec

/** The q236–q274 fixtures are named tables, one dir each: no query
  * commits to a table another query reads, so what a query answers,
  * and which files it reads, does not depend on the queries that ran
  * before it in the session. */
class SnapshotsSpec extends SparkSpec {

  /** A fresh session with AQE off, so the executed plan holds the scans
    * (and their file metrics) directly. */
  private def freshSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** The query's rows, and the number of data files its action read. */
  private def run(s: SparkSession, name: String,
      filesRead: DataFrame => Long): (Seq[String], Long) = {
    val df = SparkEntry.queries(name)(s, sf)
    (df.collect().map(_.toString).toSeq, filesRead(df))
  }

  // q240 prunes on the driver, so its input files are the files it reads
  private def inputFiles(df: DataFrame): Long = df.inputFiles.length.toLong

  // q271 prunes inside the scan: its input files name the whole table,
  // and the scan's numFiles metric counts the files it read
  private def scannedFiles(df: DataFrame): Long =
    df.queryExecution.executedPlan.collect {
      case sc: FileSourceScanExec => sc.metrics("numFiles").value
    }.sum

  test("q240 and q271 read the same rows and files whether or not q241 " +
      "optimized its table first") {
    val afterOptimize = freshSession()
    SparkEntry.queries("q241_snapshot_optimize")(afterOptimize, sf).collect()
    val alone = freshSession()
    val live = SnapTable.read(alone,
      Snapshots.fixture(alone, sf, "snap_stats")).inputFiles.length
    for ((name, filesRead) <- Seq(
        "q240_snapshot_skip" -> (inputFiles _),
        "q271_plan_pruned" -> (scannedFiles _))) {
      val (rows, files) = run(afterOptimize, name, filesRead)
      val (aloneRows, aloneFiles) = run(alone, name, filesRead)
      assert(rows === aloneRows, s"$name's answer depends on q241")
      assert(files === aloneFiles, s"$name's file subset depends on q241")
      assert(files < live,
        s"$name read $files of the stats table's $live files: no skipping")
    }
  }
}
