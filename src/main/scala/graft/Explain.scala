package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

/** Dev tool: print formatted physical plans for named queries, under
  * the SAME session shape Bench/Verify run ([[GraftExtensions.builder]])
  * so a committed plan dump reflects what the bench actually executed.
  * Each relation is run first, so the printed adaptive plan is the final
  * one: AQE's runtime rules (coalescing, join demotion, the one-partition
  * final sort) only show in a plan that has executed.
  * Also knows INTERNAL relations that queries hide behind localCheckpoint
  * boundaries (a checkpointed feed appears as `Scan ExistingRDD` in the
  * consumer's plan): chunk_relation (q186/q188 feed), scrubbed (q79/q89
  * feed), neardup_pairs (q49/q88 feed).
  * Usage: SPARK_GRAFT_CPUS=32 runMain graft.Explain <sfDir> <name>... */
object Explain {
  def plans(spark: SparkSession, sfDir: String): Map[String, () => DataFrame] =
    SparkEntry.queries.map { case (n, fn) => n -> (() => fn(spark, sfDir)) } ++ Map(
      "chunk_relation" -> (() => graft.ext.Text.chunkRelationOf(
        graft.tables.Tables.documents(spark, sfDir))),
      "scrubbed" -> (() => graft.ext.Corpus.scrubbed(spark, sfDir)),
      "neardup_pairs" -> (() => graft.ext.Similarity
        .nearDupLshPairs(spark, sfDir)))

  /** Run `df` through its own QueryExecution — every row computed, none
    * collected — and return its formatted final plan. */
  def finalPlan(df: DataFrame): String = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("explain"))(
      qe.executedPlan.execute().foreach(_ => ()))
    qe.explainString(FormattedMode)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftExtensions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"========== $n ==========")
      println(finalPlan(plans(spark, sfDir)(n)()))
    }
    spark.stop()
  }
}
