package graft

import org.apache.spark.graft.Jobs
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
import org.apache.spark.sql.graft.SortSmallResultOnOnePartition
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** `SortSmallResultOnOnePartition`: a final ORDER BY over a small,
  * materialized input sorts on one partition — no range-sampling job, no
  * range shuffle — and every other sort keeps its range exchange. Both
  * directions are locked: the rule fires in the engine session and the
  * range exchange returns when the rule is excluded. */
class SortRuleSpec extends SparkSpec {

  private val ruleName = SortSmallResultOnOnePartition.ruleName

  /** A fresh session: conf changes stay local to one test. */
  private def session(conf: (String, String)*): SparkSession = {
    val s = spark.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def flagCounts(s: SparkSession): DataFrame =
    Tables.lineitem(s, sf).groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"))

  /** Collect `df`, returning its rows, the jobs the collect ran and its
    * final adaptive plan (without the initial plan AQE also prints). */
  private def run(df: DataFrame): (Seq[Row], Int, String) = {
    val (rows, jobs) = Jobs.count(spark.sparkContext)(df.collect().toSeq)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        assert(a.isFinalPlan)
        a.finalPhysicalPlan
      case p => p
    }
    (rows, jobs, plan.toString)
  }

  test("a small groupBy-orderBy sorts on one partition: 2 jobs, not 4") {
    val s = session()
    val expected = flagCounts(s).collect().toSeq.sortBy(_.getString(0))
    val (rows, jobs, plan) = run(flagCounts(s).orderBy(col("l_returnflag")))
    assert(rows === expected)
    assert(jobs === 2, plan)
    assert(!plan.toLowerCase.contains("rangepartitioning"), plan)
    assert(plan.contains("Coalesce 1"), plan)

    val off = session("spark.sql.adaptive.optimizer.excludedRules" -> ruleName)
    val (offRows, offJobs, offPlan) =
      run(flagCounts(off).orderBy(col("l_returnflag")))
    assert(offRows === expected)
    assert(offJobs === 4, offPlan)
    assert(offPlan.toLowerCase.contains("rangepartitioning"), offPlan)
  }

  test("an input above the advisory partition size keeps the range exchange") {
    val s = session("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1")
    val expected = flagCounts(s).collect().toSeq.sortBy(_.getString(0))
    val (rows, jobs, plan) = run(flagCounts(s).orderBy(col("l_returnflag")))
    assert(rows === expected)
    assert(jobs === 4, plan)
    assert(plan.toLowerCase.contains("rangepartitioning"), plan)
  }

  test("an input above the one-task bound keeps the range exchange") {
    // above MaxInputBytes, below the default 64 MB advisory size: only
    // the measured bound keeps this sort spread over several tasks
    val s = session()
    val wide = s.range(0, 500000).groupBy((col("id") % 300000).as("k"))
      .agg(sum(col("id")).as("v")).orderBy(col("k"))
    val (rows, jobs, plan) = run(wide)
    assert(rows.map(_.getLong(0)) === (0L until 300000L))
    assert(jobs === 4, plan)
    assert(plan.toLowerCase.contains("rangepartitioning"), plan)
    val adaptive = wide.queryExecution.executedPlan
      .asInstanceOf[AdaptiveSparkPlanExec].finalPhysicalPlan
    def stages(p: SparkPlan): Seq[ShuffleQueryStageExec] =
      p.collect { case q: ShuffleQueryStageExec => q +: stages(q.plan) }.flatten
    val bytes = stages(adaptive)
      .filterNot(_.shuffle.outputPartitioning.isInstanceOf[RangePartitioning])
      .map(_.getRuntimeStatistics.sizeInBytes).sum
    assert(bytes > SortSmallResultOnOnePartition.MaxInputBytes, bytes)
    assert(bytes <= s.sessionState.conf.getConf(
      SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES), bytes)
  }

  test("orderBy-limit still plans TakeOrderedAndProject") {
    val s = session()
    val (rows, _, plan) =
      run(flagCounts(s).orderBy(col("n").desc, col("l_returnflag")).limit(2))
    assert(rows === flagCounts(s).collect().toSeq
      .sortBy(r => (-r.getLong(1), r.getString(0))).take(2))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Coalesce 1"), plan)
  }

  test("a sort that feeds a non-root operator is left alone") {
    val s = session()
    val sorted = flagCounts(s).orderBy(col("l_returnflag"))
    val (rows, _, plan) = run(sorted.union(sorted))
    val once = flagCounts(s).collect().toSeq.sortBy(_.getString(0))
    assert(rows === once ++ once)
    assert(plan.toLowerCase.contains("rangepartitioning"), plan)
    assert(!plan.contains("Coalesce 1"), plan)
  }

  test("a sort with no shuffle below it keeps its range exchange") {
    // its range exchange is the first stage: once that has run, the
    // sampling is paid and a one-partition re-sort would only add work
    val s = session()
    val (rows, _, plan) = run(Tables.nation(s, sf).orderBy(col("n_name")))
    assert(rows.map(_.getAs[String]("n_name")) ===
      Tables.nation(s, sf).collect().toSeq.map(_.getAs[String]("n_name")).sorted)
    assert(plan.toLowerCase.contains("rangepartitioning"), plan)
    assert(!plan.contains("Coalesce 1"), plan)
  }
}
