package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan,
  Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Scan-parallelism guard (optimization guide §2.5 / §6).
  *
  * A parquet file is splittable only at row-group boundaries; a
  * single-row-group file — the local test corpus's layout, and the
  * general "one huge unsplittable file" input-skew case — plans as ONE
  * scan task, so everything that pipelines with the scan (tokenize,
  * shingle, hash, LSH signatures) runs on one core while the rest of
  * the executor idles. [[fan]] repartitions such an under-parallelized
  * scan up to the session's full parallelism BEFORE the expensive
  * per-row work, paying one narrow shuffle of the (projected) input.
  *
  * Scale shape: the guard makes this a strict NO-OP whenever the scan
  * already carries at least half the session's parallelism — a 100-TB
  * table scans as thousands of splits, so production plans never pay
  * the extra exchange; only a degenerate file layout (or a tiny local
  * corpus) triggers it. Callers apply it ONLY where the downstream
  * per-row work dominates the scan (CPU-heavy text/vector kernels) —
  * for scan-dominated aggregations the extra exchange buys nothing. */
object Par {
  /** True iff the analyzed plan is a bare file scan under (optional)
    * projections/filters/aliases — the only shape whose `.rdd` partition
    * probe is free. Anything with an exchange, join or aggregate in it
    * would be MATERIALIZED by the probe under AQE (every upstream query
    * stage runs at planning time, so a derived input could execute
    * twice); such inputs are left untouched. */
  private def isBareScan(plan: LogicalPlan): Boolean = plan match {
    case p: Project        => isBareScan(p.child)
    case f: Filter         => isBareScan(f.child)
    case a: SubqueryAlias  => isBareScan(a.child)
    case _: LogicalRelation => true
    case _                 => false
  }

  def fan(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    if (!isBareScan(df.queryExecution.analyzed)) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    // .rdd plans the frame without executing it; for the narrow base
    // scans the leaf check above admits, that is milliseconds
    if (target > 1 && df.rdd.getNumPartitions * 2 <= target)
      df.repartition(target)
    else df
  }
}
