package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, Cast, Expression, Literal, Size, SortArray}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, BooleanType, IntegerType, LongType}

/** Optimizer rule:
  * `size(array_intersect(sort_array(a), sort_array(b)))` rewrites to
  * `cast(sorted_intersect_count(sort_array(a), sort_array(b)) as int)`.
  *
  * The declarative spelling builds a hash set AND materializes the
  * intersection array per row, only to take its length — over a
  * candidate-pair join that allocation is the whole verify cost
  * (measured 2.3 s of q98's 5.2 s at sf0.1, which is why q98 calls
  * [[SortedIntersectCount]] by hand). This rule gives a USER's
  * declarative query the same kernel automatically — the
  * `Rule[LogicalPlan]` escalation tier of the extension architecture
  * (SURVEY §7.4 preference order), injected via
  * [[graft.GraftExtensions]].
  *
  * Soundness guards (the rewrite fires only when provably
  * value-identical):
  *   - both intersect inputs are syntactically `sort_array(_, asc)` —
  *     the merge kernel's sorted-ascending precondition, guaranteed by
  *     construction rather than assumed;
  *   - element type is non-nullable BIGINT (`containsNull = false`
  *     statically): `array_intersect` COUNTS a null element present on
  *     both sides, while the kernel poisons to NULL — so nullable
  *     elements never rewrite;
  *   - `size` is in modern semantics (`legacySizeOfNull = false`,
  *     the default): both sides then yield NULL for a NULL array
  *     (legacy -1 would diverge).
  * Duplicate elements count once in both spellings (set semantics /
  * equal-run skip), and the int cast is exact — a count is bounded by
  * the array size, which is an int. */
object RewriteSortedIntersectCount extends Rule[LogicalPlan] {

  private def sortedNonNullLongs(e: Expression): Boolean = e match {
    case SortArray(child, Literal(true, BooleanType)) =>
      child.dataType match {
        case ArrayType(LongType, false) => true
        case _ => false
      }
    // constant folding may have already collapsed a literal-input
    // sort_array into a plain array literal before this rule runs —
    // a literal's ascending order is checkable right here
    case Literal(data: ArrayData, ArrayType(LongType, false))
        if data != null =>
      val n = data.numElements()
      var i = 1; var ok = true
      while (ok && i < n) {
        ok = data.getLong(i - 1) <= data.getLong(i); i += 1
      }
      ok
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(ArrayIntersect(l, r), false)
          if sortedNonNullLongs(l) && sortedNonNullLongs(r) =>
        Cast(SortedIntersectCount(l, r), IntegerType)
    }
}

/** Optimizer rule:
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)`
  * over `array<bigint>` rewrites to `int_dot(a, b)` — the declarative
  * integer-dot-product fold becomes the whole-stage-codegen kernel.
  *
  * The fold is THE natural SQL spelling of a quantized-vector dot
  * product, and it evaluates interpreted per row (boxed lambdas,
  * per-element closure dispatch) plus materializes the zip_with product
  * array per pair; [[IntDotProduct]] reads longs straight out of
  * UnsafeArrayData with zero allocation — on candidate-pair relations
  * that difference dominates the query (the q139/q158 lesson that
  * motivated the kernel; this rule gives a USER's declarative query the
  * same kernel automatically, the [[RewriteSortedIntersectCount]]
  * escalation tier applied to arithmetic folds).
  *
  * Soundness guards (the rewrite fires only when provably
  * value-identical):
  *   - the zip function is EXACTLY `x * y` over the two lambda
  *     variables (one reference each, either order — multiplication is
  *     commutative and long-exact), the merge is exactly `acc + v`, the
  *     zero is `0L`, and the finish lambda is the identity;
  *   - element type is BIGINT (nullable elements are FINE, unlike the
  *     intersect rule: a null element poisons both spellings to NULL by
  *     the same prefix-fold path, and the kernel reproduces it);
  *   - eval modes: LEGACY Multiply/Add → wrapping kernel; ANSI → the
  *     kernel's `ansi = true` arm, which reproduces the fold's overflow
  *     ERROR SET and ordering exactly (see [[IntDotProduct]]); a TRY_*
  *     spelling (overflow → NULL) never rewrites.
  * Length mismatch → NULL in both spellings (zip_with pads with nulls,
  * which poison the fold; the kernel returns NULL after running the
  * same ANSI multiply checks zip_with would). */
object RewriteIntDotFold extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate, EvalMode, LambdaFunction, Multiply, NamedLambdaVariable, ZipWith}

  /** The binary op's operands are exactly one reference to each of the
    * two lambda variables (either order). */
  private def usesBoth(opL: Expression, opR: Expression,
      v1: NamedLambdaVariable, v2: NamedLambdaVariable): Boolean =
    (opL, opR) match {
      case (a: NamedLambdaVariable, b: NamedLambdaVariable) =>
        (a.exprId == v1.exprId && b.exprId == v2.exprId) ||
          (a.exprId == v2.exprId && b.exprId == v1.exprId)
      case _ => false
    }

  private def identityFinish(f: Expression): Boolean = f match {
    case LambdaFunction(body: NamedLambdaVariable,
        Seq(arg: NamedLambdaVariable), _) => body.exprId == arg.exprId
    case _ => false
  }

  private def longArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
          ZipWith(a, b, LambdaFunction(mul: Multiply,
            Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
          Literal(0L, LongType),
          LambdaFunction(add: Add,
            Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _),
          finish)
          if longArray(a) && longArray(b) &&
            usesBoth(mul.left, mul.right, x, y) &&
            usesBoth(add.left, add.right, acc, v) &&
            identityFinish(finish) &&
            mul.evalContext.evalMode == add.evalContext.evalMode &&
            (mul.evalContext.evalMode == EvalMode.LEGACY ||
              mul.evalContext.evalMode == EvalMode.ANSI) =>
        IntDotProduct(a, b,
          ansi = mul.evalContext.evalMode == EvalMode.ANSI)
    }
}

/** Runtime (AQE) optimizer rule: a query's final global ORDER BY over a
  * small, already-materialized input sorts on ONE partition —
  * `Sort(global)` gets a no-shuffle `Repartition(1)` (a `CoalesceExec`)
  * under it, whose single partition already satisfies the sort's
  * ordered distribution, so no range exchange is planned.
  *
  * A range exchange costs two fixed overheads however few rows it
  * carries: `RangePartitioner` runs a sampling job that re-executes the
  * whole child, then the range shuffle itself. On a few-row result that
  * is half the query's jobs. The rule fires only when the sort's input
  * is small enough that one task beats that overhead:
  *   - the Sort is the plan root, possibly under Project/Filter — the
  *     query's final ordering (a Sort under a Limit never reaches this
  *     rule: it plans as `TakeOrderedAndProject`);
  *   - every leaf below it is a LogicalQueryStage whose stages are all
  *     materialized, so the sizes below are runtime sizes, not guesses;
  *   - none of those stages is a range shuffle: when nothing under the
  *     sort shuffles, its own range exchange is the first stage, and
  *     by the time it has materialized the sampling is already paid;
  *   - those stages' runtime bytes, and Catalyst's estimate of the
  *     sort's input built on them (a join multiplies its sides), are
  *     both at most [[MaxInputBytes]] and at most
  *     `spark.sql.adaptive.advisoryPartitionSizeInBytes`;
  *   - shuffle-partition coalescing is enabled at all.
  * Everything after the last shuffle — the final aggregate as well as
  * the sort — then runs on one task instead of AQE's parallelism-first
  * coalesced partitions, which is why the bound is small. Larger sorts,
  * including every large sort at 100 TB, keep the range exchange
  * unchanged. Rows are identical: a single partition sorted by the same
  * ordering is the same total order. Injected via
  * [[graft.GraftExtensions]]; it only runs during execution, so an
  * unexecuted plan still shows the range exchange. */
object SortSmallResultOnOnePartition extends Rule[LogicalPlan] {

  /** The largest input, in the stages' runtime bytes (uncompressed
    * shuffle data), measured to sort faster on one task. A final
    * `groupBy…orderBy` at sf0.1 with the rule on and excluded, 10
    * alternating pairs per size in one JVM, `local[4]` on a 4-vCPU VM:
    * one task won 10/10 at 2.8, 5.6 and 7.0 MiB (−28%, −22%, −12%),
    * tied at 8.4 and 12.6 MiB, and lost at 9.8, 11.2, 14, 28 and 56 MiB
    * (+5% to +17%). With more cores the range exchange's sort spreads
    * wider, so the crossover should move down; that is not measured. */
  val MaxInputBytes: Long = 7L << 20

  private def fitsOnePartition(child: LogicalPlan): Boolean = {
    val leaves = child.collectLeaves()
    val stages = leaves.collect {
      case q: LogicalQueryStage =>
        q.physicalPlan.collect { case s: QueryStageExec => s }
    }.flatten
    val limit = math.min(MaxInputBytes,
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED) &&
      leaves.forall(_.isInstanceOf[LogicalQueryStage]) &&
      stages.nonEmpty && stages.forall(_.isMaterialized) &&
      !stages.exists {
        case s: ShuffleQueryStageExec =>
          s.shuffle.outputPartitioning.isInstanceOf[RangePartitioning]
        case _ => false
      } &&
      stages.map(_.getRuntimeStatistics.sizeInBytes).sum <= limit &&
      child.stats.sizeInBytes <= limit
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case p: Project => p.withNewChildren(Seq(apply(p.child)))
    case f: Filter => f.withNewChildren(Seq(apply(f.child)))
    // the runtime batch runs to a fixed point: rewrite once
    case Sort(_, true, Repartition(1, false, _), _) => plan
    case s @ Sort(_, true, child, _) if fitsOnePartition(child) =>
      s.copy(child = Repartition(1, shuffle = false, child))
    case _ => plan
  }
}
