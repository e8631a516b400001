package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.{CosineSimilarity, DotProduct, IntDotProduct, IntMatchCount, IntSquaredDistance, LangId, PortableSimHash, RewriteSortedIntersectCount, RewriteIntDotFold, RollingHash, SimHash, SortSmallResultOnOnePartition, SortedIntersectCount, SquaredDistance}

/** Session-build-time registration of the engine's custom Catalyst
  * expressions (the `SparkSessionExtensions` integration point — SURVEY.md
  * §7.4 build plan):
  *
  * {{{
  * GraftExtensions.builder().getOrCreate() // or .withExtensions(new GraftExtensions)
  * // or: spark.sql.extensions=graft.GraftExtensions
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, usage: String,
      builder: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft", name, usage),
      builder)

  override def apply(e: SparkSessionExtensions): Unit = {
    // optimizer tier: declarative spellings auto-upgrade to the custom
    // kernels where the rewrite is provably value-identical
    e.injectOptimizerRule(_ => RewriteSortedIntersectCount)
    e.injectOptimizerRule(_ => RewriteIntDotFold)
    // runtime tier: AQE re-optimization once stages have materialized
    e.injectRuntimeOptimizerRule(_ => SortSmallResultOnOnePartition)
    e.injectFunction(fn("cosine_sim",
      "cosine_sim(a, b) - cosine similarity of two float arrays",
      es => CosineSimilarity(es(0), es(1))))
    e.injectFunction(fn("dot_product",
      "dot_product(a, b) - dot product of two float arrays",
      es => DotProduct(es(0), es(1))))
    e.injectFunction(fn("squared_distance",
      "squared_distance(a, b) - squared Euclidean distance of two double arrays",
      es => SquaredDistance(es(0), es(1))))
    e.injectFunction(fn("int_dot",
      "int_dot(a, b) - exact integer dot product of two bigint arrays",
      es => IntDotProduct(es(0), es(1))))
    e.injectFunction(fn("int_squared_distance",
      "int_squared_distance(a, b) - exact integer squared L2 distance of two bigint arrays",
      es => IntSquaredDistance(es(0), es(1))))
    e.injectFunction(fn("int_match_count",
      "int_match_count(a, b) - count of equal positions of two bigint arrays",
      es => IntMatchCount(es(0), es(1))))
    e.injectFunction(fn("rolling_hash",
      "rolling_hash(s) - 58-bit polynomial content fingerprint",
      es => RollingHash(es.head)))
    e.injectFunction(fn("simhash64",
      "simhash64(s) - 64-bit SimHash near-dup fingerprint",
      es => SimHash(es.head)))
    e.injectFunction(fn("lang_id",
      "lang_id(s) - stopword-profile language identification",
      es => LangId(es.head)))
    e.injectFunction(fn("sorted_intersect_count",
      "sorted_intersect_count(a, b) - intersection size of two value-sorted long arrays",
      es => SortedIntersectCount(es(0), es(1))))
    e.injectFunction(fn("portable_simhash",
      "portable_simhash(s) - 60-bit engine-portable SimHash fingerprint",
      es => PortableSimHash(es.head)))
  }
}

/** The engine's one session shape: every main and the test harness build
  * through [[builder]], so Verify gates the same plans Bench measures and
  * the optimizer-rule tier is in both. `cores` defaults to
  * SPARK_GRAFT_CPUS, else 4. */
object GraftExtensions {
  def builder(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true") // Tables.events
    .config("spark.ui.enabled", "false")
    // AQE coalescing floor, Spark's stock 1m pinned: round 15's 16k floor
    // inverted scaling at local[32]; see OPTIMIZATION_r16.md
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
    .withExtensions(new GraftExtensions)
}
