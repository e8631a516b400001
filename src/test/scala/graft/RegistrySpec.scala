package graft

/** Guards on the driver contract itself: the round-2 invariant is that
  * EVERY registered query is oracle-checked, and module maps are merged
  * with `++`, which would silently drop a query on a duplicate key. */
class RegistrySpec extends SparkSpec {

  test("every registered query has an oracle (no rows-only entries)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracle SQL without a query: $orphaned")
  }

  test("no module silently overwrites another module's query key") {
    val perModule = SparkEntry.modules.map(_._1)
    assert(perModule.map(_.size).sum === SparkEntry.queries.size,
      "duplicate query key across modules (Map ++ dropped one)")
  }

  test("query keys follow the qNN_name convention") {
    val bad = SparkEntry.queries.keySet.filterNot(_.matches("q\\d{2,3}_[a-z0-9_]+"))
    assert(bad.isEmpty, s"non-conforming keys: $bad")
  }

  test("baselines are registered queries and their production twins exist") {
    assert(SparkEntry.baselines.subsetOf(SparkEntry.queries.keySet),
      "baseline flag names an unregistered query")
    // exactly the two deliberate quadratic formulations, nothing else
    assert(SparkEntry.baselines ===
      Set("q23_ngram_jaccard", "q42_embedding_neardup"))
    // each baseline's scalable twin is itself registered
    assert(SparkEntry.queries.contains("q51_jaccard_capped") ||
      SparkEntry.queries.keySet.exists(_.startsWith("q51_")),
      "q23's df-capped twin missing")
    assert(SparkEntry.queries.keySet.exists(_.startsWith("q98_")),
      "q23's prefix-filtered twin missing")
    assert(SparkEntry.queries.keySet.exists(_.startsWith("q49_")),
      "q42's LSH twin missing")
  }

  test("oracle SQL embeds the release-split constant, never a zeroed init") {
    // Cross-module constants read while building oracle-SQL vals must be
    // compile-time constants (final + literal): a plain val reads 0 when
    // object initialization cycles (Similarity → Corpus → Dedup.oracles
    // regressed exactly this way — q113's WHERE became `% 1000 >= 0`).
    for (q <- Seq("q113_minhash_gate", "q99_ingest_gate", "q115_centroid_drift")) {
      assert(SparkEntry.oracleSql(q).contains("900"),
        s"$q oracle lost IngestOldMax=900")
    }
    for ((q, sql) <- SparkEntry.oracleSql)
      assert(!sql.matches("(?s).*% 1000\\s*[<>]=? 0\\b.*"),
        s"$q oracle compares the md5 bucket against 0 — zeroed constant")
  }

  test("ordered members end in a global sort whose key is UNIQUE at " +
      "fixture scale (ordered compare is only sound without ties)") {
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    import org.apache.spark.sql.catalyst.expressions.Attribute
    assert(SparkEntry.ordered.subsetOf(SparkEntry.queries.keySet),
      "ordered flag names an unregistered query")
    for (name <- SparkEntry.ordered.toSeq.sorted) {
      val df = SparkEntry.queries(name)(spark, sf)
      // outermost global Sort in the analyzed plan defines the output
      // order (anything above it is order-preserving Project/Limit)
      val sortNode = df.queryExecution.analyzed
        .collectFirst { case s: Sort => s }
      assert(sortNode.nonEmpty, s"$name: ordered member has no Sort node")
      assert(sortNode.get.global, s"$name: final sort is not global")
      val keys = sortNode.get.order.map(_.child)
      val nonAttr = keys.filterNot(_.isInstanceOf[Attribute])
      assert(nonAttr.isEmpty,
        s"$name: sort keys must be plain output attributes, got $nonAttr")
      val proj = df.select(
        keys.map(org.apache.spark.sql.graft.Shim.column): _*)
      val n = proj.count()
      val d = proj.distinct().count()
      assert(n === d, s"$name: sort key admits ties " +
        s"($n rows, $d distinct key tuples) — row order is not unique, " +
        "so the ordered hash compare would be flaky")
    }
  }

  /** Queries whose order-SHAPED deliverable is emitted AS DATA — an
    * explicit rank/position/file-id column — so the row sequence is
    * redundant and the driver's order-insensitive hash already pins the
    * contract (the rank column participates in the hash). Members of
    * [[SparkEntry.ordered]] pin the bare row sequence ON TOP of that;
    * these are justified in staying out. */
  private val orderedExempt: Map[String, String] = Map(
    "q06_window_topn" -> "per-group rank emitted as the rk column",
    "q29_bag_setops" -> "set-semantics deliverable; name matches on 'setops'",
    "q53_stratified_sample" -> "membership sample; the set IS the deliverable",
    "q60_cluster_keep_best" -> "keep_doc_id per cluster; set deliverable",
    "q63_sequence_packing" -> "seq_id assignment emitted as a column",
    "q70_frame_sample" -> "sampled frame indices emitted as data",
    "q71_weighted_sample" -> "membership sample keyed by doc_id",
    "q90_quota_sample" -> "per-lang rank emitted as the rn column",
    "q121_budget_sample" -> "pick_rn and cum_tok emitted as columns",
    "q137_file_packing" -> "file_id manifest key emitted as a column",
    "q197_window_ranks" -> "rank/ntile/percent_rank emitted as columns")

  test("no output schema carries checker-fragile types " +
      "(decimal / interval / binary / calendar-interval)") {
    // The driver's checker hashes values after a duckdb→pandas round
    // trip, and decimal128 canonicalization is VERSION-DEPENDENT there
    // (Decimal('42') vs 42.0 stringify differently) — q224/q227 were
    // the round-10 driver reds for exactly this, with rows and schema
    // matching. Same hazard class for intervals and raw binary. Wide
    // decimal is fine as INTERNAL arithmetic; it must never reach an
    // output contract. This walks every registered query's analyzed
    // output schema, recursing through arrays/maps/structs, so query
    // 252+ cannot reintroduce the trap.
    import org.apache.spark.sql.types._
    def fragile(dt: DataType, path: String): Seq[String] = dt match {
      case _: DecimalType          => Seq(s"$path: ${dt.simpleString}")
      case BinaryType              => Seq(s"$path: binary")
      case CalendarIntervalType    => Seq(s"$path: interval")
      case _: DayTimeIntervalType  => Seq(s"$path: ${dt.simpleString}")
      case _: YearMonthIntervalType => Seq(s"$path: ${dt.simpleString}")
      case ArrayType(e, _)         => fragile(e, s"$path[]")
      case MapType(k, v, _) =>
        fragile(k, s"$path.key") ++ fragile(v, s"$path.value")
      case StructType(fs) =>
        fs.toSeq.flatMap(f => fragile(f.dataType, s"$path.${f.name}"))
      case _ => Nil
    }
    val offenders = for {
      name <- SparkEntry.queries.keySet.toSeq.sorted
      df = SparkEntry.queries(name)(spark, sf)
      f <- df.schema.fields.toSeq
      hit <- fragile(f.dataType, f.name)
    } yield s"$name.$hit"
    assert(offenders.isEmpty,
      s"checker-fragile output columns (emit bigint/double/string " +
        s"instead): ${offenders.mkString("; ")}")
  }

  test("every rank/sample/schedule-shaped query is ordered or justified") {
    // heuristic candidate net: any query whose NAME suggests its
    // deliverable is a ranking, sample draw, schedule, or serving list
    // must either sit in SparkEntry.ordered (row-order compared) or
    // carry a written justification above — new queries in these
    // families cannot silently skip the order audit
    val pat =
      "top|rank|sample|pack|interleave|sched|alloc|serve|knn|rrf|best|outlier".r
    val candidates = SparkEntry.queries.keySet
      .filter(n => pat.findFirstIn(n).nonEmpty)
    val unhandled = candidates -- SparkEntry.ordered -- orderedExempt.keySet
    assert(unhandled.isEmpty,
      s"order-shaped queries neither ordered nor justified: $unhandled")
    // the exemption list must not drift from the registry
    val stale = orderedExempt.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"exemptions naming unregistered queries: $stale")
    val both = orderedExempt.keySet.intersect(SparkEntry.ordered)
    assert(both.isEmpty, s"exempt AND ordered (pick one): $both")
  }

  test("Explain resolves internal relations and registry queries to " +
      "formatted physical plans") {
    val plans = Explain.plans(spark, sf)
    assert(SparkEntry.queries.keySet.subsetOf(plans.keySet))
    Seq("chunk_relation", "scrubbed", "neardup_pairs", "q01_pricing")
      .foreach { n =>
        val plan = Explain.finalPlan(plans(n)())
        assert(plan.contains("== Physical Plan =="), s"$n:\n$plan")
        // a plan with no exchange runs without AQE: no final-plan tag
        assert(!plan.contains("AdaptiveSparkPlan") ||
          plan.contains("isFinalPlan=true"), s"$n:\n$plan")
      }
  }

  test("only GraftExtensions.builder builds a SparkSession in src/main") {
    // one session shape: a second builder drifts (cores, AQE floor,
    // extensions) and the gate stops checking the plans Bench measures
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val builds = "SparkSession\\s*\\.\\s*builder\\b".r
    val walk = Files.walk(root)
    val offenders = try walk.iterator.asScala.toSeq.collect {
      case f: Path if f.toString.endsWith(".scala") &&
          f.getFileName.toString != "GraftExtensions.scala" &&
          builds.findFirstIn(Files.readString(f)).nonEmpty => root.relativize(f)
    } finally walk.close()
    assert(offenders.isEmpty,
      s"build sessions through GraftExtensions.builder: ${offenders.mkString(", ")}")
  }
}
