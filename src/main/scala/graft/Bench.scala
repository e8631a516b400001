package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Per-round benchmark main: times every registered query at the scale
  * factor in SPARK_GRAFT_SF_DIR and emits one JSON line.
  *
  * Queries are materialized through the `noop` datasource (full execution,
  * rows consumed, nothing written) rather than `.count()` — Catalyst's
  * EliminateSorts can remove a final ORDER BY under a count, which would
  * under-measure ordered queries.
  *
  * The full per-query JSON line is BOTH printed and written to a file
  * (first arg, or bench.json): sbt wraps stdout in an `[info] ` prefix
  * that can defeat line-oriented parsers. The FINAL stdout line is a
  * compact summary (totals + failure list + duckdb pair + a `detail`
  * pointer to the file) sized to survive a bounded stdout tail. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outFile = args.headOption.getOrElse("bench.json")
    val spark = GraftExtensions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: JIT/codegen/parquet-footer costs shouldn't be
    // attributed to whichever query the map happens to order first.
    // NonFatal only: an OOM/thread-death here means the JVM is already
    // broken and the whole bench would be garbage — let it crash loudly.
    try SparkEntry.entry(spark).count()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] entry warmup failed: ${e.getMessage}") }
    // CALIBRATION SENTINEL: one pinned cheap query timed at bench START
    // and again at bench END (min of 3 — same rationale as the per-query
    // min). Two rounds' sentinel ratio separates environment drift (a
    // noisier shared box inflates the sentinel identically) from real
    // plan regressions (the sentinel holds while a query moves) —
    // scripts/bench_diff.py normalizes by it before flagging. Round 11
    // burned adjudication time on a +9% whole-suite drift where only 2
    // of 35 apparent regressions were real.
    val sentinelName = "q22_exact_dedup"
    def runSentinel(): Option[Double] = SparkEntry.queries.get(sentinelName)
      .flatMap { fn =>
        // one UNTIMED pass first: the START sentinel otherwise measures
        // its own JIT/codegen warmup (observed 2.3x start-vs-end spread
        // on an idle box), which would trip bench_diff's mid-bench-drift
        // warning every round and skew the cross-round drift ratio.
        // NonFatal only (OOM/fatal must surface, not silently skew the
        // drift normalization), and the failure is logged so an unwarmed
        // sentinel is visible in the round record
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] sentinel warmup failed: ${e.getMessage}") }
        val ts = (1 to 3).flatMap { _ =>
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] sentinel rep failed: ${e.getMessage}"); None }
        }
        if (ts.nonEmpty) Some(ts.min) else None
      }
    val sentinelStart = runSentinel()
    // Min of 2 repetitions per query: single-shot timings on a shared box
    // showed ±40% noise round-over-round (r2's phantom q10/q34
    // "regressions"); the min is the stable signal.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // optional comma-separated name-prefix filter (local iteration only;
    // the driver never sets it, so driver rounds always bench everything)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith)) }
    def runQueries(qs: Seq[(String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame)]): Seq[(String, Option[Double])] =
      qs.map { case (name, fn) =>
        // min over SUCCESSFUL reps only: a rep that aborts early would
        // otherwise win the min with its (fast) failure time and silently
        // under-report the query
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
            catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"[bench] $name rep failed: ${e.getMessage}")
              false
            }
          ((System.nanoTime() - t0) / 1e9, ok)
        }
        val good = times.filter(_._2).map(_._1)
        // All reps failed → JSON null (explicit failure marker), never a
        // plausible-looking timing a ratio tool could silently compare
        // against
        name -> (if (good.nonEmpty) Some(good.min) else None)
      }
    // the sentinel re-runs MID-bench (round-12 lesson: the official
    // artifact shipped from a loaded box and cost the judge an
    // adjudication pass) — three warm samples bracket the run, and a
    // spread past DriftLimit self-labels the artifact as drifted below
    val qseq = selected.toSeq
    val (firstHalf, secondHalf) = qseq.splitAt(qseq.size / 2)
    val res1 = runQueries(firstHalf)
    val sentinelMid = if (qseq.size >= 2) runSentinel() else None
    val res2 = runQueries(secondHalf)
    val results: Map[String, Option[Double]] = (res1 ++ res2).toMap
    val sentinelEnd = runSentinel()
    // 3-decimal rounding: with 77 queries a 9-decimal line exceeds 4 KB and
    // overflows the driver's stdout tail window — the whole line must stay
    // parseable from a bounded tail. (Double.toString of a 3-dp-rounded
    // value prints the shortest round-trip form, e.g. "23.093".)
    def r3(v: Double): String = (math.round(v * 1000) / 1000.0).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v.fold("null")(r3) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, None) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = r3(results.values.flatten.sum)
    // Paired DuckDB comparator (scripts/duckdb_bench.py writes
    // duckdb_bench.json from the same oracle suite at the same SF): embed
    // its recorded total so every BENCH_rN.json carries both sides of the
    // 2x gate. Only embedded when the recorded SF matches this run's —
    // a stale different-SF recording would be a misleading ratio.
    val duck = try {
      val txt = Files.readString(Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_DUCKDB_JSON", "duckdb_bench.json")))
      val sfOk = """"sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
        .exists(_.group(1) == sfDir)
      val tot = """"total"\s*:\s*([0-9.]+)""".r.findFirstMatchIn(txt)
        .map(_.group(1))
      val nq = """"n_queries"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1))
      if (sfOk) (tot, nq) else (None, None)
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] duckdb pair not read: ${e.getMessage}"); (None, None) }
    val duckPart = duck match {
      case (Some(t), nq) =>
        s""","duckdb_total":$t,"duckdb_queries":${nq.getOrElse("null")}"""
      case _ => ""
    }
    // DRIFT SELF-LABELING: the START sentinel is structurally ~2x the
    // END one (progressive JVM warmup — observed 2.2x on an idle box),
    // so raw max/min spread across all three samples would flag EVERY
    // run. The two genuine degradation signals are (a) the box getting
    // SLOWER over the run — end > 1.3x start, warmup only ever goes
    // the other way — and (b) the two deep-in-the-run samples (mid,
    // end: both past thousands of jobs, fully warm) disagreeing by
    // more than 1.5x, the transient-load signature round 12's official
    // artifact carried (a concurrent build inflated a stretch of the
    // run: phantom 17x q125). A drifted artifact says so ITSELF
    // ("drifted":true + a loud stderr warning) instead of costing the
    // next reader an adjudication pass; scripts/bench_diff.py
    // quarantines a drifted new run rather than flagging regressions.
    val sentinelPart = (sentinelStart, sentinelEnd) match {
      case (Some(a), Some(b)) =>
        val warmSpread = sentinelMid match {
          case Some(m) => math.max(m, b) / math.max(math.min(m, b), 1e-9)
          case None => 1.0
        }
        val slowed = b > a * 1.3
        val drifted = slowed || warmSpread > 1.5
        val driftRatio = math.max(warmSpread,
          if (slowed) b / math.max(a, 1e-9) else 1.0)
        if (drifted)
          System.err.println(f"[bench] WARNING: sentinel drifted " +
            f"$driftRatio%.2fx (" +
            (Seq(a) ++ sentinelMid ++ Seq(b)).map(s => f"$s%.3f")
              .mkString("s -> ") + "s start->mid->end) — the box was " +
            "NOT calm; treat every per-query time in this artifact as " +
            "low-confidence and re-record before comparing")
        val midPart = sentinelMid.map(m => s""""mid":${r3(m)},""").getOrElse("")
        s""","sentinel":{"name":"$sentinelName","start":${r3(a)},$midPart""" +
          s""""end":${r3(b)},"drift":${r3(driftRatio)},"drifted":$drifted}"""
      case _ => ""
    }
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"queries":$qs,"sf":"$sfDir"$duckPart$sentinelPart}"""
    println(line)
    try Files.writeString(Paths.get(outFile), line + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] $outFile not written: ${e.getMessage}") }
    // The driver records a BOUNDED stdout tail: at 213 queries the full
    // line is ~6 KB and its HEAD gets cut, so the driver's JSON parse
    // fails (BENCH_r09's "parsed": null). Emit a compact summary as the
    // guaranteed-FINAL line — small enough to always sit whole inside
    // the tail — carrying the totals and pointing at the verbatim
    // per-query detail in `outFile`.
    // failed names are TRUNCATED to a sample here — a broad breakage
    // (most of ~230 queries failing) would otherwise inflate this line
    // right back to the multi-KB size whose tail-truncation it exists
    // to avoid; the full list is always verbatim in outFile's "failed"
    val failedSample = results.collect { case (k, None) => k }.toSeq
    val failedCompact = (failedSample.take(10).map("\"" + _ + "\"") ++
      (if (failedSample.size > 10)
        Seq("\"...+" + (failedSample.size - 10) + " more\"")
      else Nil)).mkString("[", ",", "]")
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""n_queries":${results.size},""" +
        s""""n_failed":${results.count(_._2.isEmpty)},""" +
        s""""failed":$failedCompact,""" +
        s""""sf":"$sfDir"$duckPart$sentinelPart,"detail":"$outFile"}"""
    println(compact)
    spark.stop()
  }
}
