package graft

import org.apache.spark.graft.Jobs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import graft.ext.Model
import SparkSpec.spark.implicits._

/** In-query-trained model stages (q125 NB filter, q126 LM perplexity,
  * q127 BPE): classifier signal, score exactness, and the BPE merge
  * semantics the wrapped-replace trick must honor. */
class ModelSpec extends SparkSpec {

  test("q125: held-out confusion counts are consistent and the classifier beats majority") {
    val rows = Model.nbQualityFilter(spark, sf).collect()
    assert(rows.length === 20)
    var n = 0L; var long = 0L; var pred = 0L; var tp = 0L
    rows.foreach { r =>
      val (nd, nl, np_, t) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(t <= math.min(np_, nl), s"tp exceeds predictions or positives: $r")
      assert(np_ <= nd && nl <= nd)
      n += nd; long += nl; pred += np_; tp += t
    }
    // accuracy = (TP + TN) / n; majority class is ~60% long — the
    // Poisson length channel must do far better (measured ≈ 0.98)
    val tn = n - long - (pred - tp)
    val acc = (tp + tn).toDouble / n
    assert(acc > 0.9, s"held-out accuracy $acc — length channel lost")
    // both predicted classes must be live
    assert(pred > 0 && pred < n)
  }

  test("q126: NLLs are nonnegative exact sums; top-20 ordered by avg descending") {
    val rows = Model.lmPerplexityFilter(spark, sf).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      assert(r.getLong(3) >= 0, s"negative NLL: $r")
      // avg is THE single final division of the exact integers
      assert(r.getDouble(4) === r.getLong(3).toDouble / r.getLong(2), r.toString)
    }
    val avgs = rows.map(_.getDouble(4))
    assert(avgs.zip(avgs.tail).forall { case (a, b) => a >= b },
      "top-20 not ordered by avg_nll descending")
  }

  /** Collect `df`, returning its rows, the jobs the collect ran and its
    * final physical plan. */
  private def run(df: DataFrame): (Seq[Row], Int, SparkPlan) = {
    val (rows, jobs) = Jobs.count(spark.sparkContext)(df.collect().toSeq)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    (rows, jobs, plan)
  }

  /** Every node of a final adaptive plan, inside query stages too. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case q: QueryStageExec => nodes(q.plan)
    case _ => p.children.flatMap(nodes)
  })

  test("q126 spelling gate: join scoring ≡ broadcast-map scoring") {
    // force each spelling with the size bound: 0 → every LM "outgrows"
    // broadcast (join path); MaxValue → always broadcast. The ordered
    // top-20 must agree row-for-row — the gate changes the SHIPPING of
    // the fitted LM, never a score
    def spelled(bound: Long) = {
      val (rows, _, plan) = run(Model.lmPerplexityVia(spark, sf, bound))
      val bhj = nodes(plan).collect { case j: BroadcastHashJoinExec => j }
      (rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))), bhj.size, plan)
    }
    val (joined, joinedBhj, joinedPlan) = spelled(0L)
    val (broadcasted, broadcastBhj, broadcastPlan) = spelled(Long.MaxValue)
    assert(joined.length === 20)
    assert(joined === broadcasted)
    assert(joinedBhj === 0, joinedPlan)
    assert(broadcastBhj === 2, broadcastPlan)
  }

  test("q126 fits once per session: a warm call builds with 0 jobs, " +
      "acts with <= 4; a cold call runs <= 12") {
    val cold = spark.newSession()
    val (_, coldJobs) = Jobs.count(spark.sparkContext)(
      Model.lmPerplexityFilter(cold, sf).collect())
    assert(coldJobs <= 12, s"cold q126 ran $coldJobs jobs")
    val (df, buildJobs) = Jobs.count(spark.sparkContext)(
      Model.lmPerplexityFilter(cold, sf))
    assert(buildJobs === 0, "a warm q126 re-ran part of its fit")
    val (_, actJobs, plan) = run(df)
    assert(actJobs <= 4, plan)
  }

  test("q127: BPE merges recursively (a later round merges an earlier round's token)") {
    // "a b" wins round 0 (3 occurrences); the MERGED token a@b then
    // pairs with c twice — round 1 must pick (a@b, c), proving the
    // wrapped-replace carries merged tokens into later rounds
    val corpus = Seq("a b a b c", "a b c").toDF("text")
    val m = Model.bpeMergesOf(corpus, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m(0) === ((0L, "a", "b", 3L)), m.mkString(", "))
    assert(m(1) === ((1L, "a@b", "c", 2L)), m.mkString(", "))
    // round 2 over ["a@b a@b@c", "a@b@c"]: the only pair left
    assert(m(2) === ((2L, "a@b", "a@b@c", 1L)), m.mkString(", "))
  }

  test("q127: adjacent occurrences all merge in one round (no shared-boundary dropout)") {
    // "x x x x" — greedy-left BPE merges positions (1,2) and (3,4) in
    // ONE pass; a space-separated replace would merge only the first
    val corpus = Seq("x x x x").toDF("text")
    val m = Model.bpeMergesOf(corpus, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m(0) === ((0L, "x", "x", 3L)), m.mkString(", "))
    // after round 0 the doc is "x@x x@x" → round 1 sees exactly one pair
    assert(m(1) === ((1L, "x@x", "x@x", 1L)), m.mkString(", "))
  }

  test("q129: calibration curve is monotone and saturates 0 -> 1") {
    val rows = Model.nbCalibration(spark, sf).collect()
    assert(rows.length ===
      (Model.CalBinHi - Model.CalBinLo + 1).toInt, rows.mkString(", "))
    assert(rows.map(_.getLong(0)).toSeq ===
      (Model.CalBinLo to Model.CalBinHi).toSeq)
    val rates = rows.map(_.getDouble(4)).toSeq
    assert(rates.head === 0.0 && rates.last === 1.0, rates.mkString(", "))
    rates.sliding(2).foreach { case Seq(a, b) =>
      assert(a <= b, s"non-monotone calibration: $rates")
    }
    // bins partition the held-out set exactly
    assert(rows.map(_.getLong(1)).sum ===
      Model.nbScoredHoldout(spark, sf).count())
  }

  test("q227: banded 2U matches an in-memory Mann–Whitney replay; ALL row closes over sources") {
    val rows = Model.aucAudit(spark, sf).collect()
    val bySrc = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    val (np, nn, u2, auc) = bySrc("ALL")
    // per-source lanes partition the ALL lane exactly
    val rest = rows.filterNot(_.getString(0) == "ALL")
    assert(rest.map(_.getLong(1)).sum === np)
    assert(rest.map(_.getLong(2)).sum === nn)
    // replay 2U = Σ_s pos_s·(2·cumneg_<s + neg_s) from the raw scores —
    // the banded two-phase prefix must equal the naive definition
    val sc = Model.nbScoredHoldout(spark, sf)
      .select(col("is_long"), col("score")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val groups = sc.groupBy(_._2).view
      .mapValues(v => (v.count(_._1 == 1).toLong, v.count(_._1 == 0).toLong))
      .toSeq.sortBy(_._1)
    var cumneg = 0L; var u2r = 0L
    groups.foreach { case (_, (pos, neg)) =>
      u2r += pos * (2L * cumneg + neg); cumneg += neg
    }
    assert(u2 === u2r, s"banded 2U $u2 != naive replay $u2r")
    assert(np === sc.count(_._1 == 1) && nn === sc.count(_._1 == 0))
    assert(auc === u2.toDouble / (2L * np * nn).toDouble)
    // the length channel carries real ranking signal (accuracy ≈ 0.98)
    assert(auc > 0.9, s"AUC $auc — classifier ranks no better than chance")
  }

  test("q228: swept operating point matches the argmax over every candidate threshold") {
    val r = Model.thresholdSweep(spark, sf).collect()
    assert(r.length === 1)
    val sc = Model.nbScoredHoldout(spark, sf)
      .select(col("is_long"), col("score")).collect()
      .map(row => (row.getInt(0), row.getLong(1)))
    val p = sc.count(_._1 == 1).toLong
    val cands = sc.map(_._2).distinct.map { t =>
      val tp = sc.count(x => x._1 == 1 && x._2 >= t).toLong
      val fp = sc.count(x => x._1 == 0 && x._2 >= t).toLong
      val fn = p - tp
      (t, tp, fp, fn, (2L * tp).toDouble / (2L * tp + fp + fn).toDouble)
    }
    val best = cands.maxBy { case (t, _, _, _, f1) => (f1, t) }
    assert((r(0).getLong(0), r(0).getLong(1), r(0).getLong(2),
      r(0).getLong(3), r(0).getDouble(6)) === best,
      s"swept ${r(0)} vs replayed best $best")
    // the chosen point beats the trivial keep-everything rule
    val f1All = (2L * p).toDouble / (2L * p + (sc.length - p)).toDouble
    assert(best._5 >= f1All)
  }

  test("q128: applying seed-fit merges compresses the held-out corpus") {
    val rows = Model.bpeApply(spark, sf).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), s"tok_after > tok_before: $r")
      assert(r.getDouble(4) === r.getLong(2).toDouble / r.getLong(3))
    }
    // the seed merges must actually fire on held-out text
    assert(rows.exists(r => r.getLong(3) < r.getLong(2)),
      "no merge applied to any held-out doc")
  }

  test("q127: corpus merge table has the configured rounds, positive counts") {
    val m = Model.bpeMerges(spark, sf).collect()
    assert(m.map(_.getLong(0)).toSeq === (0 until Model.BpeRounds).map(_.toLong))
    m.foreach { r =>
      assert(r.getLong(3) > 0)
      assert(r.getString(1).nonEmpty && r.getString(2).nonEmpty)
    }
  }

  test("q157: parity is fertility over the corpus minimum, exactly 1 at it") {
    val rows = Model.tokenizerParity(spark, sf).collect()
    assert(rows.nonEmpty)
    val ferts = rows.map { r =>
      val (chars, toks) = (r.getLong(2), r.getLong(3))
      assert(chars > 0 && toks > 0)
      // BPE can only merge: token count never exceeds chars, and the
      // emitted fertility is exactly the one division of the masses
      assert(toks <= chars)
      val f = toks.toDouble / chars
      assert(r.getDouble(4) === f)
      f
    }
    val minF = ferts.min
    rows.zip(ferts).foreach { case (r, f) =>
      assert(r.getDouble(5) === f / minF)
      assert(r.getDouble(5) >= 1.0)
    }
    assert(rows.zip(ferts).count { case (r, _) => r.getDouble(5) == 1.0 } >= 1)
  }

  test("q169: worklist is exactly the boundary-closest held-out docs, in order") {
    val scored = Model.nbScoredHoldout(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Int]("is_long"), r.getAs[Long]("score")))
    val expect = scored.sortBy { case (id, _, _, sc) => (math.abs(sc), id) }
      .take(Model.UncertainK)
    val rows = Model.uncertaintySample(spark, sf).collect()
    assert(rows.length === Model.UncertainK)
    rows.zip(expect).zipWithIndex.foreach { case ((r, e), i) =>
      assert(r.getLong(0) === i + 1L, "ranks must be 1..k in order")
      assert((r.getLong(1), r.getString(2), r.getInt(3), r.getLong(4)) === e,
        s"rank ${i + 1} picked the wrong doc")
    }
    // |score| must be nondecreasing down the worklist, and the boundary
    // region must be genuinely closer than the corpus at large
    val absScores = rows.map(r => math.abs(r.getLong(4)))
    assert(absScores.zip(absScores.tail).forall { case (a, b) => a <= b })
    assert(absScores.last <= scored.map(s => math.abs(s._4)).max)
  }

  test("q203: conformal ranks replay driver-side; coverage honors the guarantee") {
    import org.apache.spark.sql.functions._
    val rows = graft.ext.Model.conformalAudit(spark, sf).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(rows.nonEmpty)
    val ev = graft.tables.Tables.events(spark, sf)
      .select(col("event_type"), expr("bigint(round(value * 100))").as("c"),
        col("event_id")).collect()
      .map { r =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(r.getLong(2).toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val calib = java.lang.Long.parseLong(md.substring(0, 8), 16) % 2 == 0
        (r.getString(0), r.getLong(1), calib)
      }
    rows.foreach { case (t, nCal, nTest, med, qhat, nCov, cov) =>
      val cal = ev.filter(e => e._1 == t && e._3).map(_._2).sorted
      val tst = ev.filter(e => e._1 == t && !e._3).map(_._2)
      assert(nCal === cal.length.toLong && nTest === tst.length.toLong)
      // lower median and the ⌈(n+1)·0.9⌉-th residual, replayed exactly
      assert(med === cal((cal.length + 1) / 2 - 1).toLong, s"$t median")
      val res = cal.map(c => math.abs(c - med)).sorted
      val k = ((nCal + 1) * 9 + 9) / 10
      assert(qhat === res(k.toInt - 1).toLong, s"$t qhat")
      assert(nCov === tst.count(c => math.abs(c - med) <= qhat).toLong)
      assert(cov === nCov.toDouble / nTest)
      // split-conformal guarantee (≥ 0.9 in expectation; allow finite-
      // sample slack) and non-vacuity (interval not covering everything)
      assert(cov > 0.85, s"$t coverage $cov below guarantee band")
      assert(nCov < nTest, s"$t interval is vacuous (covers all)")
    }
  }

  test("quantization boundary audit: every fitted floor(S·ln x) argument " +
      "clears the cross-libm ULP band") {
    // floor(S·ln(x)) agrees across engines only while no fitted argument
    // sits within the engines' disagreement of an integer boundary. ln
    // is faithfully rounded in both JDK Math.log and DuckDB's libm
    // (≤1 ulp each), and the subsequent scale multiplies are correctly
    // rounded, so the cross-engine gap is RELATIVE: a few ulp of the
    // ARGUMENT, ≲ |arg|·1e-15 — NOT a flat 1e-9. The n_tok-amplified
    // Poisson length terms reach |arg| ~ 1e9, where the band is ~1e-6
    // µ-nats; a flat threshold there would "pass" arguments the engines
    // can genuinely floor apart. So the demanded clearance scales with
    // magnitude: dist > max(1e-9, |arg|·1e-15) · 1000 — three orders of
    // slack over the disagreement band at every magnitude.
    val args = graft.ext.Model.quantBoundaryArgs(spark, sf)
      .collect().map(_.getDouble(0))
    assert(args.length > 100, s"audit relation too small (${args.length})")
    assert(args.forall(v => !v.isNaN && !v.isInfinite),
      "non-finite quantization argument")
    val offenders = args.filter { v =>
      val band = math.max(1e-9, math.abs(v) * 1e-15)
      math.abs(v - math.rint(v)) <= band * 1000
    }
    assert(offenders.isEmpty,
      s"${offenders.length} fitted argument(s) sit within 1000× the " +
        "cross-libm disagreement band of an integer boundary " +
        s"(sample: ${offenders.take(3).mkString(", ")}) — engines may " +
        "floor them differently")
  }
}
