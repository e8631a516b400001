package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.ext.Text

/** Models trained IN-QUERY from the corpus and applied corpus-wide —
  * the model-based filtering layer of an LLM data pipeline (quality
  * classification, LM-perplexity filtering, tokenizer induction).
  * North-star extension (no counterpart in the reference's 3-query
  * surface; the shapes are the public CCNet/fastText/BPE pipeline
  * stages re-expressed as Spark plans).
  *
  * Cross-engine exactness discipline: every learned parameter is
  * QUANTIZED to an integer (`floor(1e6 · ln(rational))` of an exact
  * integer ratio — the fastText-quantization idea used for
  * determinism), so scores are BIGINT sums and the oracle compare is
  * bit-exact. The only doubles that survive into results are single
  * final IEEE divisions of identical integers.
  */
object Model {
  /** Label threshold for the q125 supervision signal: a doc is "long"
    * (≈ kept-quality proxy) iff n_chars ≥ this. */
  final val LongDocChars = 250L
  /** Training split: md5(doc_id) ‰ below this → seed (train) set. */
  final val SeedPerMille = 500L
  /** Log-odds quantization scale (µ-nats). */
  final val Scale = 1000000L
  /** BPE merge rounds for q127. */
  final val BpeRounds = 6

  private def seedCol: Column = Text.md5Bucket1000(col("doc_id")) < SeedPerMille
  private val seedSqlPred =
    s"(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 1000) < $SeedPerMille"

  // ---- q125: Naive-Bayes quality classifier --------------------------------

  /** q125 — Naive-Bayes quality classifier trained in-query and applied
    * to the held-out corpus (the fastText/CCNet "model-based quality
    * filter" stage). Supervision is a deterministic label (doc is
    * "long": n_chars ≥ [[LongDocChars]]); the model is multinomial NB
    * over bag-of-words PLUS a Poisson document-length channel
    * (`n·ln(λ⁺/λ⁻) − (λ⁺−λ⁻)`) — on this corpus the word channel is
    * near-uninformative (text is length-independent) and the length
    * channel carries the signal: held-out accuracy ≈ 0.98 vs a 0.6
    * majority class (ModelSpec pins it).
    *
    * All weights are quantized integers (µ-nats): per-word log-odds
    * `⌊S·ln((c⁺+1)(T⁻+V) / ((c⁻+1)(T⁺+V)))⌋` from exact integer
    * counts, so per-doc scores are exact BIGINT sums and the decision
    * boundary (`score > 0`) is engine-exact.
    *
    * Scale shape: training is one seed scan + a vocab-sized exchange;
    * the fitted model collapses to ONE row (a vocab-sized map + 4
    * scalars) broadcast to every scoring task — scoring is a single
    * corpus scan with ZERO corpus shuffle (exactly how a fastText
    * filter deploys: model in executor RAM, stream the corpus
    * through). For a model too big to broadcast (10⁸⁺ n-gram rows) the
    * spelling flips to explode + broadcast-hash-join on the weight
    * relation + re-agg by doc_id — one bounded shuffle; this corpus's
    * vocab makes the broadcast form the honest choice. */
  def nbQualityFilter(s: SparkSession, dir: String): DataFrame =
    nbScoredHoldout(s, dir).groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("is_long")).as("n_long"),
      sum((col("score") > 0).cast("int")).as("n_pred_long"),
      sum(((col("score") > 0) && col("is_long") === 1).cast("int")).as("tp"),
      sum(col("score")).as("score_sum"))
      .orderBy(col("source"))

  /** The shared q125/q129 scoring pipeline: fit the NB model on the
    * seed split, score every HELD-OUT doc, return one row per held-out
    * doc `(source, is_long, score)`. Scoring is a single corpus scan
    * against the one-row broadcast model — zero corpus shuffle. */
  /** The fitted one-row NB model, memoized per (session, dir) and
    * rebuilt when the corpus file's stamp changes — FIVE
    * queries (q125/q129/q169/q227/q228) score against this artifact,
    * and without the memo each re-ran the seed scan + vocab exchange +
    * single-row collect per action (the seedFit/BPE lesson applied to
    * the NB tier). `localCheckpoint(eager=false)`: the fit runs once,
    * at the first consumer's first action; the row is 1-row (a
    * vocab-sized map + 4 scalars), so the checkpoint is KBs — never
    * checkpoint the corpus-sized scored relation, only the model. */
  private[graft] val nbModelCache = new graft.ops.SessionMemo[DataFrame]
  private def nbModel(s: SparkSession, dir: String): DataFrame =
    nbModelCache.getOrBuild(s, dir) {
      val (_, cnts, tot, pri) = nbFitInputs(s, dir)
      def qlog(num: Column, den: Column): Column =
        floor(qraw(num, den)).cast("long")
      val wts = cnts.crossJoin(broadcast(tot)).select(col("w"),
        qlog((col("cp") + 1) * (col("tn") + col("v")),
             (col("cn") + 1) * (col("tp") + col("v"))).as("wt"))
      // the whole fitted model as ONE broadcastable row
      wts
        .agg(map_from_entries(collect_list(struct(col("w"), col("wt"))))
          .as("m"))
        .crossJoin(tot).crossJoin(pri)
        .select(col("m"),
          qlog(col("tn") + col("v"), col("tp") + col("v")).as("w0"),
          qlog(col("np") + 1, col("nn") + 1).as("prior"),
          log((col("tp") * col("nn")).cast("double")
            / (col("tn") * col("np"))).as("lnlam"),
          floor(lamdiffRaw).cast("long").as("lamdiff"))
        .localCheckpoint(eager = false)
    }

  private[graft] def nbScoredHoldout(s: SparkSession, dir: String): DataFrame = {
    val (docs, _, _, _) = nbFitInputs(s, dir)
    docs.filter(!col("seed")).crossJoin(broadcast(nbModel(s, dir)))
      .select(col("doc_id"), col("source"), col("is_long"),
        (col("prior")
          // try_element_at, NOT element_at: under Spark 4's default
          // ANSI mode a plain map element_at THROWS on a missing key,
          // so the w0 out-of-vocabulary fallback would be dead code and
          // the first held-out token absent from the seed vocabulary
          // would kill the query (the oracle's LEFT JOIN + coalesce
          // spelling never throws — this matches it)
          + aggregate(split(col("text"), " "), lit(0L),
              (acc, t) => acc + coalesce(try_element_at(col("m"), t),
                col("w0")))
          + floor(lenRaw(col("n_tok"), col("lnlam"))).cast("long")
          - col("lamdiff")).as("score"))
  }

  /** Raw (pre-floor) µ-nat quantization argument `S·ln(num/den)` — ONE
    * expression shared by the fitted weights and the boundary audit, so
    * the audit checks the pipeline's exact arithmetic, not a copy. */
  private[graft] def qraw(num: Column, den: Column): Column =
    lit(Scale) * log(num.cast("double") / den)

  /** Raw lamdiff argument `S·(tp/np − tn/nn)` over `tot × pri`. */
  private[graft] def lamdiffRaw: Column =
    lit(Scale) * (col("tp").cast("double") / col("np")
      - col("tn").cast("double") / col("nn"))

  /** Raw per-doc Poisson length term `S·n_tok·lnλ`. */
  private[graft] def lenRaw(nTok: Column, lnlam: Column): Column =
    lit(Scale) * nTok * lnlam

  /** The NB fit's input relations — held-out+seed docs, per-word seed
    * class counts, count totals, class priors — shared by the scoring
    * pipeline and the quantization boundary audit. */
  private[graft] def nbFitInputs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"), col("source"),
        (col("n_chars") >= LongDocChars).cast("int").as("is_long"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        seedCol.as("seed"))
    val seedTok = docs.filter(col("seed"))
      .select(col("is_long"), explode(split(col("text"), " ")).as("w"))
    val cnts = seedTok.groupBy(col("w")).agg(
      sum(col("is_long")).as("cp"),
      sum(lit(1) - col("is_long")).as("cn"))
    val tot = cnts.agg(sum(col("cp")).as("tp"), sum(col("cn")).as("tn"),
      count(lit(1)).as("v"))
    val pri = docs.filter(col("seed")).agg(
      sum(col("is_long")).as("np"), sum(lit(1) - col("is_long")).as("nn"))
    (docs, cnts, tot, pri)
  }

  /** Every pre-floor quantization argument the fitted pipelines emit —
    * q125's vocab weights / w0 / prior / lamdiff, the per-held-out-doc
    * Poisson length terms, and a SUPERSET of q126's realizable bigram
    * costs ((c1,c12) pairs from the fitted LM, (c1,0) unigram-only
    * misses, and the (0,0) full miss) — as one `arg` double column.
    *
    * Rationale: `floor(S·ln(x))` agrees across engines only while no
    * fitted argument sits within the engines' ln() disagreement
    * (≲1 ulp ⇒ ≲1e-9 µ-nats here) of an integer boundary. ModelSpec
    * computes min |arg − rint(arg)| over this relation and asserts a
    * 1000× safety band — turning "engines happen to agree" into a
    * checked property of the fixture corpus (SCALE.md "Quantization"). */
  private[graft] def quantBoundaryArgs(s: SparkSession, dir: String): DataFrame = {
    val (docs, cnts, tot, pri) = nbFitInputs(s, dir)
    val wArgs = cnts.crossJoin(broadcast(tot)).select(
      qraw((col("cp") + 1) * (col("tn") + col("v")),
        (col("cn") + 1) * (col("tp") + col("v"))).as("arg"))
    val w0Arg = tot.select(
      qraw(col("tn") + col("v"), col("tp") + col("v")).as("arg"))
    val priArg = pri.select(qraw(col("np") + 1, col("nn") + 1).as("arg"))
    val lamArg = tot.crossJoin(pri).select(lamdiffRaw.as("arg"))
    val lnlam = tot.crossJoin(pri).select(
      log((col("tp") * col("nn")).cast("double") / (col("tn") * col("np")))
        .as("lnlam"))
    val lenArgs = docs.filter(!col("seed")).select(col("n_tok")).distinct()
      .crossJoin(broadcast(lnlam))
      .select(lenRaw(col("n_tok"), col("lnlam")).as("arg"))
    val counts = lmCounts(s, dir)
    val vRel = counts.agg(count(when(col("head"), 1)).as("v"))
    val lmArgs = counts.select(col("c1"), col("c12"))
      .union(counts.select(col("c1"), lit(0L).as("c12")))
      .distinct()
      .crossJoin(broadcast(vRel))
      .select(qraw(col("c1") + col("v"), col("c12") + 1).as("arg"))
    val lmMissArg = vRel.select(qraw(col("v"), lit(1L)).as("arg"))
    Seq(wArgs, w0Arg, priArg, lamArg, lenArgs, lmArgs, lmMissArg)
      .reduce(_ union _)
  }

  /** DuckDB spelling of the shared q125/q129 scoring pipeline (CTEs up
    * to the per-held-out-doc `scored(source, is_long, score)` relation):
    * same integer counts, same quantized weights (identical double
    * division → ln → floor), scoring via unnest + weight join
    * (value-identical to the broadcast-map form). */
  private val nbScoredCtes: String =
    s"""docs AS (
       |  SELECT doc_id, text, source,
       |    CASE WHEN n_chars >= $LongDocChars THEN 1 ELSE 0 END AS is_long,
       |    len(string_split(text,' ')) AS n_tok,
       |    $seedSqlPred AS seed
       |  FROM documents WHERE text IS NOT NULL),
       |seedtok AS (
       |  SELECT is_long, unnest(string_split(text,' ')) AS w
       |  FROM docs WHERE seed),
       |cnts AS (SELECT w, sum(is_long) AS cp, sum(1-is_long) AS cn
       |  FROM seedtok GROUP BY 1),
       |tot AS (SELECT sum(cp) AS tp, sum(cn) AS tn, count(*) AS v FROM cnts),
       |pri AS (SELECT sum(is_long) AS np, sum(1-is_long) AS nn
       |  FROM docs WHERE seed),
       |wts AS (SELECT w, CAST(floor($Scale * ln(
       |    CAST((cp+1)*(tn+v) AS DOUBLE)/((cn+1)*(tp+v)))) AS BIGINT) AS wt
       |  FROM cnts, tot),
       |con AS (SELECT
       |    CAST(floor($Scale * ln(CAST(tn+v AS DOUBLE)/(tp+v))) AS BIGINT) AS w0,
       |    CAST(floor($Scale * ln(CAST(np+1 AS DOUBLE)/(nn+1))) AS BIGINT) AS prior,
       |    ln(CAST(tp*nn AS DOUBLE)/(tn*np)) AS lnlam,
       |    CAST(floor($Scale * (CAST(tp AS DOUBLE)/np - CAST(tn AS DOUBLE)/nn))
       |      AS BIGINT) AS lamdiff
       |  FROM tot, pri),
       |tokens AS (
       |  SELECT doc_id, source, is_long, n_tok,
       |    unnest(string_split(text,' ')) AS w
       |  FROM docs WHERE NOT seed),
       |dsc AS (
       |  SELECT t.doc_id, any_value(t.source) AS source,
       |    any_value(t.is_long) AS is_long, any_value(t.n_tok) AS n_tok,
       |    sum(coalesce(wt, w0)) AS tokscore
       |  FROM tokens t LEFT JOIN wts ON t.w = wts.w CROSS JOIN con
       |  GROUP BY t.doc_id),
       |scored AS (
       |  SELECT doc_id, source, is_long,
       |    prior + tokscore
       |      + CAST(floor($Scale * n_tok * lnlam) AS BIGINT) - lamdiff AS score
       |  FROM dsc CROSS JOIN con)""".stripMargin

  /** DuckDB spelling of [[nbQualityFilter]]. */
  val nbQualityFilterSql: String =
    s"""WITH $nbScoredCtes
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(is_long) AS BIGINT) AS n_long,
       |  CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_pred_long,
       |  CAST(sum(CASE WHEN score > 0 AND is_long=1 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS tp,
       |  CAST(sum(score) AS BIGINT) AS score_sum
       |FROM scored GROUP BY source ORDER BY source""".stripMargin

  // ---- q129: classifier calibration audit ----------------------------------

  /** Reliability-diagram bin width in µ-nats (2 nats of quantized
    * log-odds per bin) and the clamp range — 16 fixed bins total. */
  final val CalBinWidth = 2000000L
  final val CalBinLo = -8L
  final val CalBinHi = 7L

  /** q129 — calibration audit of the q125 quality classifier (the
    * reliability diagram every model-based filter needs before its
    * scores gate data): held-out docs are binned by FIXED-WIDTH bins of
    * the quantized integer log-odds score and each bin reports its
    * empirical positive rate. A well-calibrated filter shows a monotone
    * rate curve (ModelSpec pins monotonicity plus 0→1 saturation at the
    * extremes).
    *
    * Scale discipline: bins are fixed-width in SCORE space, not score
    * quantiles — an ntile/percentile binning is a corpus-wide sort (the
    * single-partition trap), while `floor(score/W)` is in-row
    * arithmetic and the whole report is one 16-group partial agg on top
    * of q125's zero-shuffle scoring scan. Bin ids stay engine-exact
    * because score is an exact BIGINT and the boundary `floor(s/W)`
    * (one IEEE division ≫ an ulp away from every integer) is identical
    * in both engines; the only other double is the final rate division
    * of two exact counts. */
  def nbCalibration(s: SparkSession, dir: String): DataFrame =
    nbScoredHoldout(s, dir)
      .select(greatest(least(
          floor(col("score").cast("double") / CalBinWidth), lit(CalBinHi)),
          lit(CalBinLo)).cast("long").as("bin"),
        col("is_long"), col("score"))
      .groupBy(col("bin")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("is_long")).cast("long").as("n_long"),
        sum(col("score")).as("score_sum"))
      .select(col("bin"), col("n_docs"), col("n_long"), col("score_sum"),
        (col("n_long").cast("double") / col("n_docs")).as("long_rate"))
      .orderBy(col("bin"))

  /** DuckDB spelling of [[nbCalibration]]: identical scoring CTEs,
    * identical fixed-width binning. */
  val nbCalibrationSql: String =
    s"""WITH $nbScoredCtes
       |SELECT
       |  greatest(least(CAST(floor(CAST(score AS DOUBLE) / $CalBinWidth)
       |    AS BIGINT), $CalBinHi), $CalBinLo) AS bin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(is_long) AS BIGINT) AS n_long,
       |  CAST(sum(score) AS BIGINT) AS score_sum,
       |  CAST(sum(is_long) AS DOUBLE) / count(*) AS long_rate
       |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q227/q228: ranking-quality + operating-point audits -----------------

  /** Prefix-sum band width in µ-nats of quantized log-odds — the same
    * 2-nat granularity as q129's reliability bins, so band counts stay
    * in the hundreds at any corpus size (score magnitude is bounded by
    * per-doc token count × the µ-nat weight range, not by corpus rows). */
  final val AucBandWidth = 2000000L

  /** Exact class counts strictly BELOW each distinct (grp, score) —
    * the shared cumulative feed of q227 (rank statistic) and q228
    * (threshold sweep). Input `g`: one row per (grp, score) with exact
    * BIGINT `pos`/`neg` counts; output adds `cumpos`/`cumneg`.
    *
    * Scale shape: a bare `SUM(..) OVER (ORDER BY score)` is the
    * single-partition WindowExec cliff (q197's lesson), so the prefix
    * is banded two-phase: (1) per-(grp, band) totals, prefixed by a
    * bounded non-equi self-join of the BAND relation — rows = occupied
    * bands, bounded by score range / [[AucBandWidth]], hundreds
    * regardless of corpus size; (2) the within-band prefix windowed per
    * (grp, band) partition — each partition holds only that band's
    * distinct scores. Nothing corpus-sized crosses one window
    * partition. DuckDB's oracle keeps the naive one-window spelling —
    * value-identical by construction. */
  private[graft] def cumBefore(g: DataFrame): DataFrame = {
    val banded = g.withColumn("band",
      floor(col("score").cast("double") / AucBandWidth).cast("long"))
      .localCheckpoint(eager = false) // feeds the prefix AND the offsets
    // band offsets via a bounded non-equi self-join of the BAND-TOTAL
    // relation (≤ hundreds of rows), not a window: every window below
    // keeps a defined, non-constant partition key even when the caller
    // runs a single corpus-wide lane (q228's grp = 'ALL')
    val bt = banded.groupBy(col("grp"), col("band")).agg(
      sum(col("pos")).as("bpos"), sum(col("neg")).as("bneg"))
      .localCheckpoint(eager = false) // both sides of the offset join
    val off = bt.select(col("grp"), col("band"))
      .join(bt.select(col("grp").as("g2"), col("band").as("b2"),
          col("bpos"), col("bneg")),
        col("grp") === col("g2") && col("b2") < col("band"), "left")
      .groupBy(col("grp"), col("band")).agg(
        coalesce(sum(col("bpos")), lit(0L)).as("opos"),
        coalesce(sum(col("bneg")), lit(0L)).as("oneg"))
    val wIn = Window.partitionBy(col("grp"), col("band"))
      .orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    banded.select(col("grp"), col("band"), col("score"), col("pos"),
        col("neg"),
        coalesce(sum(col("pos")).over(wIn), lit(0L)).as("wpos"),
        coalesce(sum(col("neg")).over(wIn), lit(0L)).as("wneg"))
      .join(off, Seq("grp", "band"))
      .select(col("grp"), col("score"), col("pos"), col("neg"),
        (col("opos") + col("wpos")).as("cumpos"),
        (col("oneg") + col("wneg")).as("cumneg"))
  }

  /** Distinct-score class counts per grp over the held-out scoring
    * scan; `withAll` adds a corpus-wide 'ALL' lane (a second pass over
    * the same scan — 2× read, never 2× shuffle of corpus rows). */
  private def scoreGroups(s: SparkSession, dir: String,
      withAll: Boolean): DataFrame = {
    val base = nbScoredHoldout(s, dir)
      .select(col("source").as("grp"), col("is_long"), col("score"))
    val keyed = if (withAll)
      base.union(base.select(lit("ALL").as("grp"), col("is_long"),
        col("score")))
    else base.select(lit("ALL").as("grp"), col("is_long"), col("score"))
    keyed.groupBy(col("grp"), col("score")).agg(
      sum(col("is_long")).cast("long").as("pos"),
      (count(lit(1)) - sum(col("is_long"))).cast("long").as("neg"))
  }

  /** q227 — exact ROC-AUC audit of the q125 quality classifier, per
    * source plus a corpus-wide 'ALL' row: the threshold-FREE companion
    * to q129's calibration bins (a filter can be perfectly calibrated
    * per bin yet rank poorly within them, and vice versa). AUC is the
    * Mann–Whitney rank statistic with exact midrank tie handling,
    * carried as the integer 2U = Σ_s pos_s·(2·cumneg_<s + neg_s) so the
    * only double in the result is ONE final IEEE division
    * u2 / (2·P·N) — identical in both engines. 2U ≤ 2·P·N would wrap
    * int64 past ~4.3·10⁹ held-out docs per lane (balanced classes), so
    * the SUM is carried wide — decimal(38,0) here, HUGEINT in the
    * oracle — the q213 wide-gate discipline (exact to ~10¹⁹ docs per
    * class). The wide type stays INTERNAL: the OUTPUT u2 is BIGINT,
    * because decimal columns in a result contract hash differently
    * across checker pandas/duckdb versions (Decimal('42') vs 42). The
    * ANSI decimal→bigint cast THROWS on overflow, so emission past
    * ~4.3e9 docs/lane fails loudly instead of wrapping.
    *
    * Scale shape: one scoring scan (zero corpus shuffle — q125's
    * broadcast model), one groupBy(grp, score) exchange of the
    * DISTINCT-SCORE relation, then the banded [[cumBefore]] prefix and
    * a #lanes-group rollup. No corpus-sized window partition anywhere. */
  def aucAudit(s: SparkSession, dir: String): DataFrame = {
    val c = cumBefore(scoreGroups(s, dir, withAll = true))
    val d = (x: org.apache.spark.sql.Column) => x.cast("decimal(20,0)")
    c.groupBy(col("grp")).agg(
      sum(col("pos")).as("n_pos"),
      sum(col("neg")).as("n_neg"),
      sum(d(col("pos")) * (lit(2) * d(col("cumneg")) + d(col("neg"))))
        .cast("bigint").as("u2"))
      .select(col("grp").as("source"), col("n_pos"), col("n_neg"),
        col("u2"),
        when(col("n_pos") === 0 || col("n_neg") === 0,
          lit(null).cast("double"))
          .otherwise(col("u2").cast("double") /
            (lit(2) * d(col("n_pos")) * d(col("n_neg"))).cast("double"))
          .as("auc"))
      .orderBy(col("source"))
  }

  /** DuckDB spelling of [[aucAudit]]: same scoring CTEs, naive
    * one-window prefix (value-identical to the banded two-phase). */
  val aucAuditSql: String =
    s"""WITH $nbScoredCtes,
       |sg AS (
       |  SELECT source AS grp, is_long, score FROM scored
       |  UNION ALL SELECT 'ALL', is_long, score FROM scored),
       |g AS (
       |  SELECT grp, score, CAST(sum(is_long) AS BIGINT) AS pos,
       |    CAST(count(*) - sum(is_long) AS BIGINT) AS neg
       |  FROM sg GROUP BY 1, 2),
       |c AS (
       |  SELECT grp, score, pos, neg,
       |    CAST(COALESCE(SUM(neg) OVER (PARTITION BY grp ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cumneg
       |  FROM g),
       |a AS (
       |  SELECT grp, CAST(sum(pos) AS BIGINT) AS n_pos,
       |    CAST(sum(neg) AS BIGINT) AS n_neg,
       |    CAST(sum(CAST(pos AS HUGEINT) * (2 * CAST(cumneg AS HUGEINT)
       |      + neg)) AS BIGINT) AS u2
       |  FROM c GROUP BY 1)
       |SELECT grp AS source, n_pos, n_neg, u2,
       |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
       |       ELSE CAST(u2 AS DOUBLE) /
       |         CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS DOUBLE)
       |  END AS auc
       |FROM a ORDER BY source""".stripMargin

  /** q228 — operating-point sweep for the q125 filter: every observed
    * held-out score is a candidate keep-threshold (keep ⇔ score ≥ t);
    * exact TP/FP/FN at each candidate fall out of the SAME banded
    * prefix feed as q227 (TP = P − cumpos, FP = N − cumneg, FN =
    * cumpos — no second pass), and the max-F1 point surfaces (ties →
    * the more selective, larger threshold). This is the step that turns
    * q129's calibration + q227's ranking into a deployable decision
    * rule. prec/rec/f1 are single IEEE divisions of exact BIGINTs, so
    * the sort key is bit-identical in both engines; the denominator
    * 2·TP+FP+FN ≥ 1 always (the threshold row itself contributes).
    *
    * Scale shape: q227's exactly — scoring scan + distinct-score
    * exchange + banded prefix; the argmax is TakeOrdered(1) over the
    * distinct-score relation, never a corpus sort. */
  def thresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val c = cumBefore(scoreGroups(s, dir, withAll = false))
    val tot = broadcast(c.groupBy(col("grp")).agg(
      sum(col("pos")).as("p"), sum(col("neg")).as("n")))
    val tp = col("p") - col("cumpos")
    val fp = col("n") - col("cumneg")
    c.join(tot, Seq("grp"))
      .select(col("score").as("threshold"),
        tp.as("tp"), fp.as("fp"), col("cumpos").as("fn"),
        (tp.cast("double") / (tp + fp).cast("double")).as("prec"),
        when(col("p") === 0, lit(null).cast("double"))
          .otherwise(tp.cast("double") / col("p").cast("double")).as("rec"),
        ((lit(2L) * tp).cast("double") /
          (lit(2L) * tp + fp + col("cumpos")).cast("double")).as("f1"))
      .orderBy(col("f1").desc, col("threshold").desc)
      .limit(1)
  }

  /** DuckDB spelling of [[thresholdSweep]]. */
  val thresholdSweepSql: String =
    s"""WITH $nbScoredCtes,
       |g AS (
       |  SELECT score, CAST(sum(is_long) AS BIGINT) AS pos,
       |    CAST(count(*) - sum(is_long) AS BIGINT) AS neg
       |  FROM scored GROUP BY 1),
       |tt AS (
       |  SELECT CAST(sum(pos) AS BIGINT) AS p,
       |    CAST(sum(neg) AS BIGINT) AS n FROM g),
       |c AS (
       |  SELECT score,
       |    CAST(COALESCE(SUM(pos) OVER (ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cumpos,
       |    CAST(COALESCE(SUM(neg) OVER (ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cumneg
       |  FROM g)
       |SELECT CAST(score AS BIGINT) AS threshold, (p - cumpos) AS tp,
       |  (n - cumneg) AS fp,
       |  cumpos AS fn,
       |  CAST(p - cumpos AS DOUBLE) / CAST((p - cumpos) + (n - cumneg)
       |    AS DOUBLE) AS prec,
       |  CASE WHEN p = 0 THEN NULL
       |       ELSE CAST(p - cumpos AS DOUBLE) / CAST(p AS DOUBLE)
       |  END AS rec,
       |  CAST(2 * (p - cumpos) AS DOUBLE) /
       |    CAST(2 * (p - cumpos) + (n - cumneg) + cumpos AS DOUBLE) AS f1
       |FROM c, tt
       |ORDER BY f1 DESC, threshold DESC LIMIT 1""".stripMargin

  // ---- q126: bigram-LM perplexity filter -----------------------------------

  /** Adjacent-pair strings ("w1 w2") of a token array, in-row; empty
    * for 0/1-token docs. Round 16: the fused bigram loop
    * ([[Text.ngramsCol]] n=2, the WordNGrams expression) replaces the
    * transform(sequence)+element_at lambda — every consumer explodes
    * the result, so the only observable difference (NULL instead of
    * empty array for a NULL input) still yields zero rows. */
  private def pairList(l: Column): Column = Text.ngramsCol(l, 2)

  /** q126 — bigram-LM perplexity filter (the CCNet "train a small LM,
    * drop the tail" stage): an add-one-smoothed bigram model is fit on
    * the seed split, every held-out document is scored by total negative
    * log-likelihood, and the 20 most-perplexing documents surface (the
    * ones a perplexity gate would drop). Per-bigram cost is the
    * quantized integer `⌊S·ln((c(w₁)+V)/(c(w₁,w₂)+1))⌋ ≥ 0` — so NLLs
    * are exact BIGINT sums; the reported avg is the single final IEEE
    * division `nll/n_bigrams` (identical in both engines).
    *
    * Scale shape: the LM is fit ONCE per (session, dir) and memoized at
    * the corpus file stamp ([[lmFit]]), like the NB model — fitting is
    * one seed scan, a bigram exchange and a per-`w1` exchange, and the
    * fit stores COSTS, not counts: the per-bigram cost table, the
    * per-`w1` back-off cost `⌊S·ln((c(w₁)+V)/1)⌋` and the unseen-`w1`
    * constant `⌊S·ln(V)⌋`, each computed by Spark through [[qraw]]. A
    * call is then one held-out scan, two left joins and
    * `coalesce(pair, back-off, constant)` — no fit, no size probe.
    *
    * The fit also records the bytes its two tables would ship, and each
    * call gates on it:
    *
    *  - ≤ [[LmBroadcastBytes]]: the tables BROADCAST into the held-out
    *    pairs' left joins — zero pair shuffle, and the per-doc re-agg's
    *    exchange carries partial sums, not pairs. Under that bound the
    *    fit holds them driver-local (collected once), so a call's
    *    broadcast starts from the driver and never re-reads the fit;
    *  - past the bound (a web-scale vocabulary would be a driver /
    *    broadcast cliff): the fit stays a checkpointed relation and the
    *    SAME joins run as sort-merge joins keyed on the bigram — the LM
    *    never concentrates on one node.
    *
    * Both shippings compute the identical per-pair cost (ModelSpec locks
    * their equality); the final top-20 is a TakeOrderedAndProject either
    * way, never a corpus-wide sort.
    *
    * Measured (sf0.1, local[32]): an earlier spelling scored through a
    * ONE-ROW broadcast map with an in-row `aggregate` lambda — zero
    * shuffle but 3.7 s, because higher-order-function lambdas run
    * interpreted per pair (split ×2 + map lookups + ln each). The
    * codegen'd join spelling is 1.4 s on the same data with the same
    * values: per-pair CPU beats shuffle avoidance at every scale here,
    * so the lambda spelling is gone, not gated. */
  def lmPerplexityFilter(s: SparkSession, dir: String): DataFrame =
    lmPerplexityVia(s, dir, LmBroadcastBytes)

  /** Estimated fitted-LM bytes above which q126's cost-table joins stop
    * broadcasting and run as shuffle joins (key string bytes + ~24 B of
    * entry overhead per bigram and per back-off row). 64 MiB — a few×
    * the default Spark broadcast comfort zone; far below driver OOM
    * territory. */
  final val LmBroadcastBytes: Long = 64L << 20

  /** Every document's adjacent token pairs `(doc_id, source, seed, w1,
    * w2)`: the seed split fits the LM, the held-out split is scored. */
  private def lmBigrams(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), seedCol.as("seed"),
        explode(pairList(split(col("text"), " "))).as("pr"))
      .select(col("doc_id"), col("source"), col("seed"),
        split(col("pr"), " ").getItem(0).as("w1"),
        split(col("pr"), " ").getItem(1).as("w2"))

  /** The LM's counts, one row per seed bigram: `c12` = c(w₁,w₂),
    * `c1` = c(w₁), and `head` marking one row per `w1` (so V is the
    * count of head rows). One bigram exchange and one per-`w1` window
    * exchange; shared by the fit and the quantization boundary audit. */
  private[graft] def lmCounts(s: SparkSession, dir: String): DataFrame = {
    val byW1 = Window.partitionBy(col("w1")).orderBy(col("w2"))
    lmBigrams(s, dir).filter(col("seed"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .select(col("w1"), col("w2"), col("c12"),
        sum(col("c12")).over(byW1.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)).as("c1"),
        (row_number().over(byW1) === 1).as("head"))
  }

  /** The fitted LM as the scoring joins consume it: `pairs(w1, w2,
    * cost)`, `backoff(w1, bcost)`, the unseen-`w1` cost `miss`, and the
    * estimated bytes the two tables ship. */
  private[graft] final case class LmFit(pairs: DataFrame, backoff: DataFrame,
      miss: Long, bytes: Long)

  /** q126's fit, memoized per (session, dir) and rebuilt when the
    * corpus file changes. The counts are checkpointed lazily and
    * materialized by ONE 1-row action that reads V, the unseen-`w1` cost
    * and the byte estimate; under [[LmBroadcastBytes]] the two cost
    * tables are then collected once, in one action, and held
    * driver-local (the checkpoint is dropped), else they stay
    * projections of the checkpointed counts. */
  private[graft] val lmFitCache = new graft.ops.SessionMemo[LmFit]

  private def lmFit(s: SparkSession, dir: String): LmFit =
    lmFitCache.getOrBuild(s, dir) {
      val counts = lmCounts(s, dir).localCheckpoint(eager = false)
      val entryBytes = length(col("w1")) + length(col("w2")) + 24 +
        when(col("head"), length(col("w1")) + 24).otherwise(0)
      val probe = counts
        .agg(count(when(col("head"), 1)).as("v"),
          coalesce(sum(entryBytes), lit(0L)).as("b"))
        .select(col("v"), col("b"),
          floor(qraw(col("v"), lit(1L))).cast("long").as("miss"))
        .collect()(0)
      val (v, bytes, miss) = (probe.getLong(0), probe.getLong(1), probe.getLong(2))
      val c1v = col("c1") + lit(v)
      val costs = counts.select(col("w1"), col("w2"), col("head"),
        floor(qraw(c1v, col("c12") + 1)).cast("long").as("cost"),
        floor(qraw(c1v, lit(1L))).cast("long").as("bcost"))
      val pairs = costs.select(col("w1"), col("w2"), col("cost"))
      val backoff = costs.filter(col("head")).select(col("w1"), col("bcost"))
      if (bytes > LmBroadcastBytes) LmFit(pairs, backoff, miss, bytes)
      else {
        val rows = costs.collect()
        def local(t: DataFrame, rs: Seq[Row]): DataFrame =
          s.createDataFrame(java.util.Arrays.asList(rs: _*), t.schema)
        LmFit(local(pairs, rows.map(r => Row(r(0), r(1), r(3)))),
          local(backoff, rows.filter(_.getBoolean(2)).map(r => Row(r(0), r(4)))),
          miss, bytes)
      }
    }

  private[graft] def lmPerplexityVia(s: SparkSession, dir: String,
      broadcastBound: Long): DataFrame = {
    val lm = lmFit(s, dir)
    // the bound decides per call how the fitted tables ship
    def ship(t: DataFrame): DataFrame =
      if (lm.bytes <= broadcastBound) broadcast(t) else t.hint("merge")
    val scored = lmBigrams(s, dir).filter(!col("seed"))
      .join(ship(lm.backoff), Seq("w1"), "left")
      .join(ship(lm.pairs), Seq("w1", "w2"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("cost"), col("bcost"), lit(lm.miss)).as("cost"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("cost")).as("nll"))
    scored.filter(col("n_bigrams") >= 1)
      .select(col("doc_id"), col("source"), col("n_bigrams"), col("nll"),
        (col("nll").cast("double") / col("n_bigrams")).as("avg_nll"))
      .orderBy(col("avg_nll").desc, col("doc_id")).limit(20)
  }

  /** DuckDB spelling of [[lmPerplexityFilter]]: same split, same counts,
    * same quantized per-pair costs via joins (value-identical to the
    * broadcast-map form). */
  val lmPerplexityFilterSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, source, $seedSqlPred AS seed,
       |    string_split(text,' ') AS l
       |  FROM documents WHERE text IS NOT NULL),
       |pairs AS (
       |  SELECT doc_id, seed,
       |    unnest(list_transform(range(1, greatest(len(l)-1,0)+1),
       |      i -> l[i] || ' ' || l[i+1])) AS pr
       |  FROM docs),
       |sp AS (SELECT doc_id, seed, string_split(pr,' ')[1] AS w1,
       |    string_split(pr,' ')[2] AS w2 FROM pairs),
       |bic AS (SELECT w1, w2, count(*) AS c12 FROM sp WHERE seed GROUP BY 1,2),
       |unic AS (SELECT w1, sum(c12) AS c1 FROM bic GROUP BY 1),
       |voc AS (SELECT count(*) AS v FROM unic),
       |costs AS (
       |  SELECT p.doc_id,
       |    CAST(floor($Scale * ln(CAST(coalesce(c1,0)+v AS DOUBLE)
       |      /(coalesce(c12,0)+1))) AS BIGINT) AS cost
       |  FROM sp p
       |  LEFT JOIN bic ON p.w1 = bic.w1 AND p.w2 = bic.w2
       |  LEFT JOIN unic ON p.w1 = unic.w1
       |  CROSS JOIN voc
       |  WHERE NOT p.seed),
       |dsc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(cost) AS BIGINT) AS nll FROM costs GROUP BY 1),
       |fin AS (
       |  SELECT d.doc_id, any_value(t.source) AS source, n_bigrams, nll,
       |    CAST(nll AS DOUBLE)/n_bigrams AS avg_nll
       |  FROM dsc d JOIN docs t ON d.doc_id = t.doc_id
       |  WHERE n_bigrams >= 1 GROUP BY d.doc_id, n_bigrams, nll)
       |SELECT doc_id, source, n_bigrams, nll, avg_nll
       |FROM fin ORDER BY avg_nll DESC, doc_id LIMIT 20""".stripMargin

  // ---- q127: BPE merge induction -------------------------------------------

  /** q127 — byte-pair-encoding merge induction over the corpus (the
    * tokenizer-training stage, Sennrich et al. 2016, at word
    * granularity): [[BpeRounds]] rounds of "count all adjacent symbol
    * pairs corpus-wide, merge the most frequent everywhere", emitting
    * the learned merge table (round, pair, frequency).
    *
    * In-row merge trick: each doc is carried as a `|tok||tok||tok|`
    * string, so merging pair (x,y) is the plain non-overlapping
    * left-to-right `replace('|x||y|' → '|x@y|')` — every token owns its
    * OWN delimiters, so adjacent occurrences never share a boundary
    * character and greedy-left BPE semantics fall out of String.replace
    * in both engines (a space-separated spelling would drop every
    * second adjacent occurrence — the match consumes the shared space).
    *
    * Scale shape: each round is one corpus scan + one pair-vocab
    * exchange + a TakeOrdered(1) best-pair broadcast (never a driver
    * collect); per-round `localCheckpoint` keeps the k-round lineage
    * flat (the q58 discipline). k corpus passes is the honest
    * distributed BPE cost — production trainers run the same passes on
    * a sampled corpus; sampling here is one `md5Bucket` filter away. */
  def bpeMerges(s: SparkSession, dir: String): DataFrame =
    bpeMergesOf(Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("text")), BpeRounds)

  /** Wrap space-joined text as a `|tok||tok|` delimiter string. */
  private def wrapToks(text: Column): Column =
    concat(lit("|"), replace(text, lit(" "), lit("||")), lit("|"))

  /** One BPE merge application: every `|w1||w2|` → `|w1@w2|`. */
  private def applyMerge(w: Column, w1: Column, w2: Column): Column =
    replace(w,
      concat(lit("|"), w1, lit("||"), w2, lit("|")),
      concat(lit("|"), w1, lit("@"), w2, lit("|")))

  /** Seed-split merge fits, memoized per (session, dir) and rebuilt
    * when the corpus file's stamp changes — q128 and q157
    * both apply THE SAME artifact (merges fit on the seed split of the
    * same corpus), so one bench/verify session trains it once and both
    * queries consume the checkpointed 1-row frames (the pcaParts
    * discipline: k tiny cached frames per session, dying with it). */
  private val seedFitCache = new graft.ops.SessionMemo[Seq[DataFrame]]

  private def seedFit(s: SparkSession, dir: String): Seq[DataFrame] =
    seedFitCache.getOrBuild(s, dir) {
      bpeFit(Tables.documents(s, dir)
        .filter(col("text").isNotNull).filter(seedCol)
        .select(wrapToks(col("text")).as("w")), BpeRounds)
    }

  /** Fit [[BpeRounds]]-style merges on a wrapped frame: returns the
    * per-round best-pair 1-row frames (each localCheckpointed, so
    * downstream consumers — the merge table AND any apply chain —
    * never re-run training). */
  private def bpeFit(wrapped: DataFrame, rounds: Int): Seq[DataFrame] = {
    // fan ONCE before round 0: every round's pair-count scan and merge
    // rewrite inherits this partitioning through the per-round
    // checkpoints, so a single-split corpus otherwise serializes all k
    // rounds on one core
    var cur = graft.ops.Par.fan(wrapped)
    var bests: Seq[DataFrame] = Nil
    for (r <- 0 until rounds) {
      val toks = cur.select(
        split(expr("substring(w, 2, length(w)-2)"), "\\|\\|").as("l"))
      val best = toks
        .select(explode(pairList(col("l"))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .select(split(col("pair"), " ").getItem(0).as("w1"),
          split(col("pair"), " ").getItem(1).as("w2"), col("cnt"))
        .localCheckpoint(eager = false)
      bests = bests :+ best
      if (r < rounds - 1)
        cur = cur.crossJoin(broadcast(best))
          .select(applyMerge(col("w"), col("w1"), col("w2")).as("w"))
          .localCheckpoint(eager = false)
    }
    bests
  }

  /** [[bpeMerges]] over any (text) frame — split out so ModelSpec can
    * prove merged-token recursion (round r+1 merging a round-r token)
    * on a crafted corpus, driving the PRODUCTION loop body. */
  private[graft] def bpeMergesOf(texts: DataFrame, rounds: Int): DataFrame = {
    val bests = bpeFit(texts.select(wrapToks(col("text")).as("w")), rounds)
    bests.zipWithIndex.map { case (b, r) =>
      b.select(lit(r.toLong).as("round"), col("w1"), col("w2"), col("cnt"))
    }.reduce(_.unionAll(_)).orderBy(col("round"))
  }

  // ---- q128: BPE train/apply split -----------------------------------------

  /** q128 — the tokenizer ARTIFACT-REUSE stage: merges are fit on the
    * seed split only, then applied (in merge order — BPE application is
    * order-sensitive) to the HELD-OUT corpus, reporting per-source
    * token counts before/after and the compression ratio. This is the
    * train/apply discipline every production tokenizer follows: the
    * merge table is the model artifact; application never re-reads the
    * training corpus.
    *
    * Scale shape: fitting is k seed passes (q127's cost on the seed
    * half); application is ONE held-out scan through k chained
    * 1-row-broadcast replaces — no shuffle at all until the final
    * per-source partial agg. The compression column is the single final
    * IEEE division of two exact BIGINTs. */
  def bpeApply(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("source"), col("text"), seedCol.as("seed"))
    val bests = seedFit(s, dir)
    var hold = graft.ops.Par.fan(docs.filter(!col("seed")))
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("tok_before"),
        wrapToks(col("text")).as("w"))
    for (b <- bests)
      hold = hold.crossJoin(broadcast(b))
        .select(col("source"), col("tok_before"),
          applyMerge(col("w"), col("w1"), col("w2")).as("w"))
    hold
      .select(col("source"), col("tok_before"),
        size(split(expr("substring(w, 2, length(w)-2)"), "\\|\\|"))
          .cast("long").as("tok_after"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("tok_before")).as("tok_before"),
        sum(col("tok_after")).as("tok_after"))
      .select(col("source"), col("n_docs"), col("tok_before"),
        col("tok_after"),
        (col("tok_before").cast("double") / col("tok_after"))
          .as("compression"))
      .orderBy(col("source"))
  }

  /** Shared CTE chain of the train/apply oracles (q128, q157): seed-side
    * training rounds `d0..b{k-1}` unrolled as in [[bpeMergesSql]], plus a
    * held-out application chain `h0..h{k}` that carries `carry`
    * (output-name → h0 definition) alongside the work string `w`. */
  private def bpeApplyCtes(carry: Seq[(String, String)]): String = {
    val names = carry.map(_._1).mkString(", ")
    val defs = carry.map { case (n, d) => s"$d AS $n" }.mkString(", ")
    val ctes = new StringBuilder(
      s"""docs AS (SELECT source, lang, text, $seedSqlPred AS seed
         |  FROM documents WHERE text IS NOT NULL),
         |d0 AS (SELECT '|' || replace(text,' ','||') || '|' AS w
         |  FROM docs WHERE seed),
         |h0 AS (SELECT $defs,
         |    '|' || replace(text,' ','||') || '|' AS w
         |  FROM docs WHERE NOT seed)""".stripMargin)
    for (r <- 0 until BpeRounds) {
      ctes ++= s""",
        |t$r AS (SELECT string_split(substr(w, 2, length(w)-2), '||') AS l
        |  FROM d$r),
        |p$r AS (SELECT unnest(list_transform(range(1, greatest(len(l)-1,0)+1),
        |    i -> l[i] || ' ' || l[i+1])) AS pair FROM t$r),
        |b$r AS (SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM p$r
        |  GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 1),
        |h${r + 1} AS (SELECT $names, replace(w,
        |    '|' || string_split(pair,' ')[1] || '||'
        |        || string_split(pair,' ')[2] || '|',
        |    '|' || string_split(pair,' ')[1] || '@'
        |        || string_split(pair,' ')[2] || '|') AS w
        |  FROM h$r CROSS JOIN b$r)""".stripMargin
      if (r < BpeRounds - 1)
        ctes ++= s""",
          |d${r + 1} AS (SELECT replace(w,
          |    '|' || string_split(pair,' ')[1] || '||'
          |        || string_split(pair,' ')[2] || '|',
          |    '|' || string_split(pair,' ')[1] || '@'
          |        || string_split(pair,' ')[2] || '|') AS w
          |  FROM d$r CROSS JOIN b$r)""".stripMargin
    }
    ctes.toString
  }

  /** DuckDB spelling of [[bpeApply]]: training CTEs over the seed split
    * (unrolled, as in [[bpeMergesSql]]), one held-out application chain,
    * same final aggregate. */
  val bpeApplySql: String = {
    // NB: the assembled string must NOT be stripMargin'd again — the CTE
    // chain contains `||` continuation lines that a second pass would mangle
    val ctes = bpeApplyCtes(Seq(
      "source" -> "source",
      "tok_before" -> "len(string_split(text,' '))"))
    val tail =
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tok_before) AS BIGINT) AS tok_before,
         |  CAST(sum(len(string_split(substr(w, 2, length(w)-2), '||')))
         |    AS BIGINT) AS tok_after,
         |  CAST(sum(tok_before) AS DOUBLE)
         |    / sum(len(string_split(substr(w, 2, length(w)-2), '||')))
         |    AS compression
         |FROM h$BpeRounds GROUP BY source ORDER BY source""".stripMargin
    s"WITH $ctes\n$tail"
  }

  // ---- q157: tokenizer fertility parity across languages -------------------

  /** q157 — tokenizer fertility-parity audit: the q128-fitted merges
    * applied to the held-out corpus, aggregated per LANGUAGE and
    * normalized per character — fertility = BPE tokens per char — plus
    * each language's parity ratio against the corpus-cheapest language.
    * This is the tokenizer-fairness measurement (Petrov et al. 2023,
    * "Language Model Tokenizers Introduce Unfairness Between Languages"):
    * a language at parity 2.0 pays twice the tokens — twice the context
    * budget and compute — for the same text mass, and a curation
    * pipeline rebalances its mixture (q121) or its tokenizer vocabulary
    * (q95/q127) off exactly this table. Complements q128, which audits
    * compression per SOURCE against the whitespace baseline; parity is
    * char-normalized and cross-language by construction.
    *
    * Determinism: token and char masses are exact BIGINTs; fertility is
    * ONE exactly-rounded IEEE division per language, min-fertility is a
    * min over those (order-independent), and parity is one further
    * division of two such doubles — no float accumulation anywhere
    * (q116's rule).
    *
    * Scale shape: q128's — k seed passes to fit, ONE held-out scan
    * through k chained 1-row-broadcast replaces, then a partial agg to
    * #langs rows; the 1-row min broadcasts back. No corpus shuffle at
    * any point. */
  def tokenizerParity(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("lang"), col("text"), seedCol.as("seed"))
    val bests = seedFit(s, dir)
    var hold = docs.filter(!col("seed"))
      .select(col("lang"), length(col("text")).cast("long").as("chars"),
        wrapToks(col("text")).as("w"))
    for (b <- bests)
      hold = hold.crossJoin(broadcast(b))
        .select(col("lang"), col("chars"),
          applyMerge(col("w"), col("w1"), col("w2")).as("w"))
    val perLang = hold
      .select(col("lang"), col("chars"),
        size(split(expr("substring(w, 2, length(w)-2)"), "\\|\\|"))
          .cast("long").as("toks"))
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("chars")).as("chars"),
        sum(col("toks")).as("bpe_tokens"))
      // feeds the per-language rows and the global-min side
      .localCheckpoint(eager = false)
    val minFert = perLang
      .select((col("bpe_tokens").cast("double") / col("chars")).as("f"))
      .agg(min(col("f")).as("min_fert"))
    perLang.crossJoin(broadcast(minFert))
      .select(col("lang"), col("n_docs"), col("chars"), col("bpe_tokens"),
        (col("bpe_tokens").cast("double") / col("chars")).as("fertility"),
        ((col("bpe_tokens").cast("double") / col("chars")) / col("min_fert"))
          .as("parity"))
      .orderBy(col("lang"))
  }

  /** DuckDB spelling of [[tokenizerParity]]: the shared train/apply CTE
    * chain carrying (lang, chars), same per-language masses, same two
    * divisions. */
  val tokenizerParitySql: String = {
    val ctes = bpeApplyCtes(Seq(
      "lang" -> "lang",
      "chars" -> "CAST(length(text) AS BIGINT)"))
    val tail =
      s"""pl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(chars) AS BIGINT) AS chars,
         |  CAST(sum(len(string_split(substr(w, 2, length(w)-2), '||')))
         |    AS BIGINT) AS bpe_tokens
         |FROM h$BpeRounds GROUP BY lang),
         |mn AS (SELECT min(CAST(bpe_tokens AS DOUBLE) / chars) AS min_fert
         |  FROM pl)
         |SELECT lang, n_docs, chars, bpe_tokens,
         |  CAST(bpe_tokens AS DOUBLE) / chars AS fertility,
         |  (CAST(bpe_tokens AS DOUBLE) / chars) / min_fert AS parity
         |FROM pl CROSS JOIN mn ORDER BY lang""".stripMargin
    s"WITH $ctes,\n$tail"
  }

  /** DuckDB spelling of [[bpeMerges]]: the k rounds UNROLLED as chained
    * CTEs — same wrapping, same tie-break, same replace semantics. */
  val bpeMergesSql: String = {
    val ctes = new StringBuilder(
      """d0 AS (SELECT '|' || replace(text,' ','||') || '|' AS w
        |  FROM documents WHERE text IS NOT NULL)""".stripMargin)
    for (r <- 0 until BpeRounds) {
      ctes ++= s""",
        |t$r AS (SELECT string_split(substr(w, 2, length(w)-2), '||') AS l
        |  FROM d$r),
        |p$r AS (SELECT unnest(list_transform(range(1, greatest(len(l)-1,0)+1),
        |    i -> l[i] || ' ' || l[i+1])) AS pair FROM t$r),
        |b$r AS (SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM p$r
        |  GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 1)""".stripMargin
      if (r < BpeRounds - 1)
        ctes ++= s""",
          |d${r + 1} AS (SELECT replace(w,
          |    '|' || string_split(pair,' ')[1] || '||'
          |        || string_split(pair,' ')[2] || '|',
          |    '|' || string_split(pair,' ')[1] || '@'
          |        || string_split(pair,' ')[2] || '|') AS w
          |  FROM d$r CROSS JOIN b$r)""".stripMargin
    }
    val sel = (0 until BpeRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, string_split(pair,' ')[1] AS w1,
         |  string_split(pair,' ')[2] AS w2, cnt FROM b$r""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"WITH $ctes\nSELECT * FROM (\n  $sel\n) ORDER BY round"
  }

  // ---- q169: active-learning uncertainty sampling --------------------------

  /** Docs surfaced per labeling round. */
  final val UncertainK = 20

  /** q169 — uncertainty sampling for active learning: the
    * [[UncertainK]] held-out documents whose q125 NB score sits closest
    * to the decision boundary (smallest |score|, ties by doc_id) — the
    * "label these next" worklist that grows a training set where each
    * human label buys the most classifier improvement (Lewis & Gale's
    * uncertainty sampling, run off the same fitted artifact q125/q129
    * already share, closing the weak-supervision loop: q125 trains,
    * q129 calibrates, q164 aggregates heuristics, THIS picks the next
    * labels). Every ranking key is an exact BIGINT (|quantized score|),
    * so the ordered contract has zero ULP/tie risk.
    *
    * Scale shape: scoring is q125's single corpus scan against the
    * one-row broadcast model (past a web-scale vocabulary the scoring
    * flips to q126's explode + broadcast-join spelling — same
    * [[LmBroadcastBytes]] discipline); the top-k is an
    * `orderBy.limit` — TakeOrderedAndProject, per-partition heaps, no
    * global sort — and the rank window runs on the 20 surviving rows. */
  def uncertaintySample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = nbScoredHoldout(s, dir)
      .orderBy(abs(col("score")), col("doc_id")).limit(UncertainK)
    top.withColumn("rnk", row_number().over(
        Window.orderBy(abs(col("score")), col("doc_id"))).cast("long"))
      .select(col("rnk"), col("doc_id"), col("source"), col("is_long"),
        col("score"))
      .orderBy(col("rnk"))
  }

  /** DuckDB spelling: identical scoring CTEs, same |score| ranking. */
  val uncertaintySampleSql: String =
    s"""WITH $nbScoredCtes
       |SELECT CAST(row_number() OVER (ORDER BY abs(score), doc_id)
       |    AS BIGINT) AS rnk,
       |  doc_id, source, is_long, CAST(score AS BIGINT) AS score
       |FROM scored QUALIFY rnk <= $UncertainK
       |ORDER BY rnk""".stripMargin

  // ---- q203: split-conformal prediction-interval calibration --------------

  /** Miscoverage target α = 1/10: the conformal quantile is the
    * ⌈(n+1)(1−α)⌉-th smallest calibration residual. */
  final val ConformalAlphaDen = 10L

  /** q203 — split-conformal calibration of a per-segment point
    * predictor: events are split CALIB/TEST by the md5 parity of their
    * id (a data-derived, exchangeable split — the q84/q59 hash-split
    * discipline); per event type the predictor is the calibration
    * lower median, the conformal radius q̂ is the ⌈(n+1)·9/10⌉-th
    * smallest |residual| on CALIB, and the audit reports TEST coverage
    * of [med−q̂, med+q̂]. Split conformal (Papadopoulos et al. 2002,
    * Vovk's framework) guarantees ≥1−α coverage for exchangeable data
    * REGARDLESS of how bad the predictor is — making this the
    * distribution-free eval-infra op: it certifies interval honesty,
    * not model quality. Every rank is an exact integer order statistic
    * (cents), so both engines agree bit-for-bit; the only double is
    * the final coverage ratio.
    *
    * Scale shape: both rank selections run on (type, value)-count
    * relations — windows bounded by the VALUE DOMAIN per type (the
    * q165 histogram argument), never the event count; everything else
    * is partial-agg passes and a broadcast of the ≤|types| (med, q̂)
    * relation. */
  def conformalAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select(col("event_type").as("t"),
        expr("bigint(round(value * 100))").as("c"),
        (Text.md5Bucket(col("event_id"), 2L) === 0L).as("calib"))
      .localCheckpoint(eager = false) // calib ranks AND test coverage
    // k-th smallest per group from a (group, value, cnt) relation
    def kth(vals: DataFrame, group: String, v: String, kOf: Column => Column,
        as: String): DataFrame = {
      val counts = vals.groupBy(col(group), col(v))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(col(group)).orderBy(col(v))
            .rowsBetween(Window.unboundedPreceding, 0)))
      val n = vals.groupBy(col(group)).agg(count(lit(1)).as("n"))
      counts.join(broadcast(n), Seq(group))
        .filter(col("cum") >= kOf(col("n")))
        .groupBy(col(group)).agg(min(col(v)).as(as))
    }
    val cal = ev.filter(col("calib"))
    val med = kth(cal, "t", "c", n => expr("(n + 1) div 2"), "med_cents")
    val resid = cal.join(broadcast(med), Seq("t"))
      .select(col("t"), abs(col("c") - col("med_cents")).as("r"))
    val qhat = kth(resid, "t", "r",
      n => expr(s"((n + 1) * ${ConformalAlphaDen - 1} + " +
        s"${ConformalAlphaDen - 1}) div $ConformalAlphaDen"), "qhat_cents")
    val nCal = cal.groupBy(col("t")).agg(count(lit(1)).as("n_calib"))
    ev.filter(!col("calib"))
      .join(broadcast(med), Seq("t")).join(broadcast(qhat), Seq("t"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(abs(col("c") - col("med_cents")) <= col("qhat_cents"), 1L)
          .otherwise(0L)).as("n_covered"))
      .join(broadcast(nCal), Seq("t")).join(broadcast(med), Seq("t"))
      .join(broadcast(qhat), Seq("t"))
      .select(col("t").as("event_type"), col("n_calib"), col("n_test"),
        col("med_cents"), col("qhat_cents"), col("n_covered"),
        (col("n_covered").cast("double") / col("n_test")).as("coverage"))
      .orderBy(col("event_type"))
  }

  /** DuckDB spelling: same hash split, same order-statistic CTEs, same
    * ceiling arithmetic (⌈x·9/10⌉ = (9x+9) div 10 for integer x). */
  val conformalAuditSql: String = {
    val a1 = ConformalAlphaDen - 1
    s"""WITH ev AS (
       |  SELECT event_type AS t, CAST(round(value * 100) AS BIGINT) AS c,
       |    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
       |      % 2 = 0 AS calib
       |  FROM events),
       |cal AS (SELECT t, c FROM ev WHERE calib),
       |cn AS (SELECT t, CAST(count(*) AS BIGINT) AS n_calib
       |       FROM cal GROUP BY t),
       |cc AS (
       |  SELECT t, c, SUM(count(*)) OVER (PARTITION BY t ORDER BY c
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM cal GROUP BY t, c),
       |med AS (
       |  SELECT cc.t, CAST(min(c) AS BIGINT) AS med_cents
       |  FROM cc JOIN cn ON cn.t = cc.t
       |  WHERE cum >= (n_calib + 1) // 2 GROUP BY cc.t),
       |res AS (
       |  SELECT cal.t, abs(c - med_cents) AS r
       |  FROM cal JOIN med ON med.t = cal.t),
       |rc AS (
       |  SELECT t, r, SUM(count(*)) OVER (PARTITION BY t ORDER BY r
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM res GROUP BY t, r),
       |qh AS (
       |  SELECT rc.t, CAST(min(r) AS BIGINT) AS qhat_cents
       |  FROM rc JOIN cn ON cn.t = rc.t
       |  WHERE cum >= ((n_calib + 1) * $a1 + $a1) // $ConformalAlphaDen
       |  GROUP BY rc.t),
       |tst AS (
       |  SELECT ev.t, CAST(count(*) AS BIGINT) AS n_test,
       |    CAST(sum(CASE WHEN abs(c - med_cents) <= qhat_cents
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
       |  FROM ev JOIN med ON med.t = ev.t JOIN qh ON qh.t = ev.t
       |  WHERE NOT calib GROUP BY ev.t)
       |SELECT tst.t AS event_type, cn.n_calib, tst.n_test,
       |  med.med_cents, qh.qhat_cents, tst.n_covered,
       |  CAST(n_covered AS DOUBLE) / n_test AS coverage
       |FROM tst JOIN cn ON cn.t = tst.t JOIN med ON med.t = tst.t
       |JOIN qh ON qh.t = tst.t
       |ORDER BY event_type""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q203_conformal_audit" -> (conformalAudit _),
    "q169_uncertainty_sample" -> (uncertaintySample _),
    "q125_nb_quality" -> (nbQualityFilter _),
    "q126_lm_perplexity" -> (lmPerplexityFilter _),
    "q127_bpe_merges" -> (bpeMerges _),
    "q128_bpe_apply" -> (bpeApply _),
    "q157_tokenizer_parity" -> (tokenizerParity _),
    "q129_nb_calibration" -> (nbCalibration _),
    "q227_auc_audit" -> (aucAudit _),
    "q228_threshold_sweep" -> (thresholdSweep _))

  val oracles: Map[String, String] = Map(
    "q203_conformal_audit" -> conformalAuditSql,
    "q169_uncertainty_sample" -> uncertaintySampleSql,
    "q125_nb_quality" -> nbQualityFilterSql,
    "q126_lm_perplexity" -> lmPerplexityFilterSql,
    "q127_bpe_merges" -> bpeMergesSql,
    "q128_bpe_apply" -> bpeApplySql,
    "q157_tokenizer_parity" -> tokenizerParitySql,
    "q129_nb_calibration" -> nbCalibrationSql,
    "q227_auc_audit" -> aucAuditSql,
    "q228_threshold_sweep" -> thresholdSweepSql)
}
