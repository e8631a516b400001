package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Hybrid lexical+vector retrieval — north-star extension (no counterpart
  * in the reference; SURVEY.md §7.4's retrieval family). Fuses the q118
  * BM25 ranked list with an exact-integer-dot vector ranked list under
  * reciprocal-rank fusion (Cormack et al., SIGIR 2009) — the standard
  * first-stage ranker of a RAG / retrieval-eval pipeline, where neither
  * retriever alone is trusted and rank (not score) is the only commensurable
  * signal between them.
  */
object Retrieval {

  /** RRF smoothing constant (the conventional 60). */
  final val RrfK = 60L

  /** Reciprocal-rank scale for the exact-integer MRR (q174/q194):
    * LCM(1..FuseK) so `MrrScale div rank` is exact for every fused
    * rank. Deliberately its OWN constant — it coincidentally equals
    * [[RrfK]], but retuning the RRF smoothing knob must not silently
    * break the integer-exactness of the audit metric. */
  final val MrrScale = 60L

  /** List depth per retriever AND fused results per query. */
  final val FuseK = 5

  /** The probe queries: the distinct q118 query ids. Each id doubles as
    * the vector-side probe — the embedding of vec_id = query_id is the
    * query vector (the doc-as-query convention q17/q117 use), so both
    * retrievers answer the SAME workload and fusion is meaningful. */
  private[graft] val fuseQueryIds: Seq[Long] =
    Index.bm25Probes.map(_._1).distinct.sorted

  /** q155 — hybrid retrieval with reciprocal-rank fusion: for each probe
    * query, the BM25 top-[[FuseK]] (lexical arm, q118's exact rational
    * scoring) and the exact int8-dot top-[[FuseK]] (vector arm, q54's
    * quantization — deterministic ranks, no float-cosine ULP risk) are
    * fused by
    *
    *   rrf(d) = Σ_arms 1 / ([[RrfK]] + rank_arm(d)),
    *
    * missing-arm terms contributing 0, and the fused top-[[FuseK]] is
    * emitted with both per-arm ranks (NULL where an arm missed the doc).
    * Ranks come from exact arithmetic in both engines, each 1/(60+r) is
    * one exactly-rounded IEEE division, and the two-term sum has a fixed
    * operand order — so the fused scores are bit-identical cross-engine
    * and the (rrf desc, doc_id) order is a total order both agree on
    * (the ordered-contract discipline; q155 is in `SparkEntry.ordered`).
    *
    * Scale shape: each arm is already k-bounded BEFORE fusion — BM25 via
    * q118's [[graft.functions.TopK]] partial aggregation, the vector arm
    * via the same aggregator over one candidate scan (q17's shape; an
    * LSH/IVF prefilter composes in front of it unchanged, q18/q97) — so
    * the fusion join touches O(Q · 2k) rows total regardless of corpus
    * size: a full-outer equi-join of two tiny relations, then a
    * k-bounded per-query window. The corpus is scanned once per arm and
    * never shuffled; only ids, ranks and 8-byte scores move. */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val lex = Index.bm25TopK(s, dir)
      // rnk <= FuseK: Bm25K == FuseK today, but the oracle hard-codes
      // the FuseK cut — raising Bm25K alone would feed ranks the oracle
      // excludes into the fusion (hybridLshServe carries the same
      // future-proof filter)
      .filter(col("rnk") <= FuseK)
      .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rnk"))
    val vec = exactDotTop(s, dir, FuseK)
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "st")))
      .select(col("query_id"), col("st.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("vec_rnk"))
    rrfFuse(lex, vec)
  }

  /** Exact int8-dot top-k per probe query over the quantized corpus —
    * ONE pipeline shared by q155's vector arm (k = [[FuseK]]) and the
    * q174/q194 ground truth (k = [[MrrTruthK]]), so the ranking and
    * the audit that judges it can never drift. Returns
    * (query_id, top: array<struct<id, score>>). */
  private def exactDotTop(s: SparkSession, dir: String, k: Int): DataFrame = {
    val quant = Similarity.quantizedVectors(Tables.embeddings(s, dir))
      // feeds the probe side and the candidate side
      .localCheckpoint(eager = false)
    val q = quant.filter(col("vec_id").isin(fuseQueryIds: _*))
      .select(col("vec_id").as("query_id"), col("q").as("qa"))
    quant.select(col("vec_id").as("doc_id"), col("q").as("qb"))
      .crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        // |dot| ≤ 64·127² ≈ 2²⁰ — exact in the double TopK score
        graft.functions.VectorFunctions.int_dot(col("qa"), col("qb"))
          .cast("double").as("dot"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.top_k(k)(col("doc_id"), col("dot"))
        .as("top"))
  }

  /** The fusion step alone: full-outer-join two k-bounded ranked lists
    * (`(query_id, doc_id, lex_rnk)` / `(query_id, doc_id, vec_rnk)`),
    * score rrf = Σ 1/([[RrfK]]+rank), emit the fused top-[[FuseK]].
    * O(Q·2k) rows end to end — the arms did all the corpus-sized work.
    * Shared by [[hybridRrf]] (exact vector arm) and [[hybridLshServe]]
    * (production LSH arm; also the streaming fusion — StreamingSpec
    * fuses the two MAINTAINED index serves through this same step). */
  private[graft] def rrfFuse(lex: DataFrame, vec: DataFrame): DataFrame = {
    val fused = lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"), col("lex_rnk"), col("vec_rnk"),
        (coalesce(lit(1.0d) / (lit(RrfK) + col("lex_rnk")), lit(0.0d)) +
          coalesce(lit(1.0d) / (lit(RrfK) + col("vec_rnk")), lit(0.0d)))
          .as("rrf"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= FuseK)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("rrf"),
        col("lex_rnk"), col("vec_rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** The fusion block of both hybrid oracles: full-join the named lex /
    * vec ranked-list CTEs, the same two-term RRF sum (fixed operand
    * order, CAST-to-DOUBLE literals so DuckDB does IEEE division, not
    * DECIMAL), same (rrf desc, doc_id) final order as [[rrfFuse]]. */
  private def fuseSqlCtes(lexCte: String, vecCte: String): String =
    s"""f AS (
       |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
       |    coalesce(l.doc_id, v.doc_id) AS doc_id, l.lex_rnk, v.vec_rnk,
       |    coalesce(CAST(1 AS DOUBLE) / ($RrfK + l.lex_rnk),
       |        CAST(0 AS DOUBLE))
       |      + coalesce(CAST(1 AS DOUBLE) / ($RrfK + v.vec_rnk),
       |        CAST(0 AS DOUBLE)) AS rrf
       |  FROM $lexCte l FULL JOIN $vecCte v
       |    ON v.query_id = l.query_id AND v.doc_id = l.doc_id),
       |fr AS (
       |  SELECT query_id, doc_id, rrf, lex_rnk, vec_rnk,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk
       |  FROM f)""".stripMargin

  private def fuseSqlTail(lexCte: String, vecCte: String): String =
    s"""${fuseSqlCtes(lexCte, vecCte)}
       |SELECT query_id, rnk, doc_id, rrf, lex_rnk, vec_rnk
       |FROM fr WHERE rnk <= $FuseK
       |ORDER BY query_id, rnk""".stripMargin

  /** DuckDB spelling of [[hybridRrf]]: q118's ranked CTE chain verbatim
    * ([[Index.bm25RankedCtes]]), q54's quantization + the same exact
    * integer dot ranking for the vector arm, the same two-term RRF sum
    * (fixed operand order, CAST-to-DOUBLE literals so DuckDB does IEEE
    * division, not DECIMAL), same (rrf desc, doc_id) final order. */
  private val hybridChainCtes: String = {
    val ids = fuseQueryIds.mkString(", ")
    s"""${Index.bm25RankedCtes},
       |vd AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
       |vn AS (
       |  SELECT vec_id, de,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(de, x -> x * x)), (a, b) -> a + b) AS ss
       |  FROM vd),
       |vq AS (
       |  SELECT vec_id, list_transform(de,
       |    x -> CAST(floor(x / sqrt(ss) * 127 + 0.5) AS BIGINT)) AS q
       |  FROM vn WHERE ss > 0),
       |vs AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, 65), dd -> a.q[dd] * b.q[dd])),
       |      (x, y) -> x + y) AS BIGINT) AS dot
       |  FROM vq a JOIN vq b ON b.vec_id <> a.vec_id
       |  WHERE a.vec_id IN ($ids)),
       |vr AS (
       |  SELECT query_id, doc_id, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY dot DESC, doc_id) AS BIGINT)
       |    AS vec_rnk
       |  FROM vs),
       |lex AS (
       |  SELECT query_id, doc_id, rnk AS lex_rnk FROM r WHERE rnk <= $FuseK),
       |vecl AS (
       |  SELECT query_id, doc_id, vec_rnk FROM vr WHERE vec_rnk <= $FuseK),
       |${fuseSqlCtes("lex", "vecl")}""".stripMargin
  }

  val hybridRrfSql: String =
    s"""WITH $hybridChainCtes
       |SELECT query_id, rnk, doc_id, rrf, lex_rnk, vec_rnk
       |FROM fr WHERE rnk <= $FuseK
       |ORDER BY query_id, rnk""".stripMargin

  /** q158 — the SERVABLE hybrid: the same RRF fusion but with the
    * PRODUCTION index arms — BM25 served from the q118 index relations
    * and the vector list served from the q18 LSH band index — i.e.
    * exactly the two states the streaming maintainers
    * ([[graft.streaming.DocStreams.maintainBm25Index]] /
    * `maintainAnnIndex`) carry across drops. q155 is the QUALITY
    * reference (exact vector arm); this is what actually answers a
    * query at 100 TB, where the exact arm's corpus scan per probe is
    * reserved for audits (q117's recall methodology prices the gap).
    * Continuous serving follows for free: StreamingSpec fuses the two
    * maintained serves through [[rrfFuse]] and gets this query's batch
    * answer over the ingested corpus, by construction.
    *
    * Scale shape: the LSH arm touches only same-bucket candidates (the
    * q18 equi-join geometry), the BM25 arm only matched-term postings
    * with TopK partial agg; fusion stays O(Q·2k). Nothing corpus-sized
    * moves. */
  def hybridLshServe(s: SparkSession, dir: String): DataFrame = {
    val lex = Index.bm25TopK(s, dir)
      .filter(col("rnk") <= FuseK) // Bm25K == FuseK today; future-proof
      .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rnk"))
    val vec = Similarity.knnLshServe(
        Similarity.lshIndexOf(Tables.embeddings(s, dir)), FuseK,
        probe = col("vec_id").isin(fuseQueryIds: _*))
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rnk").as("vec_rnk"))
    rrfFuse(lex, vec)
  }

  /** DuckDB spelling of [[hybridLshServe]]: q118's ranked CTEs + q18's
    * serving CTEs (same plane constants and cosine tie-break), fused by
    * the shared tail. */
  val hybridLshServeSql: String =
    s"""WITH ${Index.bm25RankedCtes},
       |${Similarity.lshServeCtes(FuseK, fuseQueryIds)},
       |lex AS (
       |  SELECT query_id, doc_id, rnk AS lex_rnk FROM r WHERE rnk <= $FuseK),
       |${fuseSqlTail("lex", "vlsh")}""".stripMargin

  // ---- q170: context packing under a token budget -------------------------

  /** Per-query context-window budget in tokens. */
  final val PackBudgetTokens = 150L

  /** q170 — RAG context assembly: for every probe query, walk the q118
    * BM25 shortlist in rank order and keep each document while the
    * tokens BEFORE it fit the [[PackBudgetTokens]] budget (q137's
    * exclusive-cumsum boundary rule: the first over-budget doc is
    * included, never split, and everything after it drops). This is the
    * serving-side twin of q121's training-mixture packing — the step
    * between "retrieval ranked these" (q118/q155/q158) and "this is
    * the prompt": a context window is a hard token budget, and the
    * packed relation (query, rank, doc, doc tokens, running total) IS
    * the prompt manifest.
    *
    * Scale shape: packing runs on the ALREADY k-bounded shortlist
    * (TopK partial agg — never the matched-doc set), so the per-query
    * window is ≤ k rows; doc lengths come from the q118 index relation
    * by id. Exact integer token counts end-to-end; the greedy prefix
    * is deterministic because the shortlist order is (its ordered
    * contract is verified row-exactly). */
  def contextPack(s: SparkSession, dir: String): DataFrame = {
    val (tfc, lens) = graft.ext.Index.bm25IndexOf(Tables.documents(s, dir))
    val ranked = graft.ext.Index.bm25ServeFrom(s, tfc, lens)
    val before = coalesce(sum(col("dl")).over(
      Window.partitionBy(col("query_id")).orderBy(col("rnk"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    ranked.join(lens, Seq("doc_id"))
      .withColumn("before", before)
      .filter(col("before") < PackBudgetTokens)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("dl"),
        (col("before") + col("dl")).as("cum_tok"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** DuckDB spelling: q118's ranked CTEs, same shortlist, same
    * exclusive-cumsum boundary rule. */
  val contextPackSql: String =
    s"""WITH ${graft.ext.Index.bm25RankedCtes},
       |short AS (
       |  SELECT query_id, rnk, doc_id FROM r
       |  WHERE rnk <= ${graft.ext.Index.Bm25K}),
       |packed AS (
       |  SELECT s.query_id, s.rnk, s.doc_id, l.dl,
       |    COALESCE(SUM(l.dl) OVER (PARTITION BY s.query_id ORDER BY s.rnk
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
       |  FROM short s JOIN lens l USING (doc_id))
       |SELECT query_id, rnk, doc_id, CAST(dl AS BIGINT) AS dl,
       |  CAST(before + dl AS BIGINT) AS cum_tok
       |FROM packed WHERE before < $PackBudgetTokens
       |ORDER BY query_id, rnk""".stripMargin

  // ---- shared audit inputs (q174 / q194) ----------------------------------

  /** The two audit queries both consume the q155 fused list AND the
    * exact-dot truth lists; without sharing, each rebuilds the whole
    * hybrid chain (BM25 index + quantization + two TopK passes). Both
    * relations are O(Q·k) — cached as eager localCheckpoints, keyed by
    * (session, dir) via [[graft.ops.SessionMemo]], which purges
    * stopped sessions' entries on every access — a plain session-keyed
    * map would pin their checkpointed DataFrames strongly for the life
    * of the JVM across many short-lived sessions (the test-harness
    * pattern). q155/q158 themselves stay UNCACHED: their plans are the
    * contract (PlanShapeSpec locks the partial-TopK shapes). */
  private[graft] val fusedCache = new graft.ops.SessionMemo[DataFrame]

  private def fusedList(s: SparkSession, dir: String): DataFrame =
    fusedCache.getOrBuild(s, dir) {
      hybridRrf(s, dir)
        .select(col("query_id"), col("rnk"), col("doc_id"))
        .localCheckpoint()
    }

  /** Exact int8-dot top-[[MrrTruthK]] per probe query: (query_id, top)
    * with `top` the rank-ordered id array — the ground-truth relation
    * both audits grade against. */
  private[graft] val truthCache = new graft.ops.SessionMemo[DataFrame]
  private def truthTop(s: SparkSession, dir: String): DataFrame =
    truthCache.getOrBuild(s, dir) {
      exactDotTop(s, dir, MrrTruthK) // the q155 pipeline, truth depth
        .select(col("query_id"), col("top.id").as("top"))
        .localCheckpoint()
    }

  // ---- q174: MRR audit of the hybrid ranking ------------------------------

  /** Ground-truth depth: a fused answer "hits" if it is one of the
    * exact int8-dot top-[[MrrTruthK]] neighbors. */
  final val MrrTruthK = 3

  /** q174 — mean-reciprocal-rank audit of the q155 hybrid ranking
    * against exact-integer-dot ground truth: per probe query, the rank
    * of the FIRST fused result that is a true top-[[MrrTruthK]]
    * neighbor, and its reciprocal rank as the EXACT integer `60 div
    * rank` (every rank 1..5 divides 60, so MRR·60·Q = Σ rr_x60 with no
    * float anywhere — the rational-arithmetic trick q118 uses for idf,
    * applied to ranking metrics). A `-1` total row sums the worklist.
    * Recall@k (q117/q154/q156) says WHETHER the truth surfaces; MRR
    * says how high — the metric leaderboards and serving SLOs actually
    * track, here priced for the fusion stage the engine serves.
    *
    * Scale shape: the fused list and the truth list are both k-bounded
    * relations (TopK partial agg); the audit join touches O(Q·k) rows.
    * The exact-dot truth arm is the deliberate q117-style audit cost. */
  def mrrAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fused = fusedList(s, dir)
    val truth = truthTop(s, dir)
      .select(col("query_id"), explode(col("top")).as("doc_id"))
    val hits = fused.join(truth, Seq("query_id", "doc_id"))
      .groupBy(col("query_id")).agg(min(col("rnk")).as("first_hit"))
    val per = fuseQueryIds.toDF("query_id")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("first_hit"),
        coalesce(expr(s"$MrrScale div first_hit"), lit(0L)).as("rr_x60"))
      .localCheckpoint(eager = false) // rows + total both consume it
    val total = per.agg(sum(col("rr_x60")).as("rr_x60"))
      .select(lit(-1L).as("query_id"),
        lit(null).cast("long").as("first_hit"), col("rr_x60"))
    per.union(total).orderBy(col("query_id"))
  }

  /** DuckDB spelling: the shared q155 chain, truth from the same exact
    * ranking, identical integer reciprocal ranks. */
  val mrrAuditSql: String = {
    val ids = fuseQueryIds.mkString(", ")
    s"""WITH $hybridChainCtes,
       |truth AS (
       |  SELECT query_id, doc_id FROM vr WHERE vec_rnk <= $MrrTruthK),
       |fused AS (
       |  SELECT query_id, rnk, doc_id FROM fr WHERE rnk <= $FuseK),
       |hits AS (
       |  SELECT f.query_id, MIN(f.rnk) AS first_hit
       |  FROM fused f JOIN truth t
       |    ON t.query_id = f.query_id AND t.doc_id = f.doc_id
       |  GROUP BY 1),
       |pr AS (SELECT CAST(unnest([$ids]) AS BIGINT) AS query_id),
       |per AS (
       |  SELECT pr.query_id, h.first_hit,
       |    COALESCE($MrrScale // h.first_hit, 0) AS rr_x60
       |  FROM pr LEFT JOIN hits h ON h.query_id = pr.query_id)
       |SELECT query_id, first_hit, rr_x60 FROM per
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(NULL AS BIGINT),
       |  CAST(SUM(rr_x60) AS BIGINT)
       |FROM per
       |ORDER BY query_id""".stripMargin
  }

  // ---- q194: nDCG audit of the hybrid ranking -----------------------------

  /** Position-discount weights, µ-units: W(i) = ⌊10⁶ / log₂(i+1)⌋ for
    * fused positions 1..[[FuseK]]. Computed ONCE here and EMBEDDED as
    * integer literals in both spellings (the LSH-constant discipline), so
    * neither engine evaluates a transcendental at query time and the DCG
    * sums are exact integer arithmetic end-to-end. */
  val NdcgW: Seq[Long] = (1 to FuseK).map(i =>
    math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0))).toLong)

  /** q194 — nDCG@[[FuseK]] audit of the q155 hybrid ranking with graded
    * relevance from the exact-dot ground truth: truth rank r ∈ 1..
    * [[MrrTruthK]] grades rel = [[MrrTruthK]]+1−r (3,2,1), non-truth 0.
    *
    *   dcg_x1e6  = Σ_positions rel(doc at i) · W(i)
    *   idcg_x1e6 = Σ_{r=1..n_truth} (M+1−r) · W(r)   (ideal ordering)
    *   ndcg      = dcg/idcg  — ONE IEEE division, identical cross-engine.
    *
    * q174's MRR prices only the FIRST hit; nDCG prices the whole list
    * with position discounts — the metric offline ranking evals report.
    * The `-1` total row micro-averages: exact integer Σdcg / Σidcg, not
    * a float mean over queries (which would be accumulation-order-
    * dependent). Scale shape: identical to q174 — both lists are
    * k-bounded, the audit join is O(Q·k); only the deliberate exact-dot
    * truth arm touches the corpus (the q117 audit-cost discipline). */
  def ndcgAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wArr = array(NdcgW.map(lit): _*)
    val fused = fusedList(s, dir)
    val truth = truthTop(s, dir)
      .select(col("query_id"), posexplode(col("top")).as(Seq("p", "doc_id")))
      .select(col("query_id"), col("doc_id"),
        (lit(MrrTruthK.toLong) - col("p")).as("rel"),
        ((lit(MrrTruthK.toLong) - col("p")) *
          element_at(wArr, col("p").cast("int") + 1)).as("ideal_term"))
      .localCheckpoint(eager = false) // feeds dcg join AND idcg agg
    val dcg = fused
      .join(truth.select(col("query_id"), col("doc_id"), col("rel")),
        Seq("query_id", "doc_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("rel"), lit(0L)) *
        element_at(wArr, col("rnk").cast("int"))).as("dcg_x1e6"))
    val idcg = truth.groupBy(col("query_id"))
      .agg(sum(col("ideal_term")).as("idcg_x1e6"))
    val per = fuseQueryIds.toDF("query_id")
      .join(dcg, Seq("query_id"), "left")
      .join(idcg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("dcg_x1e6"), lit(0L)).as("dcg_x1e6"),
        coalesce(col("idcg_x1e6"), lit(0L)).as("idcg_x1e6"))
      .localCheckpoint(eager = false) // rows + total both consume it
    val total = per.agg(sum(col("dcg_x1e6")).as("dcg_x1e6"),
        sum(col("idcg_x1e6")).as("idcg_x1e6"))
      .select(lit(-1L).as("query_id"), col("dcg_x1e6"), col("idcg_x1e6"))
    per.union(total)
      .select(col("query_id"), col("dcg_x1e6"), col("idcg_x1e6"),
        (col("dcg_x1e6").cast("double") / col("idcg_x1e6")).as("ndcg"))
      .orderBy(col("query_id"))
  }

  /** DuckDB spelling: the shared q155 chain; the SAME embedded W
    * literals; exact integer DCG/IDCG; one final division. */
  val ndcgAuditSql: String = {
    val ids = fuseQueryIds.mkString(", ")
    val w = NdcgW.mkString("[", ", ", "]")
    s"""WITH $hybridChainCtes,
       |w AS (SELECT $w AS wa),
       |truth AS (
       |  SELECT query_id, doc_id, ${MrrTruthK + 1} - vec_rnk AS rel,
       |    (${MrrTruthK + 1} - vec_rnk) * wa[vec_rnk] AS ideal_term
       |  FROM vr, w WHERE vec_rnk <= $MrrTruthK),
       |fused AS (
       |  SELECT query_id, rnk, doc_id FROM fr WHERE rnk <= $FuseK),
       |dcg AS (
       |  SELECT f.query_id,
       |    SUM(COALESCE(t.rel, 0) * wa[f.rnk]) AS dcg_x1e6
       |  FROM fused f LEFT JOIN truth t
       |    ON t.query_id = f.query_id AND t.doc_id = f.doc_id, w
       |  GROUP BY 1),
       |idcg AS (
       |  SELECT query_id, SUM(ideal_term) AS idcg_x1e6
       |  FROM truth GROUP BY 1),
       |pr AS (SELECT CAST(unnest([$ids]) AS BIGINT) AS query_id),
       |per AS (
       |  SELECT pr.query_id,
       |    CAST(COALESCE(d.dcg_x1e6, 0) AS BIGINT) AS dcg_x1e6,
       |    CAST(COALESCE(i.idcg_x1e6, 0) AS BIGINT) AS idcg_x1e6
       |  FROM pr LEFT JOIN dcg d ON d.query_id = pr.query_id
       |  LEFT JOIN idcg i ON i.query_id = pr.query_id),
       |u AS (
       |  SELECT query_id, dcg_x1e6, idcg_x1e6 FROM per
       |  UNION ALL
       |  SELECT CAST(-1 AS BIGINT), CAST(SUM(dcg_x1e6) AS BIGINT),
       |    CAST(SUM(idcg_x1e6) AS BIGINT)
       |  FROM per)
       |SELECT query_id, dcg_x1e6, idcg_x1e6,
       |  CAST(dcg_x1e6 AS DOUBLE) / idcg_x1e6 AS ndcg
       |FROM u ORDER BY query_id""".stripMargin
  }

  // ---- q223: serving-time near-dup suppression ----------------------------

  /** Suppression threshold on the int8 dot: ≈ cosine 0.60 · 127². */
  final val SuppressDotMin = 9677L

  /** q223 — near-dup suppression over the q155 fused shortlist: a
    * result is DROPPED when its int8 dot with any HIGHER-base-ranked
    * result reaches [[SuppressDotMin]], and survivors re-rank densely —
    * the serving-time dedup every RAG stack runs so the context window
    * is not spent on five copies of the same passage (q60 dedups the
    * CORPUS at build time; this dedups the ANSWER at serve time).
    *
    * The rule is deliberately the RELATIONAL one — suppressed-by-any-
    * higher-ranked, not the sequential survivor-chained MMR — so the
    * whole operator is one k² self-join plus an anti-join, no iterative
    * state. Results without an embedding can neither suppress nor be
    * suppressed (they carry no vector to compare) and always survive.
    *
    * Scale shape: the shortlist is O(Q·k); the pair join is O(Q·k²)
    * with k = [[FuseK]] — serving-cost, corpus-independent; vectors
    * re-attach by id (the q49 ship-ids-not-payloads discipline) and
    * the rerank window runs over ≤ k rows per query. */
  /** The fused shortlist with its int8 vectors attached — O(Q·k) rows,
    * memoized like [[fusedList]] itself so a SERVE never re-runs the
    * corpus-wide quantization projection: without this, every
    * serveSuppress call would pay one full embeddings pass just to
    * re-attach ≤ Q·k vectors by id, making per-serve cost scale with
    * the corpus and contradicting the operator's corpus-independent
    * contract. The one quantization pass happens at first build,
    * amortized exactly like the shortlist. */
  private val fusedVecCache = new graft.ops.SessionMemo[DataFrame]
  private def fusedListWithVecs(s: SparkSession, dir: String): DataFrame =
    fusedVecCache.getOrBuild(s, dir) {
      attachVecs(fusedList(s, dir),
        Similarity.quantizedVectors(Tables.embeddings(s, dir)))
        .localCheckpoint()
    }

  private def attachVecs(sl: DataFrame, quant: DataFrame): DataFrame =
    sl.join(quant.select(col("vec_id").as("doc_id"), col("q")),
      Seq("doc_id"))

  def serveSuppress(s: SparkSession, dir: String): DataFrame =
    // rides the q174/q194 session memo: the fused shortlist (with its
    // vectors attached) is built once per (session, dir) and every
    // serve reads the checkpointed O(Q·k) relations
    serveSuppressAttached(fusedList(s, dir), fusedListWithVecs(s, dir))

  /** [[serveSuppress]] over any (query_id, rnk, doc_id) shortlist and
    * (vec_id, q) quantized relation — the spec plants forced near-dups
    * through this. */
  private[graft] def serveSuppressOf(sl: DataFrame,
      quant: DataFrame): DataFrame =
    serveSuppressAttached(sl, attachVecs(sl, quant))

  /** Core suppression: `sl` is the FULL shortlist (rows without an
    * embedding included — they can neither suppress nor be suppressed
    * and always survive), `svIn` the vector-attached subset feeding the
    * pair join. */
  private def serveSuppressAttached(sl: DataFrame,
      svIn: DataFrame): DataFrame = {
    val sv = svIn
      .localCheckpoint(eager = false) // both sides of the pair join
    val hi = sv.select(col("query_id"), col("rnk").as("hi_rnk"),
      col("q").as("hi_q"))
    val suppressed = sv.join(hi, Seq("query_id"))
      .filter(col("hi_rnk") < col("rnk"))
      .filter(graft.functions.VectorFunctions
        .int_dot(col("q"), col("hi_q")) >= SuppressDotMin)
      .select(col("query_id"), col("doc_id")).distinct()
    sl.join(suppressed, Seq("query_id", "doc_id"), "left_anti")
      .withColumn("new_rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("rnk")))
        .cast("long"))
      .select(col("query_id"), col("new_rnk"), col("doc_id"),
        col("rnk").as("base_rnk"))
      .orderBy(col("query_id"), col("new_rnk"))
  }

  /** DuckDB spelling: the q155 chain's `fr` shortlist and `vq`
    * quantized vectors, the same pair join and NOT EXISTS. */
  val serveSuppressSql: String =
    s"""WITH $hybridChainCtes,
       |sl AS (SELECT query_id, rnk, doc_id FROM fr WHERE rnk <= $FuseK),
       |sv AS (
       |  SELECT s.query_id, s.rnk, s.doc_id, v.q
       |  FROM sl s JOIN vq v ON v.vec_id = s.doc_id),
       |sup AS (
       |  SELECT DISTINCT lo.query_id, lo.doc_id
       |  FROM sv lo JOIN sv hi
       |    ON hi.query_id = lo.query_id AND hi.rnk < lo.rnk
       |  WHERE CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, 65), dd -> lo.q[dd] * hi.q[dd])),
       |      (x, y) -> x + y) AS BIGINT) >= $SuppressDotMin)
       |SELECT s.query_id,
       |  CAST(row_number() OVER (PARTITION BY s.query_id ORDER BY s.rnk)
       |    AS BIGINT) AS new_rnk,
       |  s.doc_id, s.rnk AS base_rnk
       |FROM sl s
       |WHERE NOT EXISTS (SELECT 1 FROM sup
       |  WHERE sup.query_id = s.query_id AND sup.doc_id = s.doc_id)
       |ORDER BY s.query_id, new_rnk""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q194_ndcg_audit" -> (ndcgAudit _),
    "q174_mrr_audit" -> (mrrAudit _),
    "q170_context_pack" -> (contextPack _),
    "q155_hybrid_rrf" -> (hybridRrf _),
    "q158_hybrid_lsh_serve" -> (hybridLshServe _),
    "q223_serve_suppress" -> (serveSuppress _))

  val oracles: Map[String, String] = Map(
    "q194_ndcg_audit" -> ndcgAuditSql,
    "q174_mrr_audit" -> mrrAuditSql,
    "q170_context_pack" -> contextPackSql,
    "q155_hybrid_rrf" -> hybridRrfSql,
    "q158_hybrid_lsh_serve" -> hybridLshServeSql,
    "q223_serve_suppress" -> serveSuppressSql)
}
