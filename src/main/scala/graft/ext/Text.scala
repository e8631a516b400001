package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Text-analysis operators over the `documents` table — north-star
  * extension (SURVEY.md §7.4; no counterpart in the reference).
  *
  * Design rules for 100 TB:
  *  - tokenization happens inside codegen'd built-ins (`split`, `size`,
  *    `filter`, `transform`) — no Scala UDFs in the hot path;
  *  - per-group ratios aggregate exact integer counts first and divide
  *    once at the end (deterministic double division), never summing
  *    per-row doubles (order-dependent);
  *  - explode-based term frequency shuffles (word, 1) pairs — partial
  *    aggregation collapses them map-side before the exchange.
  */
object Text {

  private def tokens(c: Column): Column = split(c, " ")

  /** q19 — per-language token statistics. */
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), size(tokens(col("text"))).cast("long").as("n_tok"),
        col("n_chars"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        (sum(col("n_tok")).cast("double") / count(lit(1))).as("avg_tokens"),
        (sum(col("n_chars")).cast("double") / sum(col("n_tok")))
          .as("chars_per_token"))
      .orderBy(col("lang"))

  val tokenStatsSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |  CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*)
      |    AS avg_tokens,
      |  CAST(sum(n_chars) AS DOUBLE) / sum(len(string_split(text, ' ')))
      |    AS chars_per_token
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** q230 — per-source unigram-distribution divergence from the corpus:
    * exact total-variation distance TVD(Pₛ, P) = ½ Σ_t |Pₛ(t) − P(t)|
    * between each source's token distribution and the corpus-wide one —
    * the distribution-shift audit a mixture pipeline runs per source
    * (which shard is driving vocabulary drift; which source is
    * stylistically furthest from the blend it feeds). TVD instead of
    * KL/JS is deliberate (the q52 log-free rule): with Pₛ(t) = c_t/Nₛ
    * and P(t) = C_t/N, every |c_t·N − C_t·Nₛ| term is EXACT integer
    * arithmetic (decimal(38,0) — products bounded by Nₛ·N < 10³⁸ far
    * past 100 TB), summed exactly and divided ONCE at the end, so the
    * oracle compares value-exactly where ln() would be flaky at ties.
    * Tokens absent from a source contribute Σ_t∉s C_t·Nₛ = (N − Σ_t∈s C_t)·Nₛ
    * — closed form from the same per-source aggregate, so the plan never
    * builds the (source × vocabulary) dense matrix.
    *
    * Scale shape: one explode scan → (source, token) counts (partial
    * agg collapses map-side), token-level corpus counts joined back on
    * the token key (both sides partial-aggregated; no broadcast of the
    * vocabulary), the 1-row corpus total broadcast via crossJoin, and a
    * ≤|sources|-group final aggregate. No window, no driver loop. */
  def sourceDivergence(s: SparkSession, dir: String): DataFrame =
    sourceDivergenceOf(Tables.documents(s, dir))

  def sourceDivergenceOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("c"))
    val cw = toks.groupBy(col("word")).agg(sum(col("c")).as("cw"))
    val srcTot = toks.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val tot = srcTot.agg(sum(col("ns")).as("n"))
    val dec = (c: Column) => c.cast("decimal(19,0)")
    toks.join(cw, Seq("word"))
      .join(srcTot, Seq("source"))
      .crossJoin(broadcast(tot))
      .groupBy(col("source"))
      .agg(
        min(col("ns")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(abs(dec(col("c")) * dec(col("n")) -
          dec(col("cw")) * dec(col("ns")))).as("s1"),
        sum(col("cw")).as("sum_cw"),
        min(col("n")).as("n"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        ((col("s1") +
          dec(col("n_tokens")) * dec(col("n") - col("sum_cw"))).cast("double")
          / (lit(2.0) * col("n_tokens").cast("double")
             * col("n").cast("double"))).as("tvd"))
      .orderBy(col("source"))
  }

  /** DuckDB spelling of [[sourceDivergence]]: identical closed form in
    * HUGEINT (exact like decimal(38,0)), one final double division. */
  val sourceDivergenceSql: String =
    """WITH toks AS (
      |  SELECT source, word, count(*) AS c FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS word
      |    FROM documents)
      |  GROUP BY source, word),
      |cw AS (SELECT word, sum(c) AS cw FROM toks GROUP BY word),
      |st AS (SELECT source, sum(c) AS ns FROM toks GROUP BY source),
      |tot AS (SELECT sum(ns) AS n FROM st),
      |agg AS (
      |  SELECT t.source,
      |    min(s.ns) AS n_tokens,
      |    count(*) AS n_types,
      |    sum(abs(CAST(t.c AS HUGEINT) * CAST(tot.n AS HUGEINT) -
      |            CAST(c2.cw AS HUGEINT) * CAST(s.ns AS HUGEINT))) AS s1,
      |    sum(c2.cw) AS sum_cw,
      |    min(tot.n) AS n
      |  FROM toks t
      |  JOIN cw c2 ON c2.word = t.word
      |  JOIN st s ON s.source = t.source
      |  CROSS JOIN tot
      |  GROUP BY t.source)
      |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(n_types AS BIGINT) AS n_types,
      |  CAST(s1 + CAST(n_tokens AS HUGEINT) *
      |         (CAST(n AS HUGEINT) - CAST(sum_cw AS HUGEINT)) AS DOUBLE)
      |    / (2.0 * CAST(n_tokens AS DOUBLE) * CAST(n AS DOUBLE)) AS tvd
      |FROM agg
      |ORDER BY source""".stripMargin

  /** q20 — global term frequency via explode: top-20 words. */
  def termFrequency(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(20)

  val termFrequencySql: String =
    """SELECT word, count(*) AS freq
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |GROUP BY word
      |ORDER BY freq DESC, word
      |LIMIT 20""".stripMargin

  /** q21 — per-source quality scoring: stopword ratio, type-token ratio,
    * mean token length; flag count of low-quality docs
    * (short or stopword-heavy). Integer counts aggregated exactly, one
    * double division at the end. */
  def qualityStats(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val stop = filter(toks, t => t.isin("the", "a"))
    val docs = Tables.documents(s, dir).select(
      col("source"),
      size(toks).cast("long").as("n_tok"),
      size(stop).cast("long").as("n_stop"),
      size(array_distinct(toks)).cast("long").as("n_distinct"))
    docs.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("n_stop")).cast("double") / sum(col("n_tok")))
          .as("stopword_ratio"),
        (sum(col("n_distinct")).cast("double") / sum(col("n_tok")))
          .as("type_token_ratio"),
        sum(when(col("n_tok") < 20 ||
          col("n_stop") * 4 > col("n_tok"), 1L).otherwise(0L))
          .as("n_low_quality"))
      .orderBy(col("source"))
  }

  val qualityStatsSql: String =
    """WITH d AS (
      |  SELECT source,
      |    len(string_split(text, ' ')) AS n_tok,
      |    len(list_filter(string_split(text, ' '),
      |        t -> t IN ('the', 'a'))) AS n_stop,
      |    len(list_distinct(string_split(text, ' '))) AS n_distinct
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_stop) AS DOUBLE) / sum(n_tok) AS stopword_ratio,
      |  CAST(sum(n_distinct) AS DOUBLE) / sum(n_tok) AS type_token_ratio,
      |  CAST(sum(CASE WHEN n_tok < 20 OR n_stop * 4 > n_tok
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality
      |FROM d
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---- q186: content-defined chunking (CDC) passage dedup -----------------

  /** q186 — content-defined chunking + passage-level dedup: whole-doc
    * dedup (q22/q57) misses a duplicated PARAGRAPH inside otherwise-
    * distinct documents, and fixed-size chunking (q76) breaks on any
    * insertion — one shifted token re-frames every downstream chunk.
    * Content-defined chunking (the rsync/LBFS boundary rule, and the
    * passage-dedup shape production corpora use) cuts where a hash of
    * the CONTENT says to cut — here a token whose md5 bucket mod 8 is 0
    * starts a new chunk (expected chunk ≈ 8 tokens) — so an edit
    * re-syncs within one chunk and identical passages fingerprint
    * identically wherever they sit. Per source: total chunks, chunks
    * whose fingerprint appears in ≥2 DISTINCT docs, and the duplicated
    * token mass — the passage-level dup rate q114's in-doc spans and
    * q22's whole-doc hash both miss.
    *
    * Scale shape: the chunker is one in-row kernel
    * ([[org.apache.spark.sql.graft.CdcChunks]]: one md5 per token, one per
    * chunk) and one explode of its chunks, with no exchange and no
    * checkpoint (a chunk never crosses a document); only 16-byte
    * fingerprints shuffle, once, for the one-window dup flag of
    * [[cdcReportOf]], and the per-source rollup exchanges #sources
    * groups. */
  /** The CDC chunk relation (doc_id, source, cid, n_tok, fp) of a
    * document set — per-doc, so a streaming drop chunks independently
    * of everything already indexed ([[graft.streaming.DocStreams
    * .maintainChunkIndex]] relies on exactly that). Boundary rule:
    * md5 bucket mod 8 (see [[org.apache.spark.sql.graft.CdcChunks]]). */
  private[graft] def chunkRelationOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.{CdcChunks, Shim}
    val chunks = Shim.column(CdcChunks(Shim.expression(tokens(col("text"))), 8L))
    docs.select(col("doc_id"), col("source"), explode(chunks).as("c"))
      .select(col("doc_id"), col("source"), col("c.cid").as("cid"),
        col("c.n_tok").as("n_tok"), col("c.fp").as("fp"))
  }

  /** The per-source passage-dup report over a chunk relation — split
    * from [[cdcChunks]] so the streaming maintainer serves the SAME
    * report from its carried state. One pass: `doc_id` is never null, so a
    * chunk is a dup exactly when min ≠ max `doc_id` over its fp — one window
    * exchange, not a distinct, count and join back. A hot fp's rows meet in
    * one window task, which buffers and spills them (q188's [[DfCap]] keys). */
  private[graft] def cdcReportOf(chunks: DataFrame): DataFrame = {
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    chunks.withColumn("dup",
        min(col("doc_id")).over(byFp) =!= max(col("doc_id")).over(byFp))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("dup"), col("n_tok")).otherwise(0L))
          .as("dup_token_mass"))
      .orderBy(col("source"))
  }

  def cdcChunks(s: SparkSession, dir: String): DataFrame =
    cdcReportOf(chunkRelationOf(Tables.documents(s, dir)))

  // ---- q188: passage-level source-overlap matrix --------------------------

  /** q188 — source-overlap matrix at PASSAGE granularity: q107 counts
    * whole-doc near-dup pairs between sources; this counts shared CDC
    * chunks (q186's fingerprints) — the finer instrument that catches
    * one source embedding another's paragraphs inside otherwise-original
    * documents (syndication, quotation, template reuse). Per unordered
    * source pair: the number of DISTINCT chunk fingerprints present in
    * both. Corpus-hot fingerprints (> [[DfCap]] docs — boilerplate
    * passages like license headers) are excluded by the q51 df-cap
    * discipline BEFORE the self-join: they are not overlap signal, and
    * they are exactly the keys whose fan-out would blow the join up at
    * scale; the cap is mirrored in the oracle so the check stays
    * value-exact. Chunks under 4 tokens are dropped too (q114's
    * minimum-span rule): a 1–2-token chunk matches by vocabulary
    * chance, not by shared passage.
    *
    * Scale shape: one chunker pass; (fp, source) distinct; the overlap
    * join is an equi-join on the 16-byte fingerprint whose per-key
    * fan-in is ≤ min(DfCap, #sources) after the cap; the matrix rollup
    * exchanges ≤ #sources² groups. */
  def sourceChunkMatrix(s: SparkSession, dir: String): DataFrame = {
    val ch = chunkRelationOf(Tables.documents(s, dir))
      .localCheckpoint(eager = false)
    val hot = ch.select(col("fp"), col("doc_id")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > DfCap).select(col("fp"))
    val fs = ch.filter(col("n_tok") >= 4)
      .select(col("fp"), col("source")).distinct()
      .join(broadcast(hot), Seq("fp"), "left_anti")
    fs.as("a").join(fs.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_chunks"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** DuckDB spelling: same chunker, same df cap, same triangle. */
  val sourceChunkMatrixSql: String =
    s"""WITH w AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS ts
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, source, s['p'] AS pos, s['w'] AS wd FROM (
      |    SELECT doc_id, source, unnest(list_transform(
      |      range(1, len(ts) + 1), i -> {'p': i, 'w': ts[i]})) AS s
      |    FROM w) t),
      |cidt AS (
      |  SELECT doc_id, source, pos, wd,
      |    sum(CASE WHEN ('0x' || substr(md5(wd), 1, 8))::BIGINT % 8 = 0
      |      THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos) AS cid
      |  FROM tok),
      |ch AS (
      |  SELECT doc_id, source, cid, count(*) AS n_tok,
      |    md5(string_agg(wd, ' ' ORDER BY pos)) AS fp
      |  FROM cidt GROUP BY 1, 2, 3),
      |hot AS (
      |  SELECT fp FROM (
      |    SELECT fp, count(*) AS nd FROM (
      |      SELECT DISTINCT fp, doc_id FROM ch) GROUP BY fp)
      |  WHERE nd > $DfCap),
      |fs AS (
      |  SELECT DISTINCT fp, source FROM ch
      |  WHERE n_tok >= 4 AND fp NOT IN (SELECT fp FROM hot))
      |SELECT a.source AS source_a, b.source AS source_b,
      |  count(*) AS n_shared_chunks
      |FROM fs a JOIN fs b ON b.fp = a.fp AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** DuckDB spelling: same boundary rule, same in-order chunk digest. */
  val cdcChunksSql: String =
    """WITH w AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS ts
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, source, s['p'] AS pos, s['w'] AS wd FROM (
      |    SELECT doc_id, source, unnest(list_transform(
      |      range(1, len(ts) + 1), i -> {'p': i, 'w': ts[i]})) AS s
      |    FROM w) t),
      |cidt AS (
      |  SELECT doc_id, source, pos, wd,
      |    sum(CASE WHEN ('0x' || substr(md5(wd), 1, 8))::BIGINT % 8 = 0
      |      THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos) AS cid
      |  FROM tok),
      |ch AS (
      |  SELECT doc_id, source, cid, count(*) AS n_tok,
      |    md5(string_agg(wd, ' ' ORDER BY pos)) AS fp
      |  FROM cidt GROUP BY 1, 2, 3),
      |dupfp AS (
      |  SELECT fp FROM (
      |    SELECT fp, count(*) AS nd FROM (
      |      SELECT DISTINCT fp, doc_id FROM ch) GROUP BY fp)
      |  WHERE nd >= 2)
      |SELECT source, count(*) AS n_chunks,
      |  CAST(SUM(CASE WHEN d.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_chunks,
      |  CAST(SUM(CASE WHEN d.fp IS NOT NULL THEN n_tok ELSE 0 END)
      |    AS BIGINT) AS dup_token_mass
      |FROM ch LEFT JOIN dupfp d ON d.fp = ch.fp
      |GROUP BY source ORDER BY source""".stripMargin

  // ---- q181: doc-boundary stitch detection --------------------------------

  /** q181 — document-boundary stitch audit: when a crawl splits one page
    * into consecutive records (or a packer concatenates records), doc
    * A's last tokens reappear verbatim as doc B's first tokens — an
    * artifact neither whole-doc dedup (q22/q57: the docs are NOT
    * near-duplicates of each other) nor in-doc span dedup (q114: the
    * overlap spans two rows) can see. For each overlap width k ∈ {2,3,4}
    * this joins the corpus's SUFFIX k-gram keys against its PREFIX
    * k-gram keys and reports the ordered (tail, head) pair count plus
    * how many distinct docs appear on each side. Keys are md5 of the
    * space-joined k-gram — the production join key at 100 TB is this
    * fixed-width digest, never the raw text. The k lattice is a
    * CONSTANT probe relation LEFT-JOINed to the match counts, so a
    * width with zero stitches stays visible as a zero row (q176's
    * zero-lane discipline) instead of vanishing from the output.
    *
    * Scale shape: suffix/prefix keys are in-row (one explode ×|k| on
    * per-doc rows, not tokens); the stitch join is an equi-join on
    * (k, digest) whose per-key fan-in is df-bounded like any posting
    * join; the rollup exchanges 3 groups. The distinct-doc counts ride
    * the same 3-group aggregate. */
  def boundaryStitch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        explode(array(lit(2), lit(3), lit(4))).as("k"))
      .filter(size(col("w")) >= col("k"))
    val suf = w.select(col("k"), col("doc_id").as("a_id"),
      md5(concat_ws(" ", slice(col("w"), lit(-1) * col("k"), col("k"))))
        .as("h"))
    val pre = w.select(col("k"), col("doc_id").as("b_id"),
      md5(concat_ws(" ", slice(col("w"), lit(1), col("k")))).as("h"))
    // two-phase distincts, never two countDistinct mixed into one
    // aggregate: that plans an Expand (×3 row multiplication of the
    // stitch-join output before the exchange) — the exact anti-pattern
    // the q36/q64 rule locks out elsewhere. The join output
    // materializes once and feeds three single-purpose rollups.
    val m0 = suf.join(pre, Seq("k", "h"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("k"), col("a_id"), col("b_id"))
      .localCheckpoint(eager = false)
    val pairs = m0.groupBy(col("k")).agg(count(lit(1)).as("n_pairs"))
    val tails = m0.select(col("k"), col("a_id")).distinct()
      .groupBy(col("k")).agg(count(lit(1)).as("n_tail_docs"))
    val heads = m0.select(col("k"), col("b_id")).distinct()
      .groupBy(col("k")).agg(count(lit(1)).as("n_head_docs"))
    val m = pairs.join(tails, Seq("k")).join(heads, Seq("k"))
    Seq(2, 3, 4).toDF("k")
      .join(m, Seq("k"), "left")
      .select(col("k").cast("long").as("k"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_tail_docs"), lit(0L)).as("n_tail_docs"),
        coalesce(col("n_head_docs"), lit(0L)).as("n_head_docs"))
      .orderBy(col("k"))
  }

  /** DuckDB spelling: same md5(k-gram) keys, same zero-lane LEFT JOIN. */
  val boundaryStitchSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |ks AS (SELECT unnest([2, 3, 4]) AS k),
      |wk AS (
      |  SELECT doc_id, w, k FROM w CROSS JOIN ks WHERE len(w) >= k),
      |suf AS (
      |  SELECT k, doc_id AS a_id,
      |    md5(array_to_string(w[len(w)-k+1:len(w)], ' ')) AS h
      |  FROM wk),
      |pre AS (
      |  SELECT k, doc_id AS b_id,
      |    md5(array_to_string(w[1:k], ' ')) AS h
      |  FROM wk),
      |m AS (
      |  SELECT s.k, count(*) AS n_pairs,
      |    count(DISTINCT a_id) AS n_tail_docs,
      |    count(DISTINCT b_id) AS n_head_docs
      |  FROM suf s JOIN pre p ON p.k = s.k AND p.h = s.h
      |    AND p.b_id <> s.a_id
      |  GROUP BY s.k)
      |SELECT CAST(ks.k AS BIGINT) AS k,
      |  coalesce(n_pairs, 0) AS n_pairs,
      |  coalesce(n_tail_docs, 0) AS n_tail_docs,
      |  coalesce(n_head_docs, 0) AS n_head_docs
      |FROM ks LEFT JOIN m ON m.k = ks.k
      |ORDER BY k""".stripMargin

  // ---- q180: per-source ADAPTIVE quality gate -----------------------------

  /** q180 — per-source adaptive quality gating: q21/q55 gate documents
    * against GLOBAL constants, but corpora are heterogeneous — a
    * threshold tuned on web text over-drops code or chat sources, so
    * production curation (CCNet's per-language perplexity buckets,
    * Gopher's per-source tuning) gates each source against its OWN
    * distribution. The per-doc score is the integer lexical-diversity
    * micro-ratio (1000·n_distinct) div n_tok (repetitive docs score
    * low); the gate is the source's exact MEDIAN score (integer inputs,
    * so the 0.5-interpolation is exact in IEEE double — q27's rule);
    * a doc is flagged when score < own-source median. Output per
    * source: docs, the median, flagged count, and the flagged share
    * (ONE terminal division).
    *
    * Scale shape: scores are in-row; the per-source exact median is one
    * group exchange (the honest q148-style price of an exact order
    * statistic — q165's sketch is the approximate alternative at
    * extreme cardinality); the medians relation is #sources rows, so
    * the gate join BROADCASTS it and the corpus is never re-shuffled. */
  def adaptiveGate(s: SparkSession, dir: String): DataFrame = {
    val scores = Tables.documents(s, dir).select(
      col("source"),
      expr("bigint(size(array_distinct(split(text, ' '))) * 1000L) div " +
        "bigint(size(split(text, ' ')))").as("score"))
      .localCheckpoint(eager = false)
    val medians = scores.groupBy(col("source"))
      .agg(percentile(col("score"), lit(0.5)).as("median_score"))
    scores.join(broadcast(medians), Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        first(col("median_score")).as("median_score"),
        sum(when(col("score").cast("double") < col("median_score"), 1L)
          .otherwise(0L)).as("n_flagged"))
      .select(col("source"), col("n_docs"), col("median_score"),
        col("n_flagged"),
        (col("n_flagged").cast("double") / col("n_docs").cast("double"))
          .as("flagged_share"))
      .orderBy(col("source"))
  }

  /** DuckDB spelling: same integer score, quantile_cont median, same
    * strict-below gate. */
  val adaptiveGateSql: String =
    """WITH sc AS (
      |  SELECT source,
      |    CAST(len(list_distinct(string_split(text, ' '))) * 1000
      |      // len(string_split(text, ' ')) AS BIGINT) AS score
      |  FROM documents),
      |med AS (
      |  SELECT source, quantile_cont(score, 0.5) AS median_score
      |  FROM sc GROUP BY source)
      |SELECT sc.source, count(*) AS n_docs,
      |  any_value(med.median_score) AS median_score,
      |  CAST(SUM(CASE WHEN CAST(score AS DOUBLE) < med.median_score
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |  CAST(SUM(CASE WHEN CAST(score AS DOUBLE) < med.median_score
      |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS flagged_share
      |FROM sc JOIN med ON med.source = sc.source
      |GROUP BY sc.source ORDER BY sc.source""".stripMargin

  /** q22 — content fingerprinting + exact dedup: md5 fingerprint per doc,
    * keep the lowest doc_id per fingerprint, report group size.
    * (Both engines produce identical md5 hex.) At scale this is the
    * standard exact-dedup: one shuffle on the 128-bit fingerprint, never
    * on the document text itself. */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_copies"))
      .orderBy(col("keep_doc_id"))

  val exactDedupSql: String =
    """SELECT md5(text) AS fp, min(doc_id) AS keep_doc_id,
      |  count(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY keep_doc_id""".stripMargin

  /** Word n-grams of a words-array column as an array column (one
    * space-joined string per position; NOT distinct). Takes the ARRAY
    * column, not text: referencing split() inside the lambda would
    * re-split the string per element (O(L²)/doc). Round 16: backed by
    * the fused [[org.apache.spark.sql.graft.WordNGrams]] expression —
    * value-identical to the previous transform(sequence)+element_at
    * lambda (TextSpec asserts it), minus the per-element interpreted
    * expression-tree overhead. */
  private[graft] def ngramsCol(w: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.{Shim, WordNGrams}
    Shim.column(WordNGrams(Shim.expression(w), n))
  }

  /** Distinct (doc_id, shingle) inverted index — the q23 near-dup core
    * (shingle → inverted index → self-join on shingle → Jaccard from
    * exact int counts; self-join cost is Σdf², not N²) — materialized
    * ONCE via a lazy localCheckpoint: the shingle relation feeds three
    * consumers (two join sides + per-doc counts); without materialization
    * Spark recomputes the explode 3×. localCheckpoint, not cache():
    * cache registers the plan in the session CacheManager and nothing in
    * a lazy query API can unpersist it after the (caller-side) action,
    * so a session running q23+q51+q57 accumulates pinned copies of the
    * index. Checkpoint blocks are scoped to the query's RDD instead and
    * are GC-cleaned by the ContextCleaner once the consuming DataFrame
    * is dropped — the cache lifecycle follows the caller automatically. */
  private[graft] def ngramIndexOf(docs: DataFrame, n: Int): DataFrame =
    graft.ops.Par.fan(docs)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      // barrier BEFORE the n-gram lambda: CollapseProject otherwise
      // inlines split() into every element_at of the transform — an
      // O(L²) re-split per element (measured ~8× on this stage at sf0.1)
      .localCheckpoint(eager = false)
      .filter(size(col("w")) >= n)
      .select(col("doc_id"),
        explode(array_distinct(ngramsCol(col("w"), n))).as("shingle"))
      .localCheckpoint(eager = false)

  private[graft] def shingleIndexOf(docs: DataFrame): DataFrame =
    ngramIndexOf(docs, 3)

  /** The shared intersection core of the Jaccard (q23/q51) and
    * containment (q229) families: for every a<b candidate of an
    * inverted index, (a_id, b_id, n_inter, a_sh, b_sh) — self-join on
    * shingle, partial-aggregated intersection counts, per-side set
    * sizes joined back BY ID. One definition so the two score families
    * cannot drift in candidate generation. */
  private def intersectionsOf(sh: DataFrame): DataFrame = {
    val cnt = sh.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("doc_id").as("a_id"), col("shingle"))
    val b = sh.select(col("doc_id").as("b_id"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_inter"))
      .join(cnt.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n_sh", "a_sh"), Seq("a_id"))
      .join(cnt.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n_sh", "b_sh"), Seq("b_id"))
  }

  /** df-capped index: HOT shingles (df > cap) removed via broadcast
    * anti-join — the hot set is tiny by construction (heavy-hitters),
    * so the full index never reshuffles (unlike an inner join against
    * the rare set, which is nearly the whole vocabulary). The ONE place
    * the cap discipline lives; q51 and q229 both build on it. */
  private[graft] def cappedShingleIndexOf(docs: DataFrame,
      cap: Int): DataFrame = {
    val sh0 = shingleIndexOf(docs)
    val hot = sh0.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .select(col("shingle"))
    sh0.join(broadcast(hot), Seq("shingle"), "left_anti")
  }

  /** Jaccard pairs ≥ minJ from an inverted index: self-join on shingle →
    * intersection counts → Jaccard from exact int counts. */
  private def jaccardFromIndex(sh: DataFrame, minJ: Double): DataFrame =
    intersectionsOf(sh)
      .select(col("a_id"), col("b_id"),
        (col("n_inter").cast("double") /
          (col("a_sh") + col("b_sh") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= minJ)
      .orderBy(col("a_id"), col("b_id"))

  def ngramJaccardOf(docs: DataFrame, minJ: Double): DataFrame =
    jaccardFromIndex(shingleIndexOf(docs), minJ)

  /** Candidate pairs above which [[ngramJaccard]] refuses to run raw.
    * 2³¹ pairs ≈ the point where the uncapped Σdf² self-join stops being
    * an affordable exactness baseline on any single cluster. */
  val UncappedPairBound: Long = 1L << 31

  /** Σ df·(df−1)/2 over the shingle index — q104's prediction as a
    * pre-flight scalar: the EXACT number of candidate pairs the uncapped
    * self-join would generate, computed by one partial-aggregated scan
    * before any quadratic work. Summed in decimal(38,0) and returned as
    * BigInt: int64 arithmetic would wrap at exactly the corpus sizes the
    * guard exists to refuse (df·(df−1) overflows past df ≈ 3e9, and a
    * silently wrapped NEGATIVE prediction would wave the quadratic join
    * through). A null sum over a non-empty index means even the decimal
    * overflowed — treated as "refuse", never as zero. */
  private[graft] def predictedCandidatePairs(docs: DataFrame): BigInt =
    predictedFromIndex(shingleIndexOf(docs))

  /** [[predictedCandidatePairs]] over a PREBUILT index, so the guarded
    * q23 path can share one materialized index between the pre-flight
    * prediction and the Jaccard join instead of building (and fully
    * re-exploding) it twice. */
  private def predictedFromIndex(sh: DataFrame): BigInt = {
    val r = sh
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .agg(sum(col("df").cast("decimal(38,0)") * (col("df") - lit(1)))
          .as("p"),
        count(lit(1)).as("n_shingles")).head()
    if (r.getLong(1) == 0) BigInt(0)
    else if (r.isNullAt(0)) BigInt(10).pow(40) // decimal overflow: refuse
    else BigInt(r.getDecimal(0).toBigInteger) / 2
  }

  /** q23 — UNCAPPED n-gram Jaccard: the exactness BASELINE
    * ([[SparkEntry.baselines]]) beside the production twins q51
    * (df-capped) and q98 (prefix-filtered exact). Its Σdf² self-join is
    * unbounded on a corpus with a hot shingle, so it GUARDS itself: the
    * q104 candidate-pair prediction runs first (one cheap aggregated
    * scan) and the query refuses to start the quadratic stage past
    * [[UncappedPairBound]], naming the twins to use instead. At test
    * scale the prediction is ~10⁴, so the oracle path never trips. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramJaccardGuardedOf(Tables.documents(s, dir), 0.12, UncappedPairBound)

  /** [[ngramJaccard]] with an explicit bound, so the spec can force the
    * refusal on a small corpus. */
  def ngramJaccardGuardedOf(docs: DataFrame, minJ: Double,
      bound: Long): DataFrame = {
    // ONE index for the guard and the join: the lazy localCheckpoint in
    // ngramIndexOf materializes on the prediction's action and the
    // Jaccard pass reads the same blocks — previously each built its
    // own index, paying the tokenize + explode + distinct pass twice
    val sh = shingleIndexOf(docs)
    val predicted = predictedFromIndex(sh)
    if (predicted > bound) throw new IllegalStateException(
      s"uncapped n-gram Jaccard (q23) would generate $predicted candidate " +
        s"pairs (> $bound): this query is an exactness baseline — use the " +
        "df-capped path (q51/ngramJaccardCapped) or the prefix-filtered " +
        "exact join (q98/prefixFilterJoin) at this scale")
    jaccardFromIndex(sh, minJ)
  }

  /** df-cap applied to [[ngramJaccard]]'s inverted index. Compile-time
    * constant (final + literal): read cross-module during object init. */
  final val DfCap = 20

  /** q51 — df-capped n-gram Jaccard: shingles occurring in more than
    * [[DfCap]] documents are dropped from the index BEFORE the self-join
    * (treated as corpus stopwords). This bounds the self-join cost at
    * Σ_rare df² ≤ cap·|index| instead of the unbounded Σ df² — the scale
    * remedy for a hot shingle at 100 TB (SCALE.md). Jaccard is computed
    * over the capped shingle sets on both sides of the ratio, so results
    * equal [[ngramJaccard]] exactly wherever the cap doesn't bind
    * (TextSpec proves both directions). The cap is implemented identically
    * in the oracle SQL, so the check stays value-exact even where it does
    * bind. */
  def ngramJaccardCappedOf(docs: DataFrame, cap: Int, minJ: Double): DataFrame =
    jaccardFromIndex(cappedShingleIndexOf(docs, cap), minJ)

  def ngramJaccardCapped(s: SparkSession, dir: String): DataFrame =
    ngramJaccardCappedOf(Tables.documents(s, dir), DfCap, 0.12)

  val ngramJaccardSql: String =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
      |        i -> string_split(text,' ')[i] || ' ' ||
      |             string_split(text,' ')[i+1] || ' ' ||
      |             string_split(text,' ')[i+2])) AS shingle
      |    FROM documents
      |    WHERE len(string_split(text,' ')) >= 3)),
      |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT a_id, b_id,
      |  CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) AS jaccard
      |FROM inter
      |JOIN cnt ca ON ca.doc_id = a_id
      |JOIN cnt cb ON cb.doc_id = b_id
      |WHERE CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) >= 0.12
      |ORDER BY a_id, b_id""".stripMargin

  /** q43 — BPE-ish regex token counting: subword-flavored segmentation
    * (letter runs, digit runs, single punctuation — the GPT-2 pre-tokenizer
    * shape) via regexp_extract_all. Same RE2-compatible pattern runs in
    * both engines. */
  def regexTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("n_tok"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_subword_tokens"),
        max(col("n_tok")).as("max_subword_tokens"))
      .orderBy(col("lang"))

  val regexTokensSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
      |    AS total_subword_tokens,
      |  CAST(max(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
      |    AS max_subword_tokens
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** q46 — document fingerprints: the custom codegen rolling-hash
    * expression plus the engine-portable SimHash. BOTH are oracle-exact:
    * DuckDB recomputes the base-31 mod 2^58-27 rolling hash with HUGEINT
    * arithmetic and the SimHash from the same md5 token hashes — a
    * value-level cross-engine check of the custom Expression's codegen.
    * (The Spark-native FNV simhash64 stays the cheap production
    * fingerprint, spec-verified in DedupSpec.) */
  def fingerprints(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{portable_simhash, rolling_hash}
    Tables.documents(s, dir)
      // NULL text → NULL fingerprints on this side, but the oracle's
      // NULL-tolerant folds would emit 0s (list_prepend(0, NULL) → [0]);
      // drop the doc on BOTH sides instead (the q48 precedent)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), rolling_hash(col("text")).as("roll_fp"),
        portable_simhash(col("text")).as("sim_fp"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB spelling of [[fingerprints]]. The rolling hash folds
    * `ord(char)` per character — equal to the Spark expression's per-BYTE
    * fold ONLY for ASCII text, so the generated SQL asserts that
    * precondition itself (byte length = char length per document) and
    * fails with an explicit error() instead of a confusing hash mismatch
    * if a non-ASCII corpus ever feeds it. HUGEINT keeps the `h*31+b`
    * intermediate exact before the mod. */
  def fingerprintsSql: String = {
    val mod = org.apache.spark.sql.graft.RollingHash.Mod
    s"""WITH checked AS (
       |  SELECT doc_id,
       |    CASE WHEN strlen(text) <> length(text)
       |      THEN error('q46 oracle precondition violated: non-ASCII text '
       |        || 'in doc_id=' || doc_id || ' (this SQL folds per CHARACTER; '
       |        || 'the Spark RollingHash folds per UTF-8 BYTE)')
       |      ELSE text END AS text
       |  FROM documents WHERE text IS NOT NULL),
       |hashed AS (
       |  SELECT doc_id, text, list_transform(string_split(text, ' '),
       |    t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
       |  FROM checked)
       |SELECT doc_id,
       |  CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
       |    list_transform(range(1, length(text) + 1),
       |      i -> CAST(ord(text[i]) AS HUGEINT))),
       |    (acc, x) -> (acc * 31 + x) % $mod) AS BIGINT) AS roll_fp,
       |  ${graft.ext.Dedup.portableSimhashSqlExpr} AS sim_fp
       |FROM hashed
       |ORDER BY doc_id""".stripMargin
  }

  /** q47 — heuristic language-ID vs the labeled lang column: confusion
    * counts. LangId is a deterministic stopword-profile argmax, so it IS
    * SQL-expressible — the oracle recomputes scores from the same profile
    * constants and replicates the expression's tie-breaking (first profile
    * in order wins among equal max scores; max 0 → 'und'). On this
    * synthetic corpus the text is English-ish for every label, so the
    * value is the operator mechanics, not accuracy. */
  def langIdConfusion(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.lang_id
    Tables.documents(s, dir)
      .select(col("lang").as("labeled"), lang_id(col("text")).as("predicted"))
      .groupBy(col("labeled"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("labeled"), col("predicted"))
  }

  /** SQL fragments shared by the lang-ID oracles, generated from
    * [[org.apache.spark.sql.graft.LangId.Profiles]] so SQL and expression
    * can never drift. */
  private def langScoreCols: String = {
    val profiles = org.apache.spark.sql.graft.LangId.Profiles
    profiles.map { case (lang, ws) =>
      val inList = ws.toSeq.sorted.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, t -> t IN ($inList))) AS s_$lang"
    }.mkString(",\n    ")
  }
  private def langMaxExpr: String =
    org.apache.spark.sql.graft.LangId.Profiles.map("s_" + _._1)
      .mkString("greatest(", ", ", ")")

  /** DuckDB spelling of [[langIdConfusion]]. */
  def langIdConfusionSql: String = {
    val profiles = org.apache.spark.sql.graft.LangId.Profiles
    val scoreCols = langScoreCols
    val m = langMaxExpr
    val cases = profiles.map { case (lang, _) =>
      s"WHEN s_$lang = m THEN '$lang'"
    }.mkString("\n      ")
    s"""WITH toks AS (
       |  SELECT lang AS labeled,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks
       |  FROM documents),
       |scored AS (
       |  SELECT labeled,
       |    $scoreCols
       |  FROM toks),
       |best AS (
       |  SELECT *, $m AS m FROM scored)
       |SELECT labeled,
       |  CASE WHEN m = 0 THEN 'und'
       |      $cases
       |  END AS predicted,
       |  count(*) AS n
       |FROM best
       |GROUP BY labeled, predicted
       |ORDER BY labeled, predicted""".stripMargin
  }

  /** DuckDB spelling of [[ngramJaccardCapped]]: same index, same df-cap,
    * same threshold. */
  val ngramJaccardCappedSql: String =
    s"""WITH sh_all AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
      |        i -> string_split(text,' ')[i] || ' ' ||
      |             string_split(text,' ')[i+1] || ' ' ||
      |             string_split(text,' ')[i+2])) AS shingle
      |    FROM documents
      |    WHERE len(string_split(text,' ')) >= 3)),
      |rare AS (
      |  SELECT shingle FROM (
      |    SELECT shingle, count(*) AS df FROM sh_all GROUP BY shingle)
      |  WHERE df <= $DfCap),
      |sh AS (
      |  SELECT s.doc_id, s.shingle FROM sh_all s
      |  JOIN rare r ON s.shingle = r.shingle),
      |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT a_id, b_id,
      |  CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) AS jaccard
      |FROM inter
      |JOIN cnt ca ON ca.doc_id = a_id
      |JOIN cnt cb ON cb.doc_id = b_id
      |WHERE CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) >= 0.12
      |ORDER BY a_id, b_id""".stripMargin

  /** Containment threshold for [[containmentPairs]]: a_id's capped
    * shingle set must be ≥ this fraction inside b_id's. */
  final val MinContainment = 0.5

  /** q229 — ASYMMETRIC containment pairs over the df-capped shingle
    * index: ordered pairs (a, b) where C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)|
    * ≥ [[MinContainment]]. Jaccard (q23/q51/q98) misses subset
    * duplication — a document quoted whole inside a much longer one
    * scores low Jaccard (the union is dominated by the long side) but
    * containment 1.0; dedup pipelines that only gate on Jaccard keep
    * both copies of every quoted/extended document. Emitting ORDERED
    * pairs is the point: C(a→b) ≫ C(b→a) says a is the contained
    * (redundant) side.
    *
    * Scale shape — identical to q51's: the SAME df-capped inverted
    * index (shared localCheckpoint, hot shingles anti-joined out
    * before the self-join bounds the join at Σ_capped df² ≤ cap·|index|),
    * the same partial-aggregated intersection counts; only the final
    * ratio differs (per-side denominator instead of the union), and the
    * a≠b candidate set is the SAME a<b one — each unordered candidate
    * is scored once and emitted in whichever directions pass, so the
    * asymmetric output costs no second self-join. */
  def containmentPairsOf(docs: DataFrame, cap: Int,
      minC: Double): DataFrame = {
    val inter = intersectionsOf(cappedShingleIndexOf(docs, cap))
    // score each unordered candidate once and emit BOTH directions from
    // the same row via explode — one pass over the join output (a union
    // of two branches would re-plan the capped self-join per branch),
    // and no checkpoint, so the plan stays inspectable for the
    // PlanShapeSpec lock
    inter.select(explode(array(
        struct(col("a_id"), col("b_id"),
          (col("n_inter").cast("double") / col("a_sh")).as("containment")),
        struct(col("b_id").as("a_id"), col("a_id").as("b_id"),
          (col("n_inter").cast("double") / col("b_sh")).as("containment"))))
        .as("p"))
      .select(col("p.a_id"), col("p.b_id"), col("p.containment"))
      .filter(col("containment") >= minC)
      .orderBy(col("a_id"), col("b_id"))
  }

  def containmentPairs(s: SparkSession, dir: String): DataFrame =
    containmentPairsOf(Tables.documents(s, dir), DfCap, MinContainment)

  /** DuckDB spelling of [[containmentPairs]]: q51's capped CTEs, the
    * same one-directional candidate scoring, both emitted directions. */
  val containmentPairsSql: String =
    s"""WITH sh_all AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
      |        i -> string_split(text,' ')[i] || ' ' ||
      |             string_split(text,' ')[i+1] || ' ' ||
      |             string_split(text,' ')[i+2])) AS shingle
      |    FROM documents
      |    WHERE len(string_split(text,' ')) >= 3)),
      |rare AS (
      |  SELECT shingle FROM (
      |    SELECT shingle, count(*) AS df FROM sh_all GROUP BY shingle)
      |  WHERE df <= $DfCap),
      |sh AS (
      |  SELECT s.doc_id, s.shingle FROM sh_all s
      |  JOIN rare r ON s.shingle = r.shingle),
      |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT i.a_id, i.b_id, i.n_inter, ca.n_sh AS a_sh, cb.n_sh AS b_sh
      |  FROM inter i
      |  JOIN cnt ca ON ca.doc_id = i.a_id
      |  JOIN cnt cb ON cb.doc_id = i.b_id),
      |both_dirs AS (
      |  SELECT a_id, b_id,
      |    CAST(n_inter AS DOUBLE) / a_sh AS containment FROM scored
      |  UNION ALL
      |  SELECT b_id AS a_id, a_id AS b_id,
      |    CAST(n_inter AS DOUBLE) / b_sh AS containment FROM scored)
      |SELECT a_id, b_id, containment FROM both_dirs
      |WHERE containment >= $MinContainment
      |ORDER BY a_id, b_id""".stripMargin

  /** q52 — rarity-weighted term scoring (tf/df — the df-reciprocal
    * tf-idf variant): top-3 highest-scoring terms per document. The
    * log-free weighting is deliberate: tf/df is ONE IEEE division of two
    * exact integers, bit-identical in every engine, whereas ln() is not
    * correctly-rounded everywhere and would make the oracle flaky at
    * ties. Two shuffles: (doc, word) tf counts and word df counts; the
    * df relation joins back on the word key. At 100 TB both aggregations
    * partial-combine map-side; nothing driver-sided. */
  def tfidfTop(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
    val tf = toks.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word"))
      .agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("word"))
    tf.join(df, Seq("word"))
      .select(col("doc_id"), col("word"),
        (col("tf").cast("double") / col("df")).as("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("word"), col("score"), col("rnk"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  val tfidfTopSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
      |scored AS (
      |  SELECT doc_id, tf.word AS word,
      |    CAST(tf AS DOUBLE) / df AS score
      |  FROM tf JOIN df ON tf.word = df.word),
      |r AS (
      |  SELECT doc_id, word, score,
      |    CAST(row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, word) AS BIGINT) AS rnk
      |  FROM scored)
      |SELECT doc_id, word, score, rnk FROM r WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin

  /** Content-keyed md5 bucket in [0, m) — THE portable-hash idiom of this
    * library (identical in DuckDB as
    * `('0x'||substr(md5(x),1,8))::BIGINT % m`); any change to the
    * convention (digit count, modulus handling) lives here once. */
  private[graft] def md5Bucket(c: Column, m: Long): Column = pmod(
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long"),
    lit(m))

  /** [[md5Bucket]] at the per-mille modulus shared by q53, q55, q71, q77,
    * q89 and q90. */
  private[graft] def md5Bucket1000(c: Column): Column = md5Bucket(c, 1000L)

  /** q53 — deterministic stratified sampling: md5(doc_id) mod 1000 under a
    * per-stratum rate (the majority 'en' class undersampled at 5%, other
    * languages at 15%). Content-keyed hashing makes the sample identical
    * across engines, runs, partitionings, and retries — the property that
    * matters when a 100 TB training-set sample must be reproducible and
    * join-stable (rows never flip in or out on replan, unlike
    * `TABLESAMPLE`/rand()). One scan, no shuffle before the aggregate. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val bucket = md5Bucket1000(col("doc_id"))
    val rate = when(col("lang") === "en", 50L).otherwise(150L)
    Tables.documents(s, dir)
      .filter(bucket < rate)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  val stratifiedSampleSql: String =
    """SELECT doc_id, lang FROM documents
      |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      % 1000 < (CASE WHEN lang = 'en' THEN 50 ELSE 150 END)
      |ORDER BY doc_id""".stripMargin

  /** q55 — the composed training-data pipeline, end to end in ONE
    * declarative plan: exact dedup (keep-first by md5 fingerprint, window
    * formulation) → quality gate (≥20 tokens, stopword ratio < 25%) →
    * keep documents the heuristic lang-ID classifies as English →
    * deterministic 50% hash sample. Each stage is an operator family from
    * this library; composing them declaratively means Catalyst plans the
    * whole chain (one scan, pruned columns, no materialization between
    * stages) — the way a real 100 TB curation job should be written. The
    * oracle recomputes every stage, so the final selected id set is
    * value-exact across engines. */
  def curationPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.lang_id
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    val toks = tokens(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"),
        md5(col("text")).as("fp"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("text"),
        size(toks).cast("long").as("n_tok"),
        size(filter(toks, t => t.isin("the", "a"))).cast("long").as("n_stop"))
      .filter(col("n_tok") >= 20 && col("n_stop") * 4 <= col("n_tok"))
      .filter(lang_id(col("text")) === "en")
      .filter(md5Bucket1000(col("doc_id")) < 500)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB spelling of [[curationPipeline]] — every stage recomputed;
    * "predicted en" = s_en equals a positive max (en is first in profile
    * order, so it wins ties exactly like the expression). */
  def curationPipelineSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, lang, text, md5(text) AS fp FROM documents),
       |first AS (
       |  SELECT doc_id, lang, text FROM (
       |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id)
       |      AS rn FROM base)
       |  WHERE rn = 1),
       |qual AS (
       |  SELECT doc_id, lang, text FROM (
       |    SELECT doc_id, lang, text,
       |      len(string_split(text, ' ')) AS n_tok,
       |      len(list_filter(string_split(text, ' '),
       |          t -> t IN ('the', 'a'))) AS n_stop
       |    FROM first)
       |  WHERE n_tok >= 20 AND n_stop * 4 <= n_tok),
       |scored AS (
       |  SELECT doc_id, lang,
       |    $langScoreCols
       |  FROM (SELECT doc_id, lang,
       |          regexp_split_to_array(lower(text), '\\s+') AS toks
       |        FROM qual)),
       |en AS (
       |  SELECT doc_id, lang FROM (
       |    SELECT *, $langMaxExpr AS m FROM scored)
       |  WHERE m > 0 AND s_en = m)
       |SELECT doc_id, lang FROM en
       |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |      % 1000 < 500
       |ORDER BY doc_id""".stripMargin

  // ---- q59: benchmark decontamination -------------------------------------

  /** Documents below this id play the "held-out eval set" role. */
  val EvalSetMax = 50L
  private val DecontamMinShingles = 3

  /** q59 — benchmark decontamination: per TRAINING document, how many
    * distinct word 5-grams it shares with any EVAL document, flagging
    * docs at ≥ 3 shared shingles — the standard n-gram-overlap
    * decontamination pass every LLM training pipeline runs before
    * training. Scale shape: the eval set is tiny next to a 100 TB corpus,
    * so its (distinct) shingle set is BROADCAST and the corpus joins
    * against the broadcast hash relation — the training index never
    * reshuffles on the shingle key, and the per-doc count partial-aggs
    * map-side. */
  def decontamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sh = ngramIndexOf(docs, 5)
    val evalSh = sh.filter(col("doc_id") < EvalSetMax)
      .select(col("shingle")).distinct()
    val shared = sh.filter(col("doc_id") >= EvalSetMax)
      .join(broadcast(evalSh), Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    docs.filter(col("doc_id") >= EvalSetMax)
      .select(col("doc_id"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= DecontamMinShingles)
          .as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Exact word-5-gram decontamination SQL at a given eval split /
    * threshold — shared by the q59 oracle and the q84 oracle (whose
    * Bloom prefilter must be INVISIBLE in the result, so its oracle is
    * this same exact SQL at its own constants). */
  private[ext] def decontaminationSqlFor(evalMax: Long,
      minShingles: Int): String =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(1, len(string_split(text,' ')) - 3),
       |        i -> string_split(text,' ')[i] || ' ' ||
       |             string_split(text,' ')[i+1] || ' ' ||
       |             string_split(text,' ')[i+2] || ' ' ||
       |             string_split(text,' ')[i+3] || ' ' ||
       |             string_split(text,' ')[i+4])) AS shingle
       |    FROM documents
       |    WHERE len(string_split(text,' ')) >= 5)),
       |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < $evalMax),
       |shared AS (
       |  SELECT s.doc_id, count(*) AS n_shared
       |  FROM sh s JOIN ev USING (shingle)
       |  WHERE s.doc_id >= $evalMax
       |  GROUP BY 1)
       |SELECT d.doc_id, coalesce(n_shared, 0) AS n_shared,
       |  coalesce(n_shared, 0) >= $minShingles AS contaminated
       |FROM documents d LEFT JOIN shared USING (doc_id)
       |WHERE d.doc_id >= $evalMax
       |ORDER BY d.doc_id""".stripMargin

  val decontaminationSql: String =
    decontaminationSqlFor(EvalSetMax, DecontamMinShingles)

  // ---- q189: memorization / provenance attribution ------------------------

  /** Attribution shingle df cap: shingles present in more docs carry
    * weight ≤ 10⁶/cap each and only ever rearrange the tail below any
    * single rarer match — inert on this corpus (max df < cap), binding
    * at web scale where it bounds the candidate fan-out. */
  private val AttrDfCap = 1000L

  /** q189 — memorization / provenance attribution: given suspect
    * outputs (the eval docs 0–4 standing in for model generations),
    * find for each the top-3 TRAINING documents most likely to be the
    * memorized source — the audit run when a model emits something
    * verbatim-looking (Lee/Carlini-style memorization checks, and the
    * provenance half of takedown tooling). Candidate docs come from the
    * shared-3-gram posting join; the score is RARITY-WEIGHTED in exact
    * integers — Σ over shared shingles of (10⁶ div df) — because one
    * shared rare phrase is stronger evidence of copying than many
    * shared common ones (q52's idf intuition, spelled div-exact so the
    * ranking is bit-identical cross-engine). Ties break by doc_id.
    *
    * Scale shape: the probe shingle set (a handful of documents) is
    * BROADCAST into the posting join; candidate fan-out per probe is
    * bounded by Σ df over its shingles, with df > [[AttrDfCap]]
    * shingles dropped (weight ≤ 10⁶/cap each — tail-only effect,
    * documented above) so a boilerplate shingle can't pull in the
    * whole corpus; the per-probe rank window runs over that bounded
    * candidate relation. */
  def memorizationAttribution(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sh = ngramIndexOf(docs, 3)
    val dfRel = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= AttrDfCap)
    val probes = sh.filter(col("doc_id") < 5)
      .select(col("doc_id").as("probe_id"), col("shingle"))
    val cand = sh.filter(col("doc_id") >= EvalSetMax)
      .join(dfRel, Seq("shingle"))
      .join(broadcast(probes), Seq("shingle"))
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(sum(expr("1000000 div df")).as("score"),
        count(lit(1)).as("n_shared"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("doc_id"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("probe_id"), col("rank"), col("doc_id"),
        col("score"), col("n_shared"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** DuckDB spelling: same postings, same integer rarity weights. */
  val memorizationAttributionSql: String =
    s"""WITH sh AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
      |        i -> string_split(text,' ')[i] || ' ' ||
      |             string_split(text,' ')[i+1] || ' ' ||
      |             string_split(text,' ')[i+2])) AS shingle
      |    FROM documents
      |    WHERE len(string_split(text,' ')) >= 3)),
      |dfr AS (
      |  SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
      |  HAVING count(*) <= $AttrDfCap),
      |pr AS (
      |  SELECT doc_id AS probe_id, shingle FROM sh WHERE doc_id < 5),
      |cand AS (
      |  SELECT p.probe_id, s.doc_id,
      |    CAST(SUM(1000000 // d.df) AS BIGINT) AS score,
      |    count(*) AS n_shared
      |  FROM sh s
      |  JOIN dfr d ON d.shingle = s.shingle
      |  JOIN pr p ON p.shingle = s.shingle
      |  WHERE s.doc_id >= $EvalSetMax
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT probe_id, doc_id, score, n_shared,
      |    CAST(row_number() OVER (PARTITION BY probe_id
      |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank
      |  FROM cand)
      |SELECT probe_id, rank, doc_id, score, n_shared
      |FROM r WHERE rank <= 3
      |ORDER BY probe_id, rank""".stripMargin

  // ---- q191: deletion-request (right-to-be-forgotten) audit ---------------

  /** q191 — deletion-request enforcement audit: a takedown / opt-out /
    * GDPR-erasure list arrives as doc ids; the pipeline must (a) drop
    * the docs, (b) PROVE the drop — the audit relation a compliance
    * review reads. The request list here is planted deterministically
    * (md5 bucket of doc_id mod 97 = 0, ≈1% of the corpus — the
    * q66/q159 fixed-fixture discipline, identical in both engines; in
    * production it is a read-in relation). Per source: docs and bytes
    * before, deletion requests matched, docs and bytes after, and the
    * RESIDUE — surviving docs that still match the request list, which
    * the contract pins to ZERO (the law is in the output, not just a
    * spec, because the zero is what the auditor signs off on).
    *
    * Scale shape: the request list is tiny next to the corpus →
    * membership is an in-row hash here and a broadcast anti-join in
    * production; one scan, #sources-group rollup. */
  def deletionAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        (md5Bucket(col("doc_id"), 97L) === 0L).as("req"))
    val kept = docs.filter(!col("req"))
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("bytes_before"),
        sum(when(col("req"), 1L).otherwise(0L)).as("n_requested"))
      .join(
        kept.groupBy(col("source"))
          .agg(count(lit(1)).as("n_after"),
            sum(col("n_chars")).as("bytes_after"),
            sum(when(col("req"), 1L).otherwise(0L)).as("residue")),
        Seq("source"), "left")
      // a source erased IN FULL must stay visible as an all-zero row
      .select(col("source"), col("n_docs"), col("bytes_before"),
        col("n_requested"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("bytes_after"), lit(0L)).as("bytes_after"),
        coalesce(col("residue"), lit(0L)).as("residue"))
      .orderBy(col("source"))
  }

  /** DuckDB spelling: same planted request hash, same lanes. */
  val deletionAuditSql: String =
    """WITH d AS (
      |  SELECT doc_id, source, n_chars,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      % 97 = 0 AS req
      |  FROM documents),
      |before AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS bytes_before,
      |    CAST(SUM(CASE WHEN req THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_requested
      |  FROM d GROUP BY source),
      |after AS (
      |  SELECT source, count(*) AS n_after,
      |    CAST(sum(n_chars) AS BIGINT) AS bytes_after,
      |    CAST(SUM(CASE WHEN req THEN 1 ELSE 0 END) AS BIGINT) AS residue
      |  FROM d WHERE NOT req GROUP BY source)
      |SELECT b.source, n_docs, bytes_before, n_requested,
      |  coalesce(n_after, 0) AS n_after,
      |  coalesce(bytes_after, 0) AS bytes_after,
      |  coalesce(residue, 0) AS residue
      |FROM before b LEFT JOIN after a ON a.source = b.source
      |ORDER BY b.source""".stripMargin

  // ---- q62: collocation mining (log-free PMI) -----------------------------

  /** q62 — collocation mining: bigram association scores. The score is
    * the log-free PMI variant n_xy·N / (n_x·n_y) — numerator and
    * denominator are each ONE double multiply of exact integers and the
    * score ONE IEEE division, so the value (and therefore the top-20
    * ordering) is bit-identical cross-engine, where ln()-based PMI would
    * not be correctly-rounded everywhere. Marginals and the total come
    * from the bigram counts themselves (one explode + one shuffle; the
    * marginal joins are on word keys; the 1-row total is a broadcast
    * cross join). min-count 5 culls the noise tail before ranking. */
  def collocations(s: SparkSession, dir: String): DataFrame = {
    val w = Tables.documents(s, dir)
      .select(tokens(col("text")).as("w"))
      // barrier: CollapseProject otherwise inlines split() into the
      // bigram lambda's element_at calls — O(L²) re-split per element
      .localCheckpoint(eager = false)
      .filter(size(col("w")) >= 2)
    val bigrams = w.select(explode(transform(
      sequence(lit(1), size(col("w")) - 1),
      i => struct(element_at(col("w"), i).as("w1"),
        element_at(col("w"), i + 1).as("w2")))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val nBi = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_xy"))
    val left = nBi.groupBy(col("w1")).agg(sum(col("n_xy")).as("n_x"))
    val right = nBi.groupBy(col("w2")).agg(sum(col("n_xy")).as("n_y"))
    val tot = nBi.agg(sum(col("n_xy")).as("n_tot"))
    nBi.join(left, Seq("w1")).join(right, Seq("w2"))
      .crossJoin(broadcast(tot))
      .filter(col("n_xy") >= 5)
      .select(col("w1"), col("w2"), col("n_xy"),
        ((col("n_xy").cast("double") * col("n_tot")) /
          (col("n_x").cast("double") * col("n_y"))).as("score"))
      .orderBy(col("score").desc, col("w1"), col("w2"))
      .limit(20)
  }

  val collocationsSql: String =
    """WITH w AS (
      |  SELECT string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (
      |  SELECT unnest(list_transform(range(1, len(w)),
      |    i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS bg
      |  FROM w),
      |nbi AS (
      |  SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS n_xy
      |  FROM bg GROUP BY 1, 2),
      |lm AS (SELECT w1, sum(n_xy) AS n_x FROM nbi GROUP BY w1),
      |rm AS (SELECT w2, sum(n_xy) AS n_y FROM nbi GROUP BY w2),
      |tot AS (SELECT sum(n_xy) AS n_tot FROM nbi)
      |SELECT n.w1, n.w2, n.n_xy,
      |  (CAST(n.n_xy AS DOUBLE) * n_tot) /
      |    (CAST(n_x AS DOUBLE) * n_y) AS score
      |FROM nbi n
      |JOIN lm ON lm.w1 = n.w1
      |JOIN rm ON rm.w2 = n.w2
      |CROSS JOIN tot
      |WHERE n.n_xy >= 5
      |ORDER BY score DESC, n.w1, n.w2
      |LIMIT 20""".stripMargin

  // ---- q63: sequence packing ----------------------------------------------

  private val PackBudget = 256L

  /** q63 — training-sequence packing: concatenate documents (in doc_id
    * order WITHIN each source shard) into ~256-token sequences; a doc
    * joins the sequence its cumulative prefix starts in. Packing is
    * per-shard BY DESIGN: a 100 TB corpus has no global order, and
    * per-source windows parallelize across shards while a global window
    * would serialize onto one partition. Running-sum window + exact
    * integer floor-division → deterministic, oracle-exact sequence
    * assignment. Output: per (source, seq_id) the packed doc count,
    * token total, and first doc. */
  def sequencePacking(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("seq_id",
        floor((col("cum") - col("n_tok")) / lit(PackBudget.toDouble))
          .cast("long"))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("source"), col("seq_id"))
  }

  val sequencePackingSql: String =
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |    len(string_split(text, ' ')) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT source, doc_id, n_tok,
       |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t)
       |SELECT source,
       |  CAST(floor((cum - n_tok) / ${PackBudget}.0) AS BIGINT) AS seq_id,
       |  count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS seq_tokens,
       |  min(doc_id) AS first_doc
       |FROM c
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  // ---- q64: n-gram diversity ----------------------------------------------

  /** q64 — corpus diversity: per source, distinct word-3-gram types over
    * total 3-gram instances (n-gram type-token ratio — the standard
    * repetitiveness/memorization signal for training data). The distinct
    * count is TWO-PHASE — (source, shingle) pre-aggregation, then
    * per-source counts — never `countDistinct` mixed into the wider
    * aggregate, which would plan an Expand multiplying the scan
    * (measured 10× on q36; locked out in PlanShapeSpec there). */
  def ngramDiversity(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(s, dir)
      .select(col("source"), tokens(col("text")).as("w"))
      .localCheckpoint(eager = false) // split-inlining barrier (see ngramIndexOf)
      .filter(size(col("w")) >= 3)
      .select(col("source"), explode(ngramsCol(col("w"), 3)).as("shingle"))
    grams.groupBy(col("source"), col("shingle"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_distinct"),
        sum(col("cnt")).as("n_total"))
      .select(col("source"), col("n_distinct"), col("n_total"),
        (col("n_distinct").cast("double") / col("n_total"))
          .as("diversity"))
      .orderBy(col("source"))
  }

  val ngramDiversitySql: String =
    """WITH g AS (
      |  SELECT source,
      |    unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
      |      i -> string_split(text,' ')[i] || ' ' ||
      |           string_split(text,' ')[i+1] || ' ' ||
      |           string_split(text,' ')[i+2])) AS shingle
      |  FROM documents
      |  WHERE len(string_split(text,' ')) >= 3),
      |c AS (
      |  SELECT source, shingle, count(*) AS cnt
      |  FROM g GROUP BY 1, 2)
      |SELECT source, count(*) AS n_distinct,
      |  CAST(sum(cnt) AS BIGINT) AS n_total,
      |  CAST(count(*) AS DOUBLE) / sum(cnt) AS diversity
      |FROM c
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---- q66: lexicon sentiment scoring -------------------------------------

  /** Polarity lexicon — fixed constants, so the oracle SQL is GENERATED
    * from the same lists (the q47 lang-ID pattern). On this synthetic
    * corpus the "sentiment" reads as query-health (fast/slow…); the
    * operator mechanics are what's exercised: broadcast-free token
    * scoring in one scan, exact integer tallies, one division per group. */
  private val PosWords = Seq("fast", "small", "merge")
  private val NegWords = Seq("slow", "big", "dup")

  /** q66 — lexicon-based sentiment (the EDBT 2016 large-scale-sentiment
    * shape, PAPERS.md): per-doc polarity = #positive − #negative tokens
    * via codegen'd size(filter(...)), aggregated per source to mean
    * polarity and pos/neg doc counts. Single scan, one small exchange;
    * integer counts aggregate exactly, one double division at the end
    * (the [[qualityStats]] determinism rule). */
  def sentiment(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val score = (size(filter(toks, t => t.isin(PosWords: _*))) -
      size(filter(toks, t => t.isin(NegWords: _*))))
      .cast("long")
    Tables.documents(s, dir)
      .select(col("source"), score.as("polarity"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("polarity")).as("polarity_sum"),
        (sum(col("polarity")).cast("double") / count(lit(1)))
          .as("mean_polarity"),
        sum(when(col("polarity") > 0, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("polarity") < 0, 1L).otherwise(0L)).as("n_neg"))
      .orderBy(col("source"))
  }

  def sentimentSql: String = {
    def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
    s"""WITH d AS (
       |  SELECT source,
       |    CAST(len(list_filter(string_split(text, ' '),
       |        t -> t IN (${inList(PosWords)}))) -
       |      len(list_filter(string_split(text, ' '),
       |        t -> t IN (${inList(NegWords)}))) AS BIGINT) AS polarity
       |  FROM documents)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(polarity) AS BIGINT) AS polarity_sum,
       |  CAST(sum(polarity) AS DOUBLE) / count(*) AS mean_polarity,
       |  CAST(sum(CASE WHEN polarity > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_pos,
       |  CAST(sum(CASE WHEN polarity < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_neg
       |FROM d
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  /** q71 — length-weighted deterministic sampling: keep each document
    * with probability ∝ its token count (importance sampling by length —
    * the curation move that keeps long documents while thinning
    * boilerplate). Same content-keyed md5 bucket as q53, but the
    * per-doc threshold is `n_tok · 1000 div max_tok` — ALL integer
    * arithmetic (one corpus-max scalar, broadcast), so inclusion is
    * bit-deterministic across engines, runs, partitionings, and
    * retries. The max aggregate is one tiny all-reduce; everything else
    * is a single scan. */
  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"))
    val mx = docs.agg(max(col("n_tok")).as("max_tok"))
    val bucket = md5Bucket1000(col("doc_id"))
    // `div`, not `/`: Spark's / on integers is DOUBLE division; the
    // threshold must stay integral to match DuckDB's `//` exactly
    docs.crossJoin(broadcast(mx))
      .filter(bucket < expr("n_tok * 1000 div max_tok"))
      .select(col("doc_id"), col("n_tok"))
      .orderBy(col("doc_id"))
  }

  val weightedSampleSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |mx AS (SELECT max(n_tok) AS max_tok FROM t)
      |SELECT doc_id, n_tok FROM t CROSS JOIN mx
      |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      % 1000 < n_tok * 1000 // max_tok
      |ORDER BY doc_id""".stripMargin

  // ---- q76: training-window chunking --------------------------------------

  private val ChunkLen = 64
  private val ChunkStride = 48

  /** q76 — context-window chunking: split every document into 64-token
    * windows at stride 48 (16-token overlap) — the standard prep step
    * that turns variable-length documents into model-context training
    * rows. Chunk boundaries are pure integer arithmetic exploded from a
    * sequence (no UDF, no per-row driver logic), and each chunk is
    * emitted as its md5 fingerprint rather than its text — the id-sized
    * output a 100 TB chunking pass shuffles, while remaining value-exact
    * for the oracle (both engines hash the identical space-joined token
    * slice). Single scan; output grows ~n_tok/stride per doc. */
  def chunking(s: SparkSession, dir: String): DataFrame = {
    val L = ChunkLen.toLong
    val S = ChunkStride.toLong
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tok"), col("w"))
      .select(col("doc_id"), col("n_tok"), col("w"),
        explode(sequence(lit(0L),
          when(col("n_tok") <= L, lit(0L))
            .otherwise(expr(s"(n_tok - $L + ${S - 1}) div $S"))))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(L), col("n_tok") - col("chunk_idx") * S).as("chunk_tok"),
        md5(array_join(
          slice(col("w"), (col("chunk_idx") * S + 1).cast("int"),
            least(lit(L), col("n_tok") - col("chunk_idx") * S).cast("int")),
          " ")).as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** DuckDB spelling: same boundaries (`//` ≡ `div`), same slices
    * (list_slice is 1-based inclusive ≡ slice(start, len)), same md5 of
    * the space-joined window. */
  val chunkingSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tok, w,
       |    unnest(range(0, CASE WHEN n_tok <= $ChunkLen THEN 1
       |      ELSE 1 + (n_tok - $ChunkLen + ${ChunkStride - 1}) // $ChunkStride
       |      END)) AS chunk_idx
       |  FROM w)
       |SELECT doc_id, chunk_idx,
       |  least($ChunkLen, n_tok - chunk_idx * $ChunkStride) AS chunk_tok,
       |  md5(array_to_string(list_slice(w,
       |    chunk_idx * $ChunkStride + 1,
       |    chunk_idx * $ChunkStride +
       |      least($ChunkLen, n_tok - chunk_idx * $ChunkStride)), ' '))
       |    AS chunk_fp
       |FROM c
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---- q90: exact-quota stratified sampling --------------------------------

  /** Per-stratum quota: the sample takes exactly min(quota, |stratum|)
    * documents per language. */
  val QuotaK = 25L

  /** q90 — exact-QUOTA stratified sampling ("exactly K docs per
    * language", vs q53's per-stratum RATE): the K hash-smallest documents
    * of each stratum, i.e. a deterministic uniform sample of fixed size.
    *
    * The naive spelling — row_number over each full stratum — shuffles
    * the whole corpus into per-stratum sort partitions; a majority
    * stratum (en) lands on ONE task at 100 TB. Instead, a per-stratum
    * hash-threshold PREFILTER keeps ~4·K expected candidates (threshold =
    * 4000·K/n on the md5 bucket, derived from the per-stratum counts —
    * one partial-agg pass + a broadcast join), and the exact window runs
    * over survivors only. The bucket is the LEADING sort key, so every
    * row the prefilter drops (bucket ≥ rate) ranks after every survivor
    * — the per-stratum top-K is inside the survivor set whenever ≥ K
    * rows survive; at a 4× expected margin the shortfall probability is
    * Chernoff-negligible, and TextSpec proves prefiltered ≡ unfiltered
    * on real data. The oracle mirrors the prefilter exactly, so the
    * check stays value-exact regardless. */
  def quotaSample(s: SparkSession, dir: String): DataFrame = {
    // doc hash relation feeds the stratum counts AND the prefilter
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        md5Bucket1000(col("doc_id")).as("bk"),
        md5(col("doc_id").cast("string")).as("hk"))
      .localCheckpoint(eager = false)
    val thresh = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"))
      .select(col("lang"),
        least(lit(1000L), expr(s"(${4000 * QuotaK} + n - 1) div n"))
          .as("rate"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("bk"), col("hk"), col("doc_id"))
    docs.join(broadcast(thresh), Seq("lang"))
      .filter(col("bk") < col("rate"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= QuotaK)
      .select(col("doc_id"), col("lang"), col("rn"))
      .orderBy(col("lang"), col("rn"))
  }

  /** DuckDB spelling of [[quotaSample]] — same counts, same threshold,
    * same bucket prefilter, same (bk, hk, doc_id) ranking. */
  val quotaSampleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hk,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |      % 1000 AS bk
       |  FROM documents),
       |nper AS (SELECT lang, count(*) AS n FROM d GROUP BY 1),
       |t AS (
       |  SELECT lang, least(1000, (${4000 * QuotaK} + n - 1) // n) AS rate
       |  FROM nper),
       |surv AS (
       |  SELECT d.doc_id, d.lang, d.bk, d.hk FROM d JOIN t USING (lang)
       |  WHERE bk < rate),
       |r AS (
       |  SELECT doc_id, lang,
       |    CAST(row_number() OVER (PARTITION BY lang
       |      ORDER BY bk, hk, doc_id) AS BIGINT) AS rn
       |  FROM surv)
       |SELECT doc_id, lang, rn FROM r WHERE rn <= $QuotaK
       |ORDER BY lang, rn""".stripMargin

  // ---- q114: duplicated-substring spans -----------------------------------

  /** Span n-gram width, and the distinct-document frequency at which an
    * n-gram counts as corpus-duplicated. */
  val SpanN = 4
  val SpanMinDf = 3L

  /** q114 — duplicated-substring span detection (the substring-level
    * dedup of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", re-expressed relationally): a token position is
    * DUPLICATED when its word [[SpanN]]-gram occurs in ≥ [[SpanMinDf]]
    * distinct documents; maximal contiguously-covered runs merge into
    * spans (start, end, length, matched-gram count). This is the
    * relation a scrubber consumes to cut repeated boilerplate
    * SUBSTRINGS out of otherwise-unique documents — the duplication
    * q22 (whole-doc) and q57 (near-whole-doc) cannot act on.
    *
    * Scale shape: positional grams explode once and partial-aggregate
    * into the (gram → distinct-doc df) relation; the duplicated-gram
    * set joins back KEYED BY GRAM (never broadcast — at web scale the
    * dup set is vocabulary-sized); island detection windows per
    * DOCUMENT — bounded fan-in, no global sort anywhere. Gaps-and-
    * islands: a span breaks where the next matched position starts
    * past the previous gram's reach (gap > [[SpanN]]); the island id
    * is the running break count, the standard relational spelling. */
  def dupSpans(s: SparkSession, dir: String): DataFrame =
    dupSpansOf(Tables.documents(s, dir))

  /** [[dupSpans]] over any (doc_id, text) frame — split out so the spec
    * can plant known shared substrings and hole positions. */
  def dupSpansOf(docs: DataFrame): DataFrame = {
    val pos = docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      // barrier: CollapseProject would inline split() into the gram
      // lambda (O(L²) re-split per element)
      .localCheckpoint(eager = false)
      .filter(size(col("w")) >= SpanN)
      .select(col("doc_id"),
        posexplode(ngramsCol(col("w"), SpanN)).as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"),
        col("gram"))
      .localCheckpoint(eager = false) // feeds df AND the match join
    val dup = pos.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= SpanMinDf)
      .select(col("gram"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    pos.join(dup, Seq("gram"))
      .select(col("doc_id"), col("p"))
      .withColumn("brk",
        when(col("p") - lag(col("p"), 1).over(w) <= SpanN, 0L).otherwise(1L))
      .withColumn("span_id", sum(col("brk")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("p")).as("span_start"), max(col("p")).as("maxp"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"),
        (col("maxp") + (SpanN - 1)).as("span_end"),
        (col("maxp") + (SpanN - 1) - col("span_start") + 1).as("span_len"),
        col("n_grams"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** DuckDB spelling of [[dupSpans]]: same positional grams, same
    * distinct-doc df threshold, same gaps-and-islands break rule. */
  val dupSpansSql: String = {
    val gram = (1 until SpanN).map(k => s"w[i+$k]")
      .mkString("w[i] || ' ' || ", " || ' ' || ", "")
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |g AS (
       |  SELECT doc_id, s['p'] AS p, s['gram'] AS gram FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      range(1, len(w) - ${SpanN - 2}),
       |      i -> {'p': i, 'gram': $gram})) AS s
       |    FROM w WHERE len(w) >= $SpanN) t(doc_id, s)),
       |df AS (
       |  SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY 1),
       |m AS (
       |  SELECT g.doc_id, g.p FROM g
       |  JOIN (SELECT gram FROM df WHERE df >= $SpanMinDf) d USING (gram)),
       |isl AS (
       |  SELECT doc_id, p,
       |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
       |        <= $SpanN THEN 0 ELSE 1 END AS brk
       |  FROM m),
       |sp AS (
       |  SELECT doc_id, p,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY p
       |      ROWS UNBOUNDED PRECEDING) AS span_id
       |  FROM isl)
       |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
       |  CAST(max(p) + ${SpanN - 1} AS BIGINT) AS span_end,
       |  CAST(max(p) + ${SpanN - 1} - min(p) + 1 AS BIGINT) AS span_len,
       |  CAST(count(*) AS BIGINT) AS n_grams
       |FROM sp
       |GROUP BY doc_id, span_id
       |ORDER BY doc_id, span_start""".stripMargin
  }

  // ---- q159: PII detection and redaction ----------------------------------

  /** RE2-and-Java-portable PII patterns (no lookaround, no
    * backreferences — the subset both engines' regex dialects agree
    * on): email, NANP-style phone, dotted-quad IP. The pattern LIBRARY
    * is the deliverable; extend per deployment. */
  private[graft] val PiiEmailRe =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PiiPhoneRe = "\\+1-555-[0-9]{4}"
  private[graft] val PiiIpRe = "10\\.0\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Doc-level half of q159: the planted corpus with per-doc match
    * counts and the scrubbed text — split out so TextSpec can assert
    * the scrub leaves ZERO residual matches per document and the counts
    * equal the plant predicate exactly.
    *
    * The synthetic corpus contains no natural PII (not even digits), so
    * the contact strings are PLANTED in-query from doc_id under md5
    * buckets — the q66/q118 fixed-constant fixture discipline: both
    * engines construct the identical corpus, so detection and redaction
    * are value-exact, non-vacuous, and the per-mille plant rates
    * (200/100/50) give every source a mix of clean and dirty docs. */
  private[graft] def piiDocs(s: SparkSession, dir: String): DataFrame = {
    val bucket = md5Bucket1000(col("doc_id"))
    val planted = concat(col("text"),
      when(bucket < 200, concat(lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com"))).otherwise(lit("")),
      when(bucket < 100, concat(lit(" call +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(bucket < 50, concat(lit(" host 10.0."),
        pmod(col("doc_id"), lit(256L)).cast("string"), lit("."),
        pmod(col("doc_id") * 7, lit(256L)).cast("string")))
        .otherwise(lit("")))
    Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), planted.as("doc"))
      .select(col("doc_id"), col("source"), col("doc"),
        regexp_count(col("doc"), lit(PiiEmailRe)).cast("long").as("em"),
        regexp_count(col("doc"), lit(PiiPhoneRe)).cast("long").as("ph"),
        regexp_count(col("doc"), lit(PiiIpRe)).cast("long").as("ip"),
        regexp_replace(regexp_replace(regexp_replace(col("doc"),
          lit(PiiEmailRe), lit("<EMAIL>")),
          lit(PiiPhoneRe), lit("<PHONE>")),
          lit(PiiIpRe), lit("<IP>")).as("scrubbed"))
  }

  /** q159 — PII detection + redaction audit, the release-gate scrub
    * every public curation pipeline runs (Dolma/CCNet-style regex PII
    * pass) and the one stage this library lacked: per source, how many
    * documents carry PII, match counts per type, and the byte effect of
    * redacting them with fixed placeholder tokens.
    *
    * Determinism: the patterns are the portable RE2∩Java subset above,
    * the plant is md5-keyed (content-keyed, replan/retry-stable — the
    * q53 sampling rule), and every output is an exact integer.
    *
    * Scale shape: ONE corpus scan; detection + redaction are in-row
    * codegen'd regex ops; the only exchange is the #sources-row partial
    * aggregate. The scrubbed text column is the side artifact a real
    * run would write back per-partition (q55's pipeline composes it);
    * nothing corpus-sized ever shuffles. */
  def piiScrub(s: SparkSession, dir: String): DataFrame =
    piiDocs(s, dir)
      .select(col("source"), col("em"), col("ph"), col("ip"),
        length(col("doc")).cast("long").as("cb"),
        length(col("scrubbed")).cast("long").as("ca"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("em") + col("ph") + col("ip") > 0, 1L).otherwise(0L))
          .as("docs_with_pii"),
        sum(col("em")).as("emails"),
        sum(col("ph")).as("phones"),
        sum(col("ip")).as("ips"),
        sum(col("cb")).as("chars_before"),
        sum(col("ca")).as("chars_after"))
      .orderBy(col("source"))

  /** DuckDB spelling of [[piiScrub]]: same md5-bucket plant, same
    * patterns (RE2 side), same replace order; DuckDB's regexp_replace
    * needs the explicit 'g' flag to match Java's replace-all. */
  val piiScrubSql: String = {
    val b = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000"
    s"""WITH p AS (
       |  SELECT source, text
       |    || CASE WHEN $b < 200 THEN ' contact user'
       |         || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
       |    || CASE WHEN $b < 100 THEN ' call +1-555-'
       |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
       |    || CASE WHEN $b < 50 THEN ' host 10.0.'
       |         || CAST(doc_id % 256 AS VARCHAR) || '.'
       |         || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END AS doc
       |  FROM documents WHERE text IS NOT NULL),
       |c AS (
       |  SELECT source,
       |    len(regexp_extract_all(doc, '$PiiEmailRe')) AS em,
       |    len(regexp_extract_all(doc, '$PiiPhoneRe')) AS ph,
       |    len(regexp_extract_all(doc, '$PiiIpRe')) AS ip,
       |    length(doc) AS cb,
       |    length(regexp_replace(regexp_replace(regexp_replace(doc,
       |      '$PiiEmailRe', '<EMAIL>', 'g'),
       |      '$PiiPhoneRe', '<PHONE>', 'g'),
       |      '$PiiIpRe', '<IP>', 'g')) AS ca
       |  FROM p)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN em + ph + ip > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS docs_with_pii,
       |  CAST(sum(em) AS BIGINT) AS emails,
       |  CAST(sum(ph) AS BIGINT) AS phones,
       |  CAST(sum(ip) AS BIGINT) AS ips,
       |  CAST(sum(cb) AS BIGINT) AS chars_before,
       |  CAST(sum(ca) AS BIGINT) AS chars_after
       |FROM c GROUP BY source ORDER BY source""".stripMargin
  }

  // ---- q164: weak-supervision labeling-function audit ---------------------

  /** q164 — Snorkel-style programmatic-labeling audit: four labeling
    * functions vote +1 / −1 / 0 (abstain) on every document's "train on
    * this?" question — a length rule, a stopword rule, a digit-density
    * rule, and a language rule — and the relation reports, per LF, the
    * four diagnostics a weak-supervision pipeline tunes against:
    * coverage (non-abstain votes), overlap (voted where some other LF
    * also voted), conflict (voted against another LF's vote), and
    * agreement with the majority weak label. This is the data-programming
    * capability beside the trained filters (q125's NB, q108's declared
    * rules): many cheap noisy heuristics, audited so the aggregator
    * knows which to trust — the way teams label 100 TB when hand labels
    * don't exist.
    *
    * All votes and diagnostics are in-row integer expressions over one
    * scan; the per-LF roll-up `inline`s four struct rows per doc (like
    * q162, a union of per-LF selects would plan four scans) into ONE
    * partial-aggregable 4-group aggregate. Exact counts only — no
    * ratios, so the hash compare is ULP-proof. */
  /** The four labeling-function votes as a (v1, v2, v3, v4) relation —
    * shared by the q164 audit and the q224 pairwise-kappa audit. */
  private[graft] def lfVotes(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.lang_id
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val dig = length(regexp_replace(col("text"), "[^0-9]", "")).cast("long")
    val vLen = when(col("n_chars") >= 300, 1L)
      .when(col("n_chars") < 100, -1L).otherwise(0L)
    val vStop = when(nTok >= 5 && array_contains(toks, "the"), 1L)
      .when(nTok >= 5, -1L).otherwise(0L)
    val vDig = when(dig * 5 >= col("n_chars"), -1L)
      .when(dig * 50 <= col("n_chars"), 1L).otherwise(0L)
    val vLang = when(lang_id(col("text")) === "en", 1L).otherwise(0L)
    Tables.documents(s, dir).select(
      vLen.as("v1"), vStop.as("v2"), vDig.as("v3"), vLang.as("v4"))
  }

  def weakLabels(s: SparkSession, dir: String): DataFrame = {
    val base = lfVotes(s, dir)
    val vs = Seq(col("v1"), col("v2"), col("v3"), col("v4"))
    val pos = vs.map(v => when(v === 1, 1L).otherwise(0L)).reduce(_ + _)
    val neg = vs.map(v => when(v === -1, 1L).otherwise(0L)).reduce(_ + _)
    val tot = vs.reduce(_ + _)
    val weak = when(tot > 0, 1L).when(tot < 0, -1L).otherwise(0L)
    val arms = Seq("lf_length", "lf_stopword", "lf_digit", "lf_lang")
      .zip(vs).map { case (n, v) =>
        struct(lit(n).as("lf"),
          (v =!= 0).cast("long").as("cov"),
          (v =!= 0 && (pos + neg) >= 2).cast("long").as("ovl"),
          ((v === 1 && neg >= 1) || (v === -1 && pos >= 1))
            .cast("long").as("conf"),
          (v =!= 0 && v === weak).cast("long").as("agr"))
      }
    base.select(inline(array(arms: _*)))
      .groupBy(col("lf"))
      .agg(sum(col("cov")).as("coverage"), sum(col("ovl")).as("overlap"),
        sum(col("conf")).as("conflict"),
        sum(col("agr")).as("agree_majority"))
      .orderBy(col("lf"))
  }

  /** DuckDB spelling: same four vote rules (lang arm through the shared
    * generated profile scores), same diagnostics, 4-arm UNION ALL. */
  /** The shared t/sc/v CTE chain ending in `v(v1, v2, v3, v4)` — the
    * four LF votes; feeds the q164 and q224 oracles. */
  private def lfVoteCtes: String =
    s"""t AS (
       |  SELECT text, n_chars,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks
       |  FROM documents),
       |sc AS (
       |  SELECT text, n_chars,
       |    $langScoreCols
       |  FROM t),
       |v AS (
       |  SELECT
       |    CASE WHEN n_chars >= 300 THEN 1
       |         WHEN n_chars < 100 THEN -1 ELSE 0 END AS v1,
       |    CASE WHEN len(string_split(text, ' ')) >= 5
       |              AND list_contains(string_split(text, ' '), 'the') THEN 1
       |         WHEN len(string_split(text, ' ')) >= 5 THEN -1
       |         ELSE 0 END AS v2,
       |    CASE WHEN len(regexp_replace(text, '[^0-9]', '', 'g')) * 5
       |              >= n_chars THEN -1
       |         WHEN len(regexp_replace(text, '[^0-9]', '', 'g')) * 50
       |              <= n_chars THEN 1
       |         ELSE 0 END AS v3,
       |    CASE WHEN $langMaxExpr > 0 AND s_en = $langMaxExpr THEN 1
       |         ELSE 0 END AS v4
       |  FROM sc)""".stripMargin

  def weakLabelsSql: String =
    s"""WITH $lfVoteCtes,
       |st AS (
       |  SELECT v1, v2, v3, v4,
       |    (CASE WHEN v1 = 1 THEN 1 ELSE 0 END) +
       |    (CASE WHEN v2 = 1 THEN 1 ELSE 0 END) +
       |    (CASE WHEN v3 = 1 THEN 1 ELSE 0 END) +
       |    (CASE WHEN v4 = 1 THEN 1 ELSE 0 END) AS pos,
       |    (CASE WHEN v1 = -1 THEN 1 ELSE 0 END) +
       |    (CASE WHEN v2 = -1 THEN 1 ELSE 0 END) +
       |    (CASE WHEN v3 = -1 THEN 1 ELSE 0 END) +
       |    (CASE WHEN v4 = -1 THEN 1 ELSE 0 END) AS neg,
       |    CASE WHEN v1 + v2 + v3 + v4 > 0 THEN 1
       |         WHEN v1 + v2 + v3 + v4 < 0 THEN -1 ELSE 0 END AS weak
       |  FROM v),
       |arms AS (
       |  SELECT 'lf_length' AS lf, v1 AS vv, pos, neg, weak FROM st
       |  UNION ALL SELECT 'lf_stopword', v2, pos, neg, weak FROM st
       |  UNION ALL SELECT 'lf_digit', v3, pos, neg, weak FROM st
       |  UNION ALL SELECT 'lf_lang', v4, pos, neg, weak FROM st)
       |SELECT lf,
       |  CAST(SUM(CASE WHEN vv <> 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS coverage,
       |  CAST(SUM(CASE WHEN vv <> 0 AND pos + neg >= 2 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS overlap,
       |  CAST(SUM(CASE WHEN (vv = 1 AND neg >= 1)
       |             OR (vv = -1 AND pos >= 1) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS conflict,
       |  CAST(SUM(CASE WHEN vv <> 0 AND vv = weak THEN 1 ELSE 0 END)
       |    AS BIGINT) AS agree_majority
       |FROM arms GROUP BY lf
       |ORDER BY lf""".stripMargin

  // ---- q224: pairwise labeler agreement (Cohen's kappa) -------------------

  /** The LF name of each vote column, fixing pair order. */
  private val LfNames =
    Seq("v1" -> "lf_length", "v2" -> "lf_stopword",
      "v3" -> "lf_digit", "v4" -> "lf_lang")

  /** q224 — Cohen's κ for every labeling-function PAIR, over the docs
    * where BOTH vote: q164 reports each LF against the majority; κ is
    * the reliability number annotation teams actually quote, because it
    * discounts the agreement two labelers reach by chance from their
    * marginal vote rates. Computed EXACTLY in integers —
    * κ = (N·Σagree − Σ rᵢ·cᵢ) / (N² − Σ rᵢ·cᵢ) with all counts from
    * one pass — and divided ONCE to double, so both engines emit
    * bit-identical ratios (NULL when the denominator is 0: a pair that
    * never co-votes, or degenerate marginals).
    *
    * Scale shape: the per-doc pair diagnostics `inline` six struct rows
    * per doc (q164's discipline — a union of per-pair selects would
    * plan six scans) into one partial-aggregable 6-group aggregate;
    * everything after the groupBy is arithmetic on six rows. */
  def labelKappa(s: SparkSession, dir: String): DataFrame = {
    val pairs = LfNames.combinations(2).toSeq
    val arms = pairs.map { case Seq((ca, na), (cb, nb)) =>
      val va = col(ca); val vb = col(cb)
      val both = (va =!= 0 && vb =!= 0).cast("long")
      struct(lit(na).as("lf_a"), lit(nb).as("lf_b"),
        both.as("both"),
        (both * (va === vb).cast("long")).as("agree"),
        (both * (va === 1).cast("long")).as("a_pos"),
        (both * (vb === 1).cast("long")).as("b_pos"))
    }
    lfVotes(s, dir)
      .select(inline(array(arms: _*)))
      .groupBy(col("lf_a"), col("lf_b"))
      .agg(sum(col("both")).as("n_both"), sum(col("agree")).as("n_agree"),
        sum(col("a_pos")).as("ap"), sum(col("b_pos")).as("bp"))
      .select(col("lf_a"), col("lf_b"), col("n_both"), col("n_agree"),
        // κ num/den computed in WIDE integers (decimal(20,0) factors →
        // exact decimal(38,0) products; HUGEINT in the oracle): every
        // term is a product of two ≤n_both counts, and n_both·n_both
        // wraps int64 silently past n_both ≈ 3.04e9 co-voting docs —
        // the q213 wide-gate discipline. The wide type stays INTERNAL:
        // the OUTPUT is BIGINT, because decimal columns in a result
        // contract hash differently across checker pandas/duckdb
        // versions (Decimal('42') vs 42). The ANSI decimal→bigint cast
        // THROWS on overflow, so emission past ~3e9 co-voting docs
        // fails loudly instead of wrapping.
        (dec20(col("n_both")) * dec20(col("n_agree")) -
          (dec20(col("ap")) * dec20(col("bp")) +
            dec20(col("n_both") - col("ap")) *
              dec20(col("n_both") - col("bp"))))
          .cast("bigint").as("kappa_num"),
        (dec20(col("n_both")) * dec20(col("n_both")) -
          (dec20(col("ap")) * dec20(col("bp")) +
            dec20(col("n_both") - col("ap")) *
              dec20(col("n_both") - col("bp"))))
          .cast("bigint").as("kappa_den"))
      .select(col("lf_a"), col("lf_b"), col("n_both"), col("n_agree"),
        col("kappa_num"), col("kappa_den"),
        when(col("kappa_den") =!= 0,
          col("kappa_num").cast("double") / col("kappa_den").cast("double"))
          .as("kappa"))
      .orderBy(col("lf_a"), col("lf_b"))
  }

  /** int64 → decimal(19,0)-capable wide cast used by the κ arithmetic
    * (products of two of these land in decimal(38,0), exact). */
  private def dec20(c: Column): Column = c.cast("decimal(20,0)")

  /** DuckDB spelling: the shared vote CTEs, a 6-arm UNION ALL of pair
    * diagnostics, the same exact integer κ. */
  def labelKappaSql: String = {
    val pairs = LfNames.combinations(2).toSeq
    val arms = pairs.map { case Seq((ca, na), (cb, nb)) =>
      s"""SELECT '$na' AS lf_a, '$nb' AS lf_b,
         |    CASE WHEN $ca <> 0 AND $cb <> 0 THEN 1 ELSE 0 END AS bo,
         |    CASE WHEN $ca <> 0 AND $cb <> 0 AND $ca = $cb
         |      THEN 1 ELSE 0 END AS ag,
         |    CASE WHEN $ca <> 0 AND $cb <> 0 AND $ca = 1
         |      THEN 1 ELSE 0 END AS a_pos,
         |    CASE WHEN $ca <> 0 AND $cb <> 0 AND $cb = 1
         |      THEN 1 ELSE 0 END AS b_pos
         |  FROM v""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH $lfVoteCtes,
       |arms AS (
       |  $arms),
       |g AS (
       |  SELECT lf_a, lf_b, CAST(SUM(bo) AS BIGINT) AS n_both,
       |    CAST(SUM(ag) AS BIGINT) AS n_agree,
       |    CAST(SUM(a_pos) AS BIGINT) AS ap,
       |    CAST(SUM(b_pos) AS BIGINT) AS bp
       |  FROM arms GROUP BY 1, 2),
       |k AS (
       |  SELECT lf_a, lf_b, n_both, n_agree,
       |    CAST(CAST(n_both AS HUGEINT) * n_agree -
       |      (CAST(ap AS HUGEINT) * bp +
       |       CAST(n_both - ap AS HUGEINT) * (n_both - bp))
       |      AS BIGINT) AS kappa_num,
       |    CAST(CAST(n_both AS HUGEINT) * n_both -
       |      (CAST(ap AS HUGEINT) * bp +
       |       CAST(n_both - ap AS HUGEINT) * (n_both - bp))
       |      AS BIGINT) AS kappa_den
       |  FROM g)
       |SELECT lf_a, lf_b, n_both, n_agree, kappa_num, kappa_den,
       |  CASE WHEN kappa_den <> 0
       |    THEN CAST(kappa_num AS DOUBLE) / CAST(kappa_den AS DOUBLE)
       |  END AS kappa
       |FROM k ORDER BY lf_a, lf_b""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q191_deletion_audit" -> (deletionAudit _),
    "q189_memorization_attr" -> (memorizationAttribution _),
    "q188_source_chunk_matrix" -> (sourceChunkMatrix _),
    "q186_cdc_chunks"   -> (cdcChunks _),
    "q181_boundary_stitch" -> (boundaryStitch _),
    "q180_adaptive_gate" -> (adaptiveGate _),
    "q164_weak_labels"  -> (weakLabels _),
    "q224_label_kappa"  -> (labelKappa _),
    "q159_pii_scrub"    -> (piiScrub _),
    "q114_dup_spans"    -> (dupSpans _),
    "q90_quota_sample"  -> (quotaSample _),
    "q76_chunking"      -> (chunking _),
    "q71_weighted_sample" -> (weightedSample _),
    "q66_sentiment"     -> (sentiment _),
    "q59_decontamination" -> (decontamination _),
    "q62_collocations"  -> (collocations _),
    "q63_sequence_packing" -> (sequencePacking _),
    "q64_ngram_diversity" -> (ngramDiversity _),
    "q55_curation_pipeline" -> (curationPipeline _),
    "q52_tfidf_top"     -> (tfidfTop _),
    "q53_stratified_sample" -> (stratifiedSample _),
    "q46_fingerprints"  -> (fingerprints _),
    "q47_langid"        -> (langIdConfusion _),
    "q43_regex_tokens"  -> (regexTokens _),
    "q19_token_stats"   -> (tokenStats _),
    "q20_term_freq"     -> (termFrequency _),
    "q21_quality_stats" -> (qualityStats _),
    "q22_exact_dedup"   -> (exactDedup _),
    "q23_ngram_jaccard" -> (ngramJaccard _),
    "q51_ngram_jaccard_capped" -> (ngramJaccardCapped _),
    "q229_containment_pairs" -> (containmentPairs _),
    "q230_source_divergence" -> (sourceDivergence _))

  val oracles: Map[String, String] = Map(
    "q191_deletion_audit" -> deletionAuditSql,
    "q189_memorization_attr" -> memorizationAttributionSql,
    "q188_source_chunk_matrix" -> sourceChunkMatrixSql,
    "q186_cdc_chunks"   -> cdcChunksSql,
    "q181_boundary_stitch" -> boundaryStitchSql,
    "q180_adaptive_gate" -> adaptiveGateSql,
    "q164_weak_labels"  -> weakLabelsSql,
    "q224_label_kappa"  -> labelKappaSql,
    "q159_pii_scrub"    -> piiScrubSql,
    "q114_dup_spans"    -> dupSpansSql,
    "q90_quota_sample"  -> quotaSampleSql,
    "q76_chunking"      -> chunkingSql,
    "q71_weighted_sample" -> weightedSampleSql,
    "q66_sentiment"     -> sentimentSql,
    "q59_decontamination" -> decontaminationSql,
    "q62_collocations"  -> collocationsSql,
    "q63_sequence_packing" -> sequencePackingSql,
    "q64_ngram_diversity" -> ngramDiversitySql,
    "q55_curation_pipeline" -> curationPipelineSql,
    "q52_tfidf_top"     -> tfidfTopSql,
    "q53_stratified_sample" -> stratifiedSampleSql,
    "q46_fingerprints"  -> fingerprintsSql,
    "q47_langid"        -> langIdConfusionSql,
    "q43_regex_tokens"  -> regexTokensSql,
    "q19_token_stats"   -> tokenStatsSql,
    "q20_term_freq"     -> termFrequencySql,
    "q21_quality_stats" -> qualityStatsSql,
    "q22_exact_dedup"   -> exactDedupSql,
    "q23_ngram_jaccard" -> ngramJaccardSql,
    "q51_ngram_jaccard_capped" -> ngramJaccardCappedSql,
    "q229_containment_pairs" -> containmentPairsSql,
    "q230_source_divergence" -> sourceDivergenceSql)
}
