package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions.cosine_sim
import graft.tables.Tables

/** Similarity search over the `embeddings` table (`array<float>`, 64-dim) —
  * north-star extension (no counterpart in the reference; SURVEY.md §7.4).
  *
  * Three tiers:
  *  - [[knnBruteForce]]: exact top-k, O(Q·N) scored pairs. The baseline.
  *    Scales by broadcasting the (small) query set and streaming the
  *    candidate scan — no shuffle of the big side until the per-query
  *    top-k reduction.
  *  - [[knnLsh]]: sign-random-projection LSH (Charikar SimHash family):
  *    L hash tables × b hyperplane bits; candidates = same bucket in any
  *    table. At 100 TB this turns O(Q·N) into O(Q·N/2^b·L) with recall
  *    tunable via (L, b). The bucket join is a plain equi-join Spark
  *    shuffles/broadcasts like any other — no custom operator needed.
  *  - [[knnIvf]]: k-means coarse quantizer + inverted lists; queries probe
  *    the `nprobe` nearest centroids and exact-rerank only those lists.
  *
  * Oracle strategy: the hyperplanes are CONSTANTS (fixed seed), so the
  * DuckDB oracle SQL is GENERATED from the same constants and recomputes
  * the same buckets with bit-identical double arithmetic (same elementwise
  * products, same left-fold summation order) — q18/q49 are verified
  * value-exactly, not just by recall bounds. k-means is not portable, so
  * q44 emits a per-query recall flag against the exact answer instead.
  */
object Similarity {

  private val Dim = 64

  /** Deterministic Gaussian hyperplanes in DOUBLE (fixed seed — results
    * must be reproducible across runs AND engines; doubles, not floats,
    * so Spark and the generated DuckDB SQL do identical IEEE arithmetic). */
  private def hyperplanes(tables: Int, bits: Int,
      seed: Long = 42L): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables, bits, Dim)(rnd.nextGaussian())
  }

  /** Bit-signature column: for one table's hyperplanes, pack sign bits of
    * dot(embedding, plane_j) into an int. Pure built-in expressions
    * (aggregate over zip_with) → codegen'd, no UDF. The dot is a left fold
    * from 0.0 over per-element double products — exactly the order the
    * generated oracle SQL replicates. */
  private def signature(emb: Column,
      planes: Array[Array[Double]]): Column = {
    planes.zipWithIndex.map { case (p, j) =>
      val dot = aggregate(
        zip_with(emb.cast("array<double>"), lit(p), (x, y) => x * y),
        lit(0.0d), (acc, v) => acc + v)
      when(dot >= 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** DuckDB CTEs shared by the LSH oracles: the plane constants as a
    * VALUES relation, double-cast embeddings, and per-(vector, table)
    * signatures computed with the same fold order as [[signature]]. */
  private def lshSqlCtes(planes: Array[Array[Array[Double]]]): String = {
    val rows = for {
      (tp, t) <- planes.zipWithIndex
      (p, j) <- tp.zipWithIndex
    } yield s"($t, $j, CAST([${p.mkString(", ")}] AS DOUBLE[]))"
    s"""planes(tbl, j, p) AS (VALUES
       |    ${rows.mkString(",\n    ")}),
       |emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
       |sigs AS (
       |  SELECT e.vec_id, p.tbl,
       |    CAST(SUM(CASE WHEN list_reduce(
       |        list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(range(1, ${Dim + 1}), d -> e.de[d] * p.p[d])),
       |        (a, b) -> a + b) >= 0 THEN (1 << p.j) ELSE 0 END) AS BIGINT)
       |      AS sig
       |  FROM emb e CROSS JOIN planes p
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** q17 — exact kNN: top-3 cosine neighbors for query vectors vec_id<10.
    * Output is integer-only (ids + rank) so float ULP differences between
    * engines cannot affect the hash compare.
    *
    * Top-k via [[graft.functions.TopK]] partial aggregation: each map task
    * reduces its candidates to ≤k per query BEFORE the shuffle, so the
    * exchange carries O(Q·k·partitions) rows — not the O(Q·N) a
    * row_number window would shuffle ([[knnBruteForceWindow]] keeps the
    * window formulation for comparison). */
  def knnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val top = scoredPairs(s, dir)
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.top_k(3)(col("neighbor_id"), col("cos"))
        .as("top"))
    top.select(col("query_id"),
        posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Window-ranking formulation of q17 (shuffles all scored pairs);
    * retained as the semantic baseline the aggregator is tested against. */
  def knnBruteForceWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scoredPairs(s, dir)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  private def scoredPairs(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        // cosine_sim is NULL on a zero-norm vector; the TopK aggregator
        // downstream decodes a NON-NULLABLE score (a NULL would kill
        // q17 at runtime), and DuckDB's list_cosine_similarity scores
        // the same pair -1.0 — coalesce to exactly the oracle's value
        // (maximally dissimilar, ranked last). The quantized family
        // instead FILTERS zero vectors (quantizedVectors' ss > 0); the
        // float paths keep them, ranked last, like the oracle.
        coalesce(cosine_sim(col("q_emb"), col("embedding")), lit(-1.0d))
          .as("cos"))
  }

  val knnBruteForceSql: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
      |  FROM embeddings WHERE vec_id < 10),
      |s AS (
      |  SELECT query_id, e.vec_id AS neighbor_id,
      |    list_cosine_similarity(qe, CAST(e.embedding AS DOUBLE[])) AS cos
      |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> query_id),
      |r AS (
      |  SELECT query_id, neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
      |  FROM s)
      |SELECT query_id, neighbor_id, rnk FROM r WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  // ---- q18: LSH kNN ------------------------------------------------------

  private val LshTables = 4
  private val LshBits = 6
  private lazy val lshPlanes = hyperplanes(LshTables, LshBits)

  /** q18 — LSH-bucketed approximate kNN (the scale path). L=4 tables × b=6
    * bits: each vector lands in 4 buckets; query and candidate meet if
    * they share any bucket. Oracle-exact: the generated SQL recomputes the
    * same buckets from the same plane constants. */
  def knnLsh(s: SparkSession, dir: String, k: Int = 3): DataFrame =
    knnLshServe(lshIndexOf(Tables.embeddings(s, dir)), k)

  /** The q18 LSH band index of a (vec_id, embedding) frame: each vector
    * explodes into ([[LshTables]]) (tbl, bucket) rows. This relation IS
    * the maintainable index state — streaming ingest appends new
    * vectors' rows ([[graft.streaming.DocStreams.maintainAnnIndex]])
    * and [[knnLshServe]] probes whatever the index currently holds. */
  def lshIndexOf(e: DataFrame): DataFrame = graft.ops.Par.fan(e).select(
    col("vec_id"), col("embedding"),
    posexplode(array(lshPlanes.map(tp =>
      signature(col("embedding"), tp)): _*)).as(Seq("tbl", "bucket")))

  /** Probe an LSH band index (the [[lshIndexOf]] schema): probes are the
    * indexed vectors with vec_id < 10; candidates meet a probe on any
    * shared (tbl, bucket); exact cosine reranks the bucket-bounded
    * candidate set. Duplicate index rows (e.g. an at-least-once
    * redelivery) cannot change the result — candidate pairs dedup on
    * (query_id, neighbor_id) before scoring. */
  /** @param probe which index rows act as QUERIES — defaults to the
    *   q17/q18 doc-as-query convention (vec_id < 10); q158 passes its
    *   fused probe set so the vector arm mechanically serves whatever
    *   workload the lexical arm serves (a probe outside the default
    *   range would otherwise silently fuse lexical-only). */
  def knnLshServe(bucketed: DataFrame, k: Int = 3,
      probe: Column = col("vec_id") < 10): DataFrame = {
    val q = bucketed.filter(probe)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("tbl"), col("bucket"))
    val cand = bucketed.select(col("vec_id").as("neighbor_id"),
      col("embedding"), col("tbl"), col("bucket"))

    // cos BEFORE the pair dedup: deterministic per pair, so firsting the
    // scalar ≡ scoring the firsted arrays — and the dedup becomes a
    // HashAggregate over scalars instead of a first(array) SortAggregate
    // (not hash-aggregatable) shuffling both embeddings per candidate row
    val scored = q.join(cand, Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine_sim(col("q_emb"), col("embedding")).as("cos"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** DuckDB spelling of [[knnLsh]]: identical buckets from the embedded
    * plane constants, candidate pairs via a (tbl, sig) self-join, then the
    * same cosine top-3 (ties broken by neighbor_id in both engines). */
  def knnLshSql: String =
    s"""WITH ${lshSqlCtes(lshPlanes)},
       |cand AS (
       |  SELECT s1.vec_id AS query_id, s2.vec_id AS neighbor_id
       |  FROM sigs s1 JOIN sigs s2 ON s1.tbl = s2.tbl AND s1.sig = s2.sig
       |  WHERE s1.vec_id < 10 AND s2.vec_id <> s1.vec_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    list_cosine_similarity(qe.de, ne.de) AS cos
       |  FROM cand c
       |  JOIN emb qe ON qe.vec_id = c.query_id
       |  JOIN emb ne ON ne.vec_id = c.neighbor_id),
       |r AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, rnk FROM r WHERE rnk <= 3
       |ORDER BY query_id, rnk""".stripMargin

  // ---- q232/q233: attribute-filtered ANN ---------------------------------

  /** The q18 band index CARRYING the filterable attribute: filtered ANN
    * stores filter columns inside the index rows (the design point every
    * production vector store converges on), so a predicate can join as
    * part of the bucket key instead of post-filtering results. */
  private def lshLabeledIndexOf(e: DataFrame): DataFrame =
    graft.ops.Par.fan(e).select(
    col("vec_id"), col("embedding"), col("label"),
    posexplode(array(lshPlanes.map(tp =>
      signature(col("embedding"), tp)): _*)).as(Seq("tbl", "bucket")))

  /** Shared serve: top-k same-label neighbors per probe (vec_id < 10)
    * from a labeled band index — the label participates in the
    * CANDIDATE JOIN KEY, so off-label vectors never enter the candidate
    * set at all (PRE-filtering). */
  private def filteredServe(idx: DataFrame, k: Int): DataFrame = {
    val q = idx.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("tbl"), col("bucket"), col("label"))
    val cand = idx.select(col("vec_id").as("neighbor_id"),
      col("embedding"), col("tbl"), col("bucket"), col("label"))
    // cos BEFORE the pair dedup (see the q18 rationale); label rides as a
    // dedup KEY — it is functionally dependent on the pair (a per-vector
    // constant equal on both sides of the bucket join), so keying on it
    // changes nothing, while first()-ing a string would force the
    // aggregate back to sort-based
    val scored = q.join(cand, Seq("tbl", "bucket", "label"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("label"), col("neighbor_id"),
        cosine_sim(col("q_emb"), col("embedding")).as("cos"))
      .dropDuplicates("query_id", "neighbor_id", "label")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** q232 — attribute-FILTERED approximate kNN: top-3 SAME-LABEL
    * neighbors per probe, served from the q18 LSH band index extended
    * with the filter attribute. The predicate is applied BEFORE ranking
    * — the label is part of the candidate join key — which is the
    * correctness-critical design choice in filtered vector search:
    * filtering AFTER top-k (the naive spelling) silently returns fewer
    * than k results and loses exactly the neighbors the filter was
    * meant to find (q233 measures that loss). Real uses everywhere in a
    * training pipeline: nearest neighbors within a language shard,
    * within a time slice, within non-benchmark data.
    *
    * Scale shape: one posexplode over the vector relation builds the
    * labeled index (identical cost to q18's); the (tbl, bucket, label)
    * equi-join keeps candidate generation bucket-bounded AND
    * label-bounded — a selective filter makes the search CHEAPER, not
    * slower, because the filter prunes the join. Top-k per probe via
    * one bounded window over the candidate set. */
  def filteredAnn(s: SparkSession, dir: String): DataFrame =
    filteredServe(lshLabeledIndexOf(Tables.embeddings(s, dir)), 3)
      .select(col("query_id"), col("label"), col("neighbor_id"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))

  /** DuckDB spelling of [[filteredAnn]]: q18's bucket CTEs with the
    * label equality inside the candidate join, same (cos DESC,
    * neighbor_id) ranking. */
  def filteredAnnSql: String =
    s"""WITH ${lshSqlCtes(lshPlanes)},
       |lab AS (SELECT vec_id, label FROM embeddings),
       |cand AS (
       |  SELECT s1.vec_id AS query_id, l1.label AS label,
       |    s2.vec_id AS neighbor_id
       |  FROM sigs s1 JOIN sigs s2 ON s1.tbl = s2.tbl AND s1.sig = s2.sig
       |  JOIN lab l1 ON l1.vec_id = s1.vec_id
       |  JOIN lab l2 ON l2.vec_id = s2.vec_id
       |  WHERE s1.vec_id < 10 AND s2.vec_id <> s1.vec_id
       |    AND l2.label = l1.label
       |  GROUP BY 1, 2, 3),
       |scored AS (
       |  SELECT c.query_id, c.label, c.neighbor_id,
       |    list_cosine_similarity(qe.de, ne.de) AS cos
       |  FROM cand c
       |  JOIN emb qe ON qe.vec_id = c.query_id
       |  JOIN emb ne ON ne.vec_id = c.neighbor_id),
       |r AS (
       |  SELECT query_id, label, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM scored)
       |SELECT query_id, label, neighbor_id, rnk FROM r WHERE rnk <= 3
       |ORDER BY query_id, rnk""".stripMargin

  /** q233 — post-filter recall audit: per probe, how many of the TRUE
    * filtered top-3 ([[filteredAnn]]'s pre-filter serve) would be LOST
    * by the naive filter-AFTER-search spelling (q18's unfiltered top-3,
    * then keep same-label survivors). The naive form is what every
    * vector-store user writes first — `search(k) |> filter(pred)` —
    * and it under-returns whenever the filter is selective: this audit
    * quantifies exactly that per-release. Output per probe: the true
    * filtered depth (n_true ≤ 3 — buckets may hold fewer same-label
    * candidates), the post-filter survivor count, and the miss count
    * (n_true − survivors that coincide — the post-filter survivor set
    * is provably a prefix of the true filtered ranking, which
    * SimilaritySpec asserts). All counts integer → exact oracle.
    *
    * Scale shape: both arms reuse ONE labeled band index
    * (localCheckpoint barrier — the posexplode runs once); counts
    * aggregate per probe (≤Q·3 rows either side). */
  def postFilterAudit(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val idx = lshLabeledIndexOf(e).localCheckpoint(eager = false)
    val lab = e.select(col("vec_id"), col("label"))
    val truth = filteredServe(idx, 3)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("t"))
    val post = knnLshServe(idx.drop("label"), 3)
      .join(lab.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "q_lab"), Seq("query_id"))
      .join(lab.withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("label", "n_lab"), Seq("neighbor_id"))
      .filter(col("q_lab") === col("n_lab"))
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("p"))
    val per = truth.join(post, Seq("query_id", "neighbor_id"), "full")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("t"), lit(0L))).as("n_true"),
        sum(coalesce(col("p"), lit(0L))).as("n_post"),
        sum(when(col("t").isNotNull && col("p").isNull, lit(1L))
          .otherwise(lit(0L))).as("n_missed"))
    lab.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label"))
      .join(per, Seq("query_id"), "left")
      .select(col("query_id"), col("label"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_post"), lit(0L)).as("n_post"),
        coalesce(col("n_missed"), lit(0L)).as("n_missed"))
      .orderBy(col("query_id"))
  }

  /** DuckDB spelling of [[postFilterAudit]]: both arms from the same
    * scored CTE, the same full-outer reconciliation. */
  def postFilterAuditSql: String =
    s"""WITH ${lshSqlCtes(lshPlanes)},
       |lab AS (SELECT vec_id, label FROM embeddings),
       |cand AS (
       |  SELECT s1.vec_id AS query_id, s2.vec_id AS neighbor_id
       |  FROM sigs s1 JOIN sigs s2 ON s1.tbl = s2.tbl AND s1.sig = s2.sig
       |  WHERE s1.vec_id < 10 AND s2.vec_id <> s1.vec_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id, lq.label AS q_lab,
       |    ln.label AS n_lab, list_cosine_similarity(qe.de, ne.de) AS cos
       |  FROM cand c
       |  JOIN emb qe ON qe.vec_id = c.query_id
       |  JOIN emb ne ON ne.vec_id = c.neighbor_id
       |  JOIN lab lq ON lq.vec_id = c.query_id
       |  JOIN lab ln ON ln.vec_id = c.neighbor_id),
       |truth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
       |    FROM scored WHERE n_lab = q_lab)
       |  WHERE rn <= 3),
       |post AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, n_lab, q_lab,
       |      row_number() OVER (
       |        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
       |    FROM scored)
       |  WHERE rn <= 3 AND n_lab = q_lab),
       |per AS (
       |  SELECT coalesce(t.query_id, p.query_id) AS query_id,
       |    CAST(count(t.neighbor_id) AS BIGINT) AS n_true,
       |    CAST(count(p.neighbor_id) AS BIGINT) AS n_post,
       |    CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL
       |      AND p.neighbor_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_missed
       |  FROM truth t
       |  FULL OUTER JOIN post p
       |    ON p.query_id = t.query_id AND p.neighbor_id = t.neighbor_id
       |  GROUP BY 1)
       |SELECT l.vec_id AS query_id, l.label,
       |  coalesce(x.n_true, 0) AS n_true,
       |  coalesce(x.n_post, 0) AS n_post,
       |  coalesce(x.n_missed, 0) AS n_missed
       |FROM lab l LEFT JOIN per x ON x.query_id = l.vec_id
       |WHERE l.vec_id < 10
       |ORDER BY query_id""".stripMargin

  /** The q18 serving CTE chain with parametric list depth and probe set,
    * ending in `vlsh(query_id, doc_id, vec_rnk)` — consumed by the q158
    * hybrid-serve oracle. Same plane constants, buckets, cosine and
    * (cos desc, doc_id) tie-break as [[knnLshSql]]. */
  private[graft] def lshServeCtes(k: Int, probeIds: Seq[Long]): String =
    s"""${lshSqlCtes(lshPlanes)},
       |vcand AS (
       |  SELECT s1.vec_id AS query_id, s2.vec_id AS doc_id
       |  FROM sigs s1 JOIN sigs s2 ON s1.tbl = s2.tbl AND s1.sig = s2.sig
       |  WHERE s1.vec_id IN (${probeIds.mkString(", ")})
       |    AND s2.vec_id <> s1.vec_id
       |  GROUP BY 1, 2),
       |vscored AS (
       |  SELECT c.query_id, c.doc_id,
       |    list_cosine_similarity(qe.de, ne.de) AS cos
       |  FROM vcand c
       |  JOIN emb qe ON qe.vec_id = c.query_id
       |  JOIN emb ne ON ne.vec_id = c.doc_id),
       |vlsh AS (
       |  SELECT query_id, doc_id, vec_rnk FROM (
       |    SELECT query_id, doc_id, CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, doc_id) AS BIGINT)
       |      AS vec_rnk
       |    FROM vscored) WHERE vec_rnk <= $k)""".stripMargin

  // ---- q49: LSH-prefiltered near-dup (production path for q42) -----------

  private val NdTables = 8
  private val NdBits = 4
  // FRESH seed, independent of lshPlanes' 42: drawing both families
  // from one Random(42) stream made q18's table-0 planes bit-identical
  // to q49's, so the two index families' recall audits measured
  // CORRELATED structures (the exact hazard the ivfPlanes seed note
  // guards against). The oracles regenerate from these constants, so
  // cross-engine parity is unaffected by the seed choice.
  private lazy val ndPlanes = hyperplanes(NdTables, NdBits, seed = 4343L)

  /** q49 — embedding near-duplicate pairs via LSH prefilter: candidates =
    * pairs sharing any of 8×4-bit buckets, exact cosine ≥ 0.35 applied to
    * candidates ONLY. This is the production spelling of
    * [[graft.queries.Subqueries.q42EmbeddingNearDup]]: the all-pairs
    * cartesian is replaced by a bucket equi-join touching ~L/2^b of the
    * pairs, which is what survives 100 TB (q42 stays registered as the
    * exact oracle baseline; SimilaritySpec bounds this variant's recall
    * against it). Oracle-exact like q18: DuckDB recomputes the same
    * buckets, so the result — including which true pairs LSH recalls — is
    * bit-reproducible cross-engine. */
  def nearDupLsh(s: SparkSession, dir: String, minCos: Double = 0.35): DataFrame =
    nearDupLshPairs(s, dir, minCos).orderBy(col("a_id"), col("b_id"))

  /** [[nearDupLsh]] without the presentation sort — the pair feed for
    * consumers that aggregate anyway (q88's clustering). */
  private[graft] def nearDupLshPairs(s: SparkSession, dir: String,
      minCos: Double = 0.35): DataFrame = {
    val e = Tables.embeddings(s, dir)
    // The candidate join carries IDS ONLY: shipping both 64-float
    // embeddings through the (tbl, bucket) shuffle and the dedup
    // multiplies shuffle bytes ~30× (measured 10 s → 3 s at sf0.1).
    // Embeddings re-attach after dedup via two id equi-joins.
    // Par.fan (round 16): the banding computes 8×4 plane dot products
    // per vector — profiled 1.1 s single-task on the one-split local
    // scan (the round-15 fan pass covered ndIndexOf but missed this
    // sibling); the guard no-ops on any properly split input.
    val bucketed = graft.ops.Par.fan(e).select(col("vec_id"),
      posexplode(array(ndPlanes.map(tp =>
        signature(col("embedding"), tp)): _*)).as(Seq("tbl", "bucket")))
    val a = bucketed.select(col("vec_id").as("a_id"), col("tbl"), col("bucket"))
    val b = bucketed.select(col("vec_id").as("b_id"), col("tbl"), col("bucket"))
    val pairs = a.join(b, Seq("tbl", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")
    pairs
      .join(e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb")),
        Seq("a_id"))
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb")),
        Seq("b_id"))
      .filter(cosine_sim(col("a_emb"), col("b_emb")) >= minCos)
      .select(col("a_id"), col("b_id"))
  }

  /** The near-dup pair CTE chain ending in `pairs(a_id, b_id)` — shared
    * by the q49 oracle and the q88 clustering oracle. */
  private def nearDupPairCtes: String =
    s"""${lshSqlCtes(ndPlanes)},
       |cand AS (
       |  SELECT s1.vec_id AS a_id, s2.vec_id AS b_id
       |  FROM sigs s1 JOIN sigs s2 ON s1.tbl = s2.tbl AND s1.sig = s2.sig
       |    AND s1.vec_id < s2.vec_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a_id, b_id FROM cand
       |  JOIN emb ea ON ea.vec_id = a_id
       |  JOIN emb eb ON eb.vec_id = b_id
       |  WHERE list_cosine_similarity(ea.de, eb.de) >= 0.35)""".stripMargin

  def nearDupLshSql: String =
    s"""WITH $nearDupPairCtes
       |SELECT a_id, b_id FROM pairs
       |ORDER BY a_id, b_id""".stripMargin

  // ---- q234: semantic eval↔train decontamination --------------------------

  /** Eval-set boundary for the SEMANTIC decontamination audit: vectors
    * below this id play the benchmark role ([[graft.ext.Text.EvalSetMax]]'s
    * convention on the embedding table). */
  val SemEvalMax = 50L

  /** q234 — EMBEDDING-level decontamination: training vectors whose
    * cosine to ANY eval-set vector reaches the q49 near-dup threshold,
    * with the hit count per train vector. This is the semantic analogue
    * of q59/q84/q178's n-gram decontamination — paraphrased or
    * re-rendered benchmark items share no 5-gram but sit on top of the
    * eval item in embedding space, exactly the leakage n-gram screens
    * miss (and modern eval-hygiene pipelines screen for both).
    *
    * Scale shape: the eval side is SMALL by construction (benchmarks are
    * thousands of items, the corpus is billions), so its (tbl, bucket)
    * band rows BROADCAST; the train side explodes once into the same
    * q49 band index (ids only — embeddings re-attach after the bucket
    * join + dedup) and never reshuffles. Candidate generation is
    * LSH-bucket-bounded: cost scales with bucket collisions against 50
    * eval vectors, not with |train|·|eval|. */
  def semanticDecontam(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    // Par.fan: same single-task banding hazard as nearDupLshPairs
    val bucketed = graft.ops.Par.fan(e).select(col("vec_id"),
      posexplode(array(ndPlanes.map(tp =>
        signature(col("embedding"), tp)): _*)).as(Seq("tbl", "bucket")))
    val ev = bucketed.filter(col("vec_id") < SemEvalMax)
      .select(col("vec_id").as("eval_id"), col("tbl"), col("bucket"))
    val tr = bucketed.filter(col("vec_id") >= SemEvalMax)
      .select(col("vec_id").as("train_id"), col("tbl"), col("bucket"))
    val cand = tr.join(broadcast(ev), Seq("tbl", "bucket"))
      .select(col("train_id"), col("eval_id"))
      .dropDuplicates("train_id", "eval_id")
    cand
      .join(e.select(col("vec_id").as("train_id"),
        col("embedding").as("t_emb")), Seq("train_id"))
      .join(broadcast(e.filter(col("vec_id") < SemEvalMax)
        .select(col("vec_id").as("eval_id"),
          col("embedding").as("e_emb"))), Seq("eval_id"))
      .filter(cosine_sim(col("t_emb"), col("e_emb")) >= 0.35)
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        min(col("eval_id")).as("first_eval_id"))
      .orderBy(col("train_id"))
  }

  /** DuckDB spelling of [[semanticDecontam]]: the q49 band CTEs with the
    * eval/train split inside the candidate join. */
  def semanticDecontamSql: String =
    s"""WITH ${lshSqlCtes(ndPlanes)},
       |cand AS (
       |  SELECT s2.vec_id AS train_id, s1.vec_id AS eval_id
       |  FROM sigs s1 JOIN sigs s2 ON s1.tbl = s2.tbl AND s1.sig = s2.sig
       |  WHERE s1.vec_id < $SemEvalMax AND s2.vec_id >= $SemEvalMax
       |  GROUP BY 1, 2)
       |SELECT train_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
       |  min(eval_id) AS first_eval_id
       |FROM cand
       |JOIN emb et ON et.vec_id = train_id
       |JOIN emb ee ON ee.vec_id = eval_id
       |WHERE list_cosine_similarity(et.de, ee.de) >= 0.35
       |GROUP BY train_id
       |ORDER BY train_id""".stripMargin

  // ---- q235: mutual-kNN pairs ----------------------------------------------

  /** Neighborhood depth for the mutual-kNN graph. */
  val MutualK = 5

  /** q235 — MUTUAL nearest-neighbor pairs: (a, b) where b ranks in a's
    * LSH top-[[MutualK]] AND a ranks in b's. Mutuality is the standard
    * high-precision upgrade over one-directional kNN edges — a hub
    * vector appears in thousands of top-k lists without reciprocating,
    * so one-directional edges wire hubs into everything (exactly the
    * false-positive mode that poisons dedup clusters and positive-pair
    * mining); requiring the edge both ways removes hub edges with no
    * threshold to tune. Output carries both ranks, so consumers can
    * weight edges by rank agreement.
    *
    * Scale shape: EVERY vector is a probe here, so ranking goes through
    * one window over the bucket-bounded candidate set — partitioned by
    * query id (millions of small partitions, the well-shaped case), not
    * a global sort. Candidates are the q49 band-join pairs (ids only
    * through the shuffle); the mutuality check is a self-join of the
    * ≤N·k top-k relation on the swapped key. */
  def mutualKnn(s: SparkSession, dir: String): DataFrame =
    mutualPairs(s, dir).orderBy(col("a_id"), col("b_id"))

  /** [[mutualKnn]] without the output sort — the edge relation
    * [[Graph]] traverses (a traversal join would destroy the order
    * anyway, so consumers that don't need it shouldn't pay for it). */
  private[graft] def mutualPairs(s: SparkSession, dir: String): DataFrame =
    mutualPairsFromTopK(lshTopKAll(s, dir))

  /** The every-vector-as-probe LSH top-[[MutualK]] relation
    * (query_id, neighbor_id, rnk) — [[mutualKnn]]'s feed, exposed so the
    * spec can recompute mutuality independently of the production
    * self-join. */
  private[graft] def lshTopKAll(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    lshTopKFor(ndIndexOf(e), e.select(col("vec_id")),
      e.select(col("vec_id"), col("embedding")))
  }

  /** Band rows of `e` under the q235 (ndPlanes) tables — the mutual-kNN
    * graph's index schema (vec_id, embedding, tbl, bucket); the carried
    * state of [[graft.streaming.DocStreams.maintainMutualKnn]]. */
  private[graft] def ndIndexOf(e: DataFrame): DataFrame =
    graft.ops.Par.fan(e).select(
      col("vec_id"), col("embedding"),
      posexplode(array(ndPlanes.map(tp =>
        signature(col("embedding"), tp)): _*)).as(Seq("tbl", "bucket")))

  /** Top-[[MutualK]] lists from an EXPLICIT band index, restricted to
    * the `queryIds` (vec_id) relation: each restricted query ranks the
    * full index's bucket-bounded candidates. Ids only through the band
    * shuffle; embeddings re-attach afterwards from `vecRelation` — the
    * caller's N-row (vec_id, embedding) relation when it has one (batch
    * paths do; deriving it from the index would shuffle every
    * embedding-carrying band row through a dedup), or None for the
    * streaming maintainer, whose ONLY state is the index. The
    * restriction is what makes incremental maintenance exact: a query
    * whose buckets no new vector landed in has an UNCHANGED candidate
    * set, so its list never needs recomputation. */
  private[graft] def lshTopKFor(index: DataFrame, queryIds: DataFrame,
      vecRelation: DataFrame = null): DataFrame = {
    val vecs = (if (vecRelation != null) vecRelation
      else index.dropDuplicates("vec_id")
        .select(col("vec_id"), col("embedding")))
      .localCheckpoint(eager = false) // feeds both re-attach joins
    val bucketed = index.select(col("vec_id"), col("tbl"), col("bucket"))
    val a = bucketed.join(queryIds, Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("tbl"), col("bucket"))
    val b = bucketed.select(col("vec_id").as("neighbor_id"), col("tbl"),
      col("bucket"))
    val cand = a.join(b, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cand
      .join(vecs.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb")), Seq("query_id"))
      .join(vecs.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine_sim(col("q_emb"), col("n_emb")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= MutualK)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** The mutuality self-join over a (query_id, neighbor_id, rnk) top-k
    * relation — [[mutualPairs]]' second stage, exposed so the streaming
    * maintainer emits pairs from its CARRIED top-k state. O(N·k) input,
    * one swapped-key equi-join. */
  private[graft] def mutualPairsFromTopK(topk: DataFrame): DataFrame = {
    val t = topk.localCheckpoint(eager = false) // feeds both join sides
    val fwd = t.filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("a_id"), col("neighbor_id").as("b_id"),
        col("rnk").as("rnk_ab"))
    val rev = t.filter(col("query_id") > col("neighbor_id"))
      .select(col("neighbor_id").as("a_id"), col("query_id").as("b_id"),
        col("rnk").as("rnk_ba"))
    fwd.join(rev, Seq("a_id", "b_id"))
  }

  /** From-scratch mutual-kNN pairs of an arbitrary vector relation —
    * the batch-rebuild reference the streaming maintainer is checked
    * against ([[graft.streaming.DocStreams.maintainMutualKnn]]). */
  private[graft] def mutualPairsOfVecs(vecs: DataFrame): DataFrame =
    mutualPairsFromTopK(
      lshTopKFor(ndIndexOf(vecs), vecs.select(col("vec_id")),
        vecs.select(col("vec_id"), col("embedding"))))

  /** The [[mutualKnn]] CTE chain through `mutual(a_id, b_id, rnk_ab,
    * rnk_ba)` — shared with [[Graph]]'s oracles, which traverse the same
    * edge set. */
  private[graft] def mutualCtes: String =
    s"""${lshSqlCtes(ndPlanes)},
       |cand AS (
       |  SELECT s1.vec_id AS query_id, s2.vec_id AS neighbor_id
       |  FROM sigs s1 JOIN sigs s2 ON s1.tbl = s2.tbl AND s1.sig = s2.sig
       |  WHERE s1.vec_id <> s2.vec_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    list_cosine_similarity(qe.de, ne.de) AS cos
       |  FROM cand c
       |  JOIN emb qe ON qe.vec_id = c.query_id
       |  JOIN emb ne ON ne.vec_id = c.neighbor_id),
       |topk AS (
       |  SELECT query_id, neighbor_id, rnk FROM (
       |    SELECT query_id, neighbor_id,
       |      CAST(row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
       |    FROM scored)
       |  WHERE rnk <= $MutualK),
       |mutual AS (
       |  SELECT f.query_id AS a_id, f.neighbor_id AS b_id,
       |    f.rnk AS rnk_ab, r.rnk AS rnk_ba
       |  FROM topk f
       |  JOIN topk r ON r.query_id = f.neighbor_id
       |    AND r.neighbor_id = f.query_id
       |  WHERE f.query_id < f.neighbor_id)""".stripMargin

  /** DuckDB spelling of [[mutualKnn]]: same band candidates, same
    * (cos DESC, neighbor_id) ranking, same swapped-key self-join. */
  def mutualKnnSql: String =
    s"""WITH $mutualCtes
       |SELECT a_id, b_id, rnk_ab, rnk_ba FROM mutual
       |ORDER BY a_id, b_id""".stripMargin

  // ---- q44: IVF kNN ------------------------------------------------------

  /** Plain Lloyd's k-means over a driver-held sample: deterministic
    * (first-k init from the id-ordered sample, fixed iteration count, no
    * RNG), and FAST — a few hundred 64-dim points × 10 iterations is
    * microseconds of arithmetic, vs seconds of per-iteration job-scheduling
    * overhead when the same fit runs through a distributed KMeans. This is
    * the standard production IVF pattern: the coarse quantizer is trained
    * offline/on a sample and shipped to the scan as a constant. */
  private def lloyds(points: Array[Array[Float]], k: Int,
      iters: Int): Array[Array[Float]] = {
    val d = points.head.length
    // deterministic farthest-point init (greedy k-center): much better
    // spread than first-k when the sample is ordered by id
    def dist2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var j = 0
      while (j < d) { val df = a(j) - b(j); s += df * df; j += 1 }
      s
    }
    val init = scala.collection.mutable.ArrayBuffer(points.head)
    while (init.length < k) {
      init += points.maxBy(p => init.map(c => dist2(c, p)).min)
    }
    var centroids = init.toArray.map(_.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Int](k)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          var dist = 0.0; var j = 0
          while (j < d) {
            val diff = centroids(c)(j) - p(j); dist += diff * diff; j += 1
          }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        var j = 0
        while (j < d) { sums(best)(j) += p(j); j += 1 }
        counts(best) += 1
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else Array.tabulate(d)(j => (sums(c)(j) / counts(c)).toFloat)
      }
    }
    centroids
  }

  /** Hard bound on the k-means training sample: the driver collect is
    * O(IvfSampleCap) rows (~1 MB of 64-dim floats) at ANY corpus size. */
  val IvfSampleCap = 1024

  /** Top-n nearest centroids per vector via a BROADCAST centroid relation
    * — the probe shape for centroid counts past the constant-closure UDF's
    * comfort zone (k > 64). The crossJoin against the broadcast k-row
    * relation never shuffles the vectors; the top-n reduction is the
    * bounded [[graft.functions.TopK]] partial aggregation, so the exchange
    * carries O(N·n·partitions) rows — never the N·k scored pairs. */
  private def probeCentroids(vecs: DataFrame,
      centroids: Array[Array[Float]], n: Int): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val cdf = broadcast(centroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(_.toDouble).toSeq) }
      .toSeq.toDF("centroid", "c_emb"))
    val d2 = graft.functions.VectorFunctions.squared_distance(
      col("embedding").cast("array<double>"), col("c_emb"))
    vecs.select(col("vec_id"), col("embedding")).crossJoin(cdf)
      .select(col("vec_id"), col("centroid"), d2.as("d2"))
      .groupBy(col("vec_id"))
      .agg(graft.functions.TopK.top_k(n)(col("centroid"), -col("d2")).as("top"))
      .select(col("vec_id"), explode(col("top")).as("sc"))
      .select(col("vec_id"), col("sc.id").as("centroid"))
  }

  /** IVF-style ANN top-k: k-means coarse quantizer trained on a
    * FIXED-SIZE sample — the `sampleCap` hash-smallest vectors, collected
    * to the driver. TakeOrderedAndProject keeps ≤cap rows per partition
    * and the driver merge is a bounded priority queue, so the collect is
    * O(cap) at any corpus size (a keep-RATE filter would grow linearly
    * with N). Deterministic: xxhash64 order with vec_id tie-break,
    * re-sorted on the driver so farthest-point init sees a stable order.
    * Vectors are inverted-listed by nearest centroid; queries probe the
    * `nprobe` nearest centroids and exact-rerank only those lists — the
    * standard IVF trade (recall vs fraction scanned). */
  def knnIvf(s: SparkSession, dir: String,
      k: Int = 16, nprobe: Int = 8, topK: Int = 3,
      sampleCap: Int = IvfSampleCap): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val sample = e
      .select(xxhash64(col("vec_id")).as("h"), col("vec_id"), col("embedding"))
      .orderBy(col("h"), col("vec_id"))
      .limit(sampleCap)
      .collect()
      .sortBy(r => (r.getLong(0), r.getLong(1)))
      .map(_.getSeq[Float](2).toArray)
    val centroids = lloyds(sample, k, iters = 10)

    // nearest-centroid probe: over ≤64 centroids a closure UDF on the
    // constant array is cheapest (no join, no extra shuffle); above that
    // the centroids become a broadcast relation ([[probeCentroids]])
    val probeUdf = udf { (emb: Seq[Float], n: Int) =>
      centroids.zipWithIndex.map { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < c.length) {
          val diff = c(j) - emb(j); d += diff * diff; j += 1
        }
        (d, i)
      }.sortBy(_._1).take(n).map(_._2.toLong)
    }
    val (assigned, q) =
      if (k <= 64) {
        val a = e.select(col("vec_id"), col("embedding"),
          explode(probeUdf(col("embedding"), lit(1))).as("centroid"))
        val qq = a.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
            explode(probeUdf(col("embedding"), lit(nprobe))).as("centroid"))
        (a, qq)
      } else {
        val a = e.join(probeCentroids(e, centroids, 1), Seq("vec_id"))
          .select(col("vec_id"), col("embedding"), col("centroid"))
        val qvecs = e.filter(col("vec_id") < 10)
        val qq = qvecs
          .join(probeCentroids(qvecs, centroids, nprobe), Seq("vec_id"))
          .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
            col("centroid"))
        (a, qq)
      }

    // NO pair dedup here, unlike the multi-table LSH joins: every
    // candidate is assigned exactly ONE centroid and a query's probe
    // list is distinct, so the centroid equi-join emits each
    // (query, neighbor) pair at most once — a dropDuplicates would add
    // a full shuffle + hash aggregate over the largest intermediate
    // relation to remove nothing
    val pairs = q.join(assigned, Seq("centroid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine_sim(col("q_emb"), col("embedding")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    pairs.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** q44 — IVF recall check: per query, does the IVF top-3 recover at
    * least one of the exact top-3? k-means is engine-specific, so the
    * contract on the IVF side is a per-query boolean against the exact
    * answer; the EXACT side is emitted as an ordered id CSV that DuckDB
    * recomputes value-exactly (the q17 formulation) — so the oracle pins
    * the exact-neighbor ground truth, not just the query-id universe.
    * SimilaritySpec bounds the full recall fraction more tightly. */
  def q44IvfRecall(s: SparkSession, dir: String): DataFrame = {
    val ivf = knnIvf(s, dir)
    val exact = knnBruteForce(s, dir)
    val hits = ivf.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hit"))
    val exactTop = exact.groupBy(col("query_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rnk"), col("neighbor_id")))),
        x => x.getField("neighbor_id").cast("string")), ",").as("exact_top3"))
    exactTop
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("exact_top3"),
        (coalesce(col("n_hit"), lit(0L)) >= 1).as("recall_ok"))
      .orderBy(col("query_id"))
  }

  /** DuckDB spelling of q44: the exact top-3 recomputed via the q17 body
    * (value-exact), plus the tolerance-flag TRUE for the Spark-only IVF
    * side. */
  val q44Sql: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
      |  FROM embeddings WHERE vec_id < 10),
      |s AS (
      |  SELECT query_id, e.vec_id AS neighbor_id,
      |    list_cosine_similarity(qe, CAST(e.embedding AS DOUBLE[])) AS cos
      |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> query_id),
      |r AS (
      |  SELECT query_id, neighbor_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, neighbor_id) AS rnk
      |  FROM s)
      |SELECT query_id,
      |  string_agg(CAST(neighbor_id AS VARCHAR), ',' ORDER BY rnk)
      |    AS exact_top3,
      |  TRUE AS recall_ok
      |FROM r WHERE rnk <= 3
      |GROUP BY query_id
      |ORDER BY query_id""".stripMargin

  // ---- q54: normalization + int8 quantization ----------------------------

  /** q54 — L2-normalize each embedding and quantize to int8
    * (floor(x/‖x‖·127 + 0.5) — explicit floor-based rounding because
    * engines disagree on round()'s half-case while floor is exact). The
    * standard storage/bandwidth trade for vector search at 100 TB: int8
    * vectors are ¼ the bytes of float32 with ~1% cosine error. One scan,
    * no shuffle, all arithmetic in correctly-rounded IEEE ops, so the
    * DuckDB oracle matches the full quantized vector bit-for-bit (emitted
    * as CSV like q48). The squared-norm fold is STAGED as its own
    * projection (the lambda re-evaluation rule — see the Dedup scaladoc). */
  /** (vec_id, q: array<long>) int8-quantized normalized vectors — shared
    * by q54 (CSV dump) and q56 (per-label centroids). */
  // NOT fanned (Par.fan): the quantization fold is cheap relative to its
  // consumers, and the IVF/PQ family downstream is many small iterative
  // stages — fanning here multiplied their per-stage task overhead
  // (q97 1.27 s → 2.07 s sentinel-normalized at sf0.1) for no win
  def quantizedVectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding").cast("array<double>").as("de"))
      .select(col("vec_id"), col("de"),
        aggregate(col("de"), lit(0.0d), (acc, x) => acc + x * x).as("ss"))
      // barrier: `ss` is referenced inside the quantization lambda, and
      // CollapseProject otherwise inlines the whole norm FOLD there —
      // re-summing all D elements per element, O(D²) per vector
      // (measured 3× at D=64; grows with D)
      .localCheckpoint(eager = false)
      .filter(col("ss") > 0)
      .select(col("vec_id"),
        transform(col("de"),
          x => floor(x / sqrt(col("ss")) * 127 + 0.5).cast("long")).as("q"))

  /** (vec_id, q, label), materialized once via lazy localCheckpoint —
    * the quantized+labeled relation q61 and q69 each feed to TWO
    * consumers (an aggregate and a per-vector side); without the
    * checkpoint the scan + quantization fold would run twice per
    * query. */
  private def quantizedLabeled(e: DataFrame): DataFrame =
    quantizedVectors(e)
      .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
      .localCheckpoint(eager = false)

  /** Shared DuckDB CTE chain ending in `q(vec_id, label, q)` — the int8
    * quantization both engines agree on bit-for-bit; feeds the q56, q61
    * and q69 oracles. */
  private def quantCtes: String =
    """d AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS de
      |  FROM embeddings),
      |nrm AS (
      |  SELECT vec_id, label, de,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(de, x -> x * x)), (a, b) -> a + b) AS ss
      |  FROM d),
      |q AS (
      |  SELECT vec_id, label, list_transform(de,
      |    x -> CAST(floor(x / sqrt(ss) * 127 + 0.5) AS BIGINT)) AS q
      |  FROM nrm WHERE ss > 0)""".stripMargin

  def quantizeInt8(s: SparkSession, dir: String): DataFrame =
    quantizedVectors(Tables.embeddings(s, dir))
      .select(col("vec_id"),
        array_join(transform(col("q"), _.cast("string")), ",").as("q_csv"))
      .orderBy(col("vec_id"))

  val quantizeInt8Sql: String =
    """WITH d AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
      |n AS (
      |  SELECT vec_id, de,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(de, x -> x * x)), (a, b) -> a + b) AS ss
      |  FROM d)
      |SELECT vec_id,
      |  array_to_string(list_transform(de,
      |    x -> CAST(floor(x / sqrt(ss) * 127 + 0.5) AS BIGINT)), ',')
      |    AS q_csv
      |FROM n WHERE ss > 0
      |ORDER BY vec_id""".stripMargin

  /** q56 — per-label centroids of quantized vectors: the distributed
    * k-means-update/class-prototype pattern. posexplode to (label, dim,
    * q) rows, EXACT integer sums per (label, dim) — quantization makes
    * the per-dimension aggregation order-independent, which is what lets
    * a distributed float-vector mean hash-match a single-node engine
    * (raw float sums would differ in ULPs per partitioning). One shuffle
    * of (label, dim) keys; partial aggregation collapses map-side. */
  def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    quantizedVectors(e)
      .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("label"), posexplode(col("q")).as(Seq("pos", "qv")))
      .select(col("label"), (col("pos") + 1).cast("long").as("dim"), col("qv"))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("qv")).as("sum_q"), count(lit(1)).as("n"))
      .select(col("label"), col("dim"), col("sum_q"), col("n"),
        (col("sum_q").cast("double") / col("n")).as("mean_q"))
      .orderBy(col("label"), col("dim"))
  }

  val labelCentroidsSql: String =
    s"""WITH $quantCtes,
       |ex AS (
       |  SELECT label, r.range AS dim, q[r.range] AS qv
       |  FROM q CROSS JOIN range(1, ${Dim + 1}) r)
       |SELECT label, dim, CAST(sum(qv) AS BIGINT) AS sum_q,
       |  count(*) AS n, CAST(sum(qv) AS DOUBLE) / count(*) AS mean_q
       |FROM ex
       |GROUP BY label, dim
       |ORDER BY label, dim""".stripMargin

  // ---- q183: centroid-outlier worklist ------------------------------------

  /** q183 — embedding-hygiene outlier worklist: the 20 vectors FARTHEST
    * from their OWN label's centroid — the suspected-mislabel / out-of-
    * distribution candidates a data-cleaning pass inspects first (the
    * q169 label-these-next discipline applied to embedding space;
    * q61 asks "which centroid is nearest", this asks "how badly does
    * your own fit"). The distance core is FRACTION-FREE: with per-label
    * component sums S_d and member count n, n²·‖x − S/n‖² =
    * Σ_d (n·q_d − S_d)² is an exact BIGINT — no mean division, no IEEE
    * accumulation order to pin. The n² factor is label-dependent, so
    * the exact key only orders WITHIN a label; the globally-comparable
    * ranking key is d2_scaled = n2d2 / n², ONE terminal IEEE division
    * per vector whose inputs are both exact integers — the double (and
    * therefore the top-20 order) is bit-identical cross-engine. Int64 headroom: |n·q_d − S_d| ≤
    * 2n·127, so n2d2 ≤ 64·(254n)² — safe past n ≈ 10⁶ members per
    * label; beyond that the sums widen to decimal behind a row-count
    * gate exactly as the q134 Gram chain does (PcaWideSpec's rule).
    *
    * Scale shape: centroid sums are one (label, dim)-group partial agg
    * collapsing to labels×64 rows → collected into per-label arrays and
    * BROADCAST; the deviation fold is in-row over the broadcast join;
    * the global top-20 is TakeOrderedAndProject (O(k·partitions)
    * through the exchange) and the rank window sorts 20 rows. */
  def centroidOutliers(s: SparkSession, dir: String): DataFrame = {
    val qlab = quantizedLabeled(Tables.embeddings(s, dir))
    val cent = qlab
      .select(col("label").as("c_label"),
        posexplode(col("q")).as(Seq("pos", "qv")))
      .groupBy(col("c_label"), col("pos"))
      .agg(sum(col("qv")).as("s"))
      .groupBy(col("c_label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        x => x.getField("s")).as("s_arr"))
    val counts = qlab.groupBy(col("label").as("n_label"))
      .agg(count(lit(1)).as("n"))
    val dev = qlab
      .join(broadcast(cent), col("label") === col("c_label"))
      .join(broadcast(counts), col("label") === col("n_label"))
      .select(col("vec_id"), col("label"), col("n"),
        aggregate(
          zip_with(col("q"), col("s_arr"),
            (qv, sv) => (col("n") * qv - sv) * (col("n") * qv - sv)),
          lit(0L), (acc, x) => acc + x).as("n2d2"))
      .select(col("vec_id"), col("label"), col("n"), col("n2d2"),
        (col("n2d2").cast("double") /
          (col("n") * col("n")).cast("double")).as("d2_scaled"))
    val top = dev.orderBy(col("d2_scaled").desc, col("vec_id")).limit(20)
    top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("d2_scaled").desc, col("vec_id"))).cast("long"))
      .select(col("rank"), col("vec_id"), col("label"), col("n"),
        col("n2d2"), col("d2_scaled"))
  }

  /** DuckDB spelling: same quantization, same fraction-free key, same
    * single division and rank. */
  val centroidOutliersSql: String =
    s"""WITH $quantCtes,
       |ex AS (
       |  SELECT vec_id, label, r.range AS dim, q[r.range] AS qv
       |  FROM q CROSS JOIN range(1, ${Dim + 1}) r),
       |sums AS (
       |  SELECT label, dim, CAST(sum(qv) AS BIGINT) AS s
       |  FROM ex GROUP BY 1, 2),
       |cnts AS (SELECT label, count(*) AS n FROM q GROUP BY 1),
       |dev AS (
       |  SELECT e.vec_id, e.label, c.n,
       |    CAST(sum((c.n * e.qv - s.s) * (c.n * e.qv - s.s)) AS BIGINT)
       |      AS n2d2
       |  FROM ex e
       |  JOIN sums s ON s.label = e.label AND s.dim = e.dim
       |  JOIN cnts c ON c.label = e.label
       |  GROUP BY 1, 2, 3)
       |SELECT CAST(row_number() OVER
       |    (ORDER BY CAST(n2d2 AS DOUBLE) / CAST(n * n AS DOUBLE) DESC,
       |     vec_id) AS BIGINT) AS rank,
       |  vec_id, label, n, n2d2,
       |  CAST(n2d2 AS DOUBLE) / CAST(n * n AS DOUBLE) AS d2_scaled
       |FROM dev
       |ORDER BY d2_scaled DESC, vec_id
       |LIMIT 20""".stripMargin

  /** q61 — prototype classification: assign EVERY embedding to its
    * nearest per-label centroid (the q56 centroids — exact integer
    * dimension sums make them engine-portable) and report the
    * (true label, assigned label) confusion counts. The centroid relation
    * is tiny (labels × dims) and BROADCAST — the embeddings never
    * shuffle for the assignment; the only exchange is the final
    * confusion-count aggregation. Distances are a fixed left fold over
    * dims of (q_d − mean_d)² in double — mean_d = exact-int sum / count
    * is one IEEE division — so the argmin (ties broken by label) is
    * bit-reproducible in the generated DuckDB oracle. At 100 TB with
    * large k this is the same shape as the IVF probe: swap the
    * interpreted fold for the codegen distance expression; the plan
    * (broadcast + partial agg) is unchanged. */
  def nearestCentroid(s: SparkSession, dir: String): DataFrame = {
    val qlab = quantizedLabeled(Tables.embeddings(s, dir))
    val cent = qlab
      .select(col("label").as("c_label"), posexplode(col("q")).as(Seq("pos", "qv")))
      .groupBy(col("c_label"), col("pos"))
      .agg(sum(col("qv")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("c_label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"),
        (col("s").cast("double") / col("n")).as("m")))),
        x => x.getField("m")).as("c_emb"))
    // codegen inner loop; its left fold of (x−y)² is the IDENTICAL IEEE
    // sequence to the declarative aggregate(zip_with(...)) spelling and
    // to the generated DuckDB SQL, so the oracle hash is unchanged
    // (VectorSpec locks the equality)
    val d2 = graft.functions.VectorFunctions.squared_distance(
      col("q").cast("array<double>"), col("c_emb"))
    // argmin as min(struct(d2, label)) — lexicographic struct ordering IS
    // "nearest distance, label tie-break", and unlike a window ranking it
    // partial-aggregates map-side: the exchange never carries the N·k
    // scored rows, only one best-so-far per vector per partition.
    qlab
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"), col("c_label"), d2.as("d2"))
      .groupBy(col("vec_id"), col("label"))
      .agg(min(struct(col("d2"), col("c_label"))).as("best"))
      .groupBy(col("label").cast("long").as("label"),
        col("best.c_label").cast("long").as("assigned_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("assigned_label"))
  }

  /** DuckDB spelling of [[nearestCentroid]]: same quantization, same
    * exact-integer centroid sums, same fold order for the distances. */
  val nearestCentroidSql: String =
    s"""WITH $quantCtes,
       |ex AS (
       |  SELECT label, r.range AS dim, q[r.range] AS qv
       |  FROM q CROSS JOIN range(1, ${Dim + 1}) r),
       |cent0 AS (
       |  SELECT label AS c_label, dim,
       |    CAST(sum(qv) AS DOUBLE) / count(*) AS m
       |  FROM ex GROUP BY 1, 2),
       |cent AS (
       |  SELECT c_label, list(m ORDER BY dim) AS c_emb
       |  FROM cent0 GROUP BY c_label),
       |dist AS (
       |  SELECT q.vec_id, q.label, c.c_label,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, ${Dim + 1}),
       |        i -> (q.q[i] - c.c_emb[i]) * (q.q[i] - c.c_emb[i]))),
       |      (a, b) -> a + b) AS d2
       |  FROM q CROSS JOIN cent c),
       |r AS (
       |  SELECT vec_id, label, c_label,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
       |  FROM dist)
       |SELECT CAST(label AS BIGINT) AS label,
       |  CAST(c_label AS BIGINT) AS assigned_label, count(*) AS n
       |FROM r WHERE rn = 1
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** q69 — per-label embedding diversity: MEAN PAIRWISE dot product of
    * the int8-quantized vectors, computed WITHOUT any pairwise join via
    * the algebraic identity Σᵢ≠ⱼ qᵢ·qⱼ = |Σᵢqᵢ|² − Σᵢ|qᵢ|². One scan +
    * one (label, dim) shuffle where the naive spelling is an O(n²)
    * self-join per label — the reason a 100 TB diversity audit is
    * feasible at all. Quantization makes every term an EXACT integer
    * (per-dim sums ≤ 127·n; squares within long headroom under ANSI),
    * so the single final double division is bit-identical cross-engine.
    * Low mean pairwise similarity = diverse label; high = near-duplicate
    * cluster — the embedding-space twin of q64's n-gram diversity.
    * (Long headroom for s² holds to n ≈ 7·10⁸ per label under ANSI; past
    * that, widen `s` to decimal(38,0) — the identity is unchanged.) */
  def embeddingDiversity(s: SparkSession, dir: String): DataFrame = {
    val qlab = quantizedLabeled(Tables.embeddings(s, dir))
    // per-label, per-dim integer sums → |Σq|² = Σ_d (Σᵢ q_{i,d})²
    val sumSq = qlab
      .select(col("label"), posexplode(col("q")).as(Seq("pos", "qv")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("qv")).as("s"))
      .groupBy(col("label"))
      .agg(sum(col("s") * col("s")).as("s2"))
    // per-label Σᵢ|qᵢ|² and n
    val norms = qlab
      .select(col("label"),
        graft.functions.VectorFunctions.int_dot(col("q"), col("q"))
          .as("nn")) // codegen kernel; a direct ArrayAggregate fold (no
                     // zip_with) cannot be auto-upgraded by the rule
      .groupBy(col("label"))
      .agg(sum(col("nn")).as("ss"), count(lit(1)).as("n"))
    sumSq.join(norms, Seq("label"))
      .filter(col("n") > 1)
      .select(col("label").cast("long").as("label"), col("n"),
        col("s2"), col("ss"),
        ((col("s2") - col("ss")).cast("double") /
          (col("n").cast("double") * (col("n") - 1).cast("double")))
          .as("mean_pair_dot"))
      .orderBy(col("label"))
  }

  /** DuckDB spelling of [[embeddingDiversity]] — same quantization CTEs,
    * same integer identity, same single division. */
  val embeddingDiversitySql: String =
    s"""WITH $quantCtes,
       |ex AS (
       |  SELECT label, r.range AS dim, q[r.range] AS qv
       |  FROM q CROSS JOIN range(1, ${Dim + 1}) r),
       |s2 AS (
       |  SELECT label, CAST(sum(s * s) AS BIGINT) AS s2 FROM (
       |    SELECT label, dim, sum(qv) AS s FROM ex GROUP BY 1, 2)
       |  GROUP BY label),
       |norms AS (
       |  SELECT label,
       |    CAST(sum(nrm) AS BIGINT) AS ss, count(*) AS n FROM (
       |    SELECT label, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(q, x -> x * x)), (a, b) -> a + b) AS nrm
       |    FROM q)
       |  GROUP BY label)
       |SELECT CAST(s2.label AS BIGINT) AS label, n, s2.s2 AS s2, ss,
       |  CAST(s2.s2 - ss AS DOUBLE) /
       |    (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS mean_pair_dot
       |FROM s2 JOIN norms ON norms.label = s2.label
       |WHERE n > 1
       |ORDER BY label""".stripMargin

  // ---- q80: distributed k-means (Lloyd's, fixed iterations) ---------------

  private val KmK = 8

  /** q80 — portable distributed k-means over the int8-quantized embedding
    * space: deterministic seeding (the K hash-smallest vectors — the q53
    * content-keyed md5 bucket, so the seed set is identical across
    * engines, runs, and partitionings), then two full Lloyd iterations,
    * each = broadcast-centroid assignment (the q61 argmin shape:
    * codegen [[org.apache.spark.sql.graft.SquaredDistance]] +
    * `min(struct(d2, c_id))` partial-agg — the exchange carries one
    * best-so-far per vector per partition, never the N·K scored rows)
    * + exact-integer centroid update (the q56 shape: per-(cluster, dim)
    * long sums → one double division each). Output is cluster cardinality
    * + exact id sums — integer-only, so the oracle hash pins every
    * assignment without comparing any float.
    *
    * 100 TB design: per iteration ONE broadcast of K·d doubles out, ONE
    * (cluster, dim) partial-agg shuffle back — centroids never live on
    * the driver and the corpus never reshuffles. Iteration count is fixed
    * (not convergence-tested) BY DESIGN: a bounded declarative plan, and
    * the determinism contract an oracle can replay. Exact integer sums
    * make the update order-independent — the property that lets a
    * 32-partition Spark run hash-match a single-threaded engine
    * (float centroids would drift ULPs per partitioning and flip argmin
    * ties). */
  def kmeans(s: SparkSession, dir: String): DataFrame = {
    // (vec_id, q long-array, qd double-array): feeds seeding + 2
    // assignment passes + the centroid update — materialized once
    val qv = quantizedVectors(Tables.embeddings(s, dir))
      .select(col("vec_id"), col("q"), col("q").cast("array<double>").as("qd"))
      .localCheckpoint(eager = false)
    val hk = Text.md5Bucket1000(col("vec_id"))
    // K hash-smallest vectors, ranked → (c_id, c_emb). The limit(K)
    // relation is K rows, so the ranking window is trivial.
    val seeds = qv.select(col("vec_id"), col("qd"), hk.as("hk"))
      .orderBy(col("hk"), col("vec_id")).limit(KmK)
    val cent1 = seeds.select(
      row_number().over(Window.orderBy(col("hk"), col("vec_id")))
        .cast("long").as("c_id"),
      col("qd").as("c_emb"))
    def assign(cent: DataFrame): DataFrame = {
      val d2 = graft.functions.VectorFunctions.squared_distance(
        col("qd"), col("c_emb"))
      qv.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("c_id"), d2.as("d2"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("c_id"))).as("best"))
        .select(col("vec_id"), col("best.c_id").as("c_id"))
    }
    val cent2 = assign(cent1).join(qv, Seq("vec_id"))
      .select(col("c_id"), posexplode(col("q")).as(Seq("pos", "qv")))
      .groupBy(col("c_id"), col("pos"))
      .agg(sum(col("qv")).as("sq"), count(lit(1)).as("n"))
      .groupBy(col("c_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"),
        (col("sq").cast("double") / col("n")).as("m")))),
        x => x.getField("m")).as("c_emb"))
    assign(cent2)
      .groupBy(col("c_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("vec_id")).as("id_sum"),
        min(col("vec_id")).as("min_vec_id"))
      .orderBy(col("c_id"))
  }

  /** DuckDB spelling of [[kmeans]]: same quantization, same md5 seeding,
    * same fold order for distances, same exact-int centroid update. */
  val kmeansSql: String =
    s"""WITH $quantCtes,
       |qd AS (
       |  SELECT vec_id, q, list_transform(q, x -> CAST(x AS DOUBLE)) AS qd
       |  FROM q),
       |hk AS (
       |  SELECT vec_id, qd,
       |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
       |      % 1000 AS hk
       |  FROM qd),
       |cent1 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY hk, vec_id) AS BIGINT)
       |    AS c_id, qd AS c_emb
       |  FROM hk ORDER BY hk, vec_id LIMIT $KmK),
       |d1 AS (
       |  SELECT v.vec_id, c.c_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, ${Dim + 1}),
       |        i -> (v.qd[i] - c.c_emb[i]) * (v.qd[i] - c.c_emb[i]))),
       |      (a, b) -> a + b) AS d2
       |  FROM qd v CROSS JOIN cent1 c),
       |a1 AS (
       |  SELECT vec_id, c_id FROM (
       |    SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY d2, c_id) AS rn FROM d1)
       |  WHERE rn = 1),
       |ex AS (
       |  SELECT a1.c_id, r.range AS dim, v.q[r.range] AS qval
       |  FROM a1 JOIN qd v USING (vec_id)
       |  CROSS JOIN range(1, ${Dim + 1}) r),
       |cent2 AS (
       |  SELECT c_id, list(m ORDER BY dim) AS c_emb FROM (
       |    SELECT c_id, dim, CAST(sum(qval) AS DOUBLE) / count(*) AS m
       |    FROM ex GROUP BY 1, 2)
       |  GROUP BY c_id),
       |d2_ AS (
       |  SELECT v.vec_id, c.c_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, ${Dim + 1}),
       |        i -> (v.qd[i] - c.c_emb[i]) * (v.qd[i] - c.c_emb[i]))),
       |      (a, b) -> a + b) AS d2
       |  FROM qd v CROSS JOIN cent2 c),
       |a2 AS (
       |  SELECT vec_id, c_id FROM (
       |    SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY d2, c_id) AS rn FROM d2_)
       |  WHERE rn = 1)
       |SELECT c_id, count(*) AS n_members,
       |  CAST(sum(vec_id) AS BIGINT) AS id_sum,
       |  min(vec_id) AS min_vec_id
       |FROM a2
       |GROUP BY c_id
       |ORDER BY c_id""".stripMargin

  // ---- q87: product-quantization encode -----------------------------------

  /** PQ subspace count: the [[Dim]]-dim vector splits into this many
    * contiguous subvectors, each encoded independently. */
  val PqM = 4

  /** q87 — product-quantization encode: the compression half of IVF-PQ,
    * the architecture that makes billion-vector ANN feasible — a 100 TB
    * embedding store keeps [[PqM]] small codes per vector (here 4 bytes)
    * instead of [[Dim]] floats (256 bytes), and distance evaluation
    * becomes table lookups. Codebook per subspace = the per-label
    * centroids of that subvector (exact integer dimension sums over the
    * int8-quantized vectors — the q56 trick, so the codebook is
    * engine-portable); encode = per (vector, subspace) argmin of the
    * squared distance to each code, ties broken by code id.
    *
    * Scale shape: the codebook is PqM·labels·(Dim/PqM) doubles — trivially
    * broadcast; vectors never shuffle to encode. The argmin is
    * min(struct(d2, code)) — partial-aggregated map-side, so the exchange
    * carries one best-so-far per (vector, subspace) per partition, never
    * the ×codes scored rows. The left-fold distance order matches the
    * generated DuckDB SQL exactly (the [[nearestCentroid]] guarantee,
    * per subspace). */
  def pqEncode(s: SparkSession, dir: String): DataFrame = {
    val qlab = quantizedLabeled(Tables.embeddings(s, dir))
    pqCodes(qlab)
      .select(col("vec_id"), col("m").cast("long").as("m"),
        col("code").cast("long").as("code"))
      .orderBy(col("vec_id"), col("m"))
  }

  /** PQ codebook: per (subspace m, label-as-code) centroid of the
    * subvector slice — exact integer dimension sums (the q56 trick), one
    * IEEE division per entry, engine-portable. Shared by q87 and q97. */
  private def pqCodebook(qlab: DataFrame): DataFrame = {
    val sub = Dim / PqM
    qlab
      .select(col("label").as("code"), posexplode(col("q")).as(Seq("pos", "qv")))
      .groupBy((col("pos") / sub).cast("int").as("m"), col("code"), col("pos"))
      .agg(sum(col("qv")).as("sd"), count(lit(1)).as("n"))
      .groupBy(col("m"), col("code"))
      .agg(transform(array_sort(collect_list(struct(col("pos"),
        (col("sd").cast("double") / col("n")).as("mu")))),
        x => x.getField("mu")).as("c_sub"))
  }

  /** Each vector exploded to its PqM subvector slices (as doubles). */
  private def pqSubvectors(qlab: DataFrame): DataFrame = {
    val sub = Dim / PqM
    qlab.select(col("vec_id"), explode(array((0 until PqM).map(m =>
        struct(lit(m).as("m"),
          slice(col("q"), m * sub + 1, sub).cast("array<double>").as("sq"))): _*))
        .as("e"))
      .select(col("vec_id"), col("e.m").as("m"), col("e.sq").as("sq"))
  }

  /** Per-(vector, subspace) PQ code: argmin over codebook entries as
    * min(struct(d2, code)) — partial-aggregated, same fold order and
    * tie-break as the generated SQL. */
  private def pqCodes(qlab: DataFrame): DataFrame =
    pqSubvectors(qlab).join(broadcast(pqCodebook(qlab)), Seq("m"))
      .select(col("vec_id"), col("m"),
        graft.functions.VectorFunctions.squared_distance(
          col("sq"), col("c_sub")).as("d2"), col("code"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("code"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.code").as("code"))

  /** DuckDB spelling of [[pqEncode]]: same quantization, same exact-int
    * codebook sums, same per-subspace fold order and (d2, code) tie-break. */
  val pqEncodeSql: String = {
    val sub = Dim / PqM
    s"""WITH $quantCtes,
       |ex AS (
       |  SELECT vec_id, label, r.range AS pos, q[r.range] AS qv,
       |    (r.range - 1) // $sub AS m
       |  FROM q CROSS JOIN range(1, ${Dim + 1}) r),
       |cent0 AS (
       |  SELECT m, label AS code, pos,
       |    CAST(sum(qv) AS DOUBLE) / count(*) AS mu
       |  FROM ex GROUP BY 1, 2, 3),
       |cent AS (
       |  SELECT m, code, list(mu ORDER BY pos) AS c_sub
       |  FROM cent0 GROUP BY 1, 2),
       |sv AS (
       |  SELECT vec_id, m, list(CAST(qv AS DOUBLE) ORDER BY pos) AS sq
       |  FROM ex GROUP BY vec_id, m),
       |dist AS (
       |  SELECT sv.vec_id, sv.m, c.code,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, ${sub + 1}),
       |        i -> (sv.sq[i] - c.c_sub[i]) * (sv.sq[i] - c.c_sub[i]))),
       |      (a, b) -> a + b) AS d2
       |  FROM sv JOIN cent c ON c.m = sv.m),
       |r AS (
       |  SELECT vec_id, m, code,
       |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn
       |  FROM dist)
       |SELECT vec_id, CAST(m AS BIGINT) AS m, CAST(code AS BIGINT) AS code
       |FROM r WHERE rn = 1
       |ORDER BY vec_id, m""".stripMargin
  }

  // ---- q88: semantic dedup (SemDeDup-style) --------------------------------

  /** q88 — semantic dedup: cluster the q49 embedding near-dup pairs into
    * connected components and pick each cluster's REPRESENTATIVE — the
    * member nearest the cluster centroid (the SemDeDup policy; q60 is the
    * text-side twin with a length policy). The centroid-nearest argmin is
    * computed WITHOUT a float division: minimizing Σ_d (q_d − S_d/n)² over
    * members is equivalent to minimizing the EXACT-INTEGER
    * Σ_d (n·q_d − S_d)², so the choice is bit-reproducible cross-engine
    * (ANSI mode hard-fails rather than silently wraps past the documented
    * bound: |n·q_d − S_d| ≤ 254·n keeps the sum in long headroom to
    * n ≈ 1.5M members per cluster — far beyond near-dup cluster sizes;
    * widen to decimal(38,0) past that).
    *
    * Scale shape: LSH-bucketed pair generation (q49's plan, no cartesian),
    * dual-path CC (driver union-find under the cap, iterative label
    * propagation above it), then two keyed shuffles on cluster_id — sums
    * and argmin both partial-aggregate map-side. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val members = Dedup.connectedComponents(
        nearDupLshPairs(s, dir).localCheckpoint(eager = false))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
    // quantized member vectors feed the centroid sums AND the per-member
    // scoring — materialized once
    val mq = members
      .join(quantizedVectors(Tables.embeddings(s, dir)), Seq("vec_id"))
      .localCheckpoint(eager = false)
    val sums = mq
      .select(col("cluster_id"), posexplode(col("q")).as(Seq("pos", "qv")))
      .groupBy(col("cluster_id"), col("pos"))
      .agg(sum(col("qv")).as("sd"))
      .groupBy(col("cluster_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("sd")))),
        x => x.getField("sd")).as("sums"))
    val nRel = mq.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
    mq.join(sums, Seq("cluster_id"))
      .join(nRel, Seq("cluster_id"))
      .select(col("cluster_id"), col("vec_id"), col("n"),
        aggregate(zip_with(col("q"), col("sums"),
            (qd, sd) => (col("n") * qd - sd) * (col("n") * qd - sd)),
          lit(0L), (acc, x) => acc + x).as("dist_s"))
      .groupBy(col("cluster_id"))
      .agg(min(struct(col("dist_s"), col("vec_id"))).as("best"),
        max(col("n")).as("n_members"))
      .select(col("cluster_id"), col("best.vec_id").as("keep_vec_id"),
        col("n_members"))
      .orderBy(col("cluster_id"))
  }

  /** DuckDB spelling of [[semanticDedup]]: the shared near-dup pair CTEs,
    * recursive label-propagation CC, and the same integer argmin. */
  def semanticDedupSql: String =
    s"""WITH RECURSIVE $nearDupPairCtes,
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION ALL SELECT b_id, a_id FROM pairs),
       |cc AS (
       |  SELECT src AS node, src AS label FROM edges
       |  UNION
       |  SELECT e.dst AS node, c.label FROM cc c JOIN edges e ON e.src = c.node),
       |comp AS (
       |  SELECT node AS vec_id, min(label) AS cluster_id
       |  FROM cc GROUP BY node),
       |$quantCtes,
       |mq AS (
       |  SELECT c.vec_id, c.cluster_id, q.q FROM comp c JOIN q USING (vec_id)),
       |sums0 AS (
       |  SELECT cluster_id, r.range AS pos,
       |    CAST(sum(q[r.range]) AS BIGINT) AS sd
       |  FROM mq CROSS JOIN range(1, ${Dim + 1}) r
       |  GROUP BY 1, 2),
       |sums AS (
       |  SELECT cluster_id, list(sd ORDER BY pos) AS sums
       |  FROM sums0 GROUP BY 1),
       |nrel AS (SELECT cluster_id, count(*) AS n FROM mq GROUP BY 1),
       |scored AS (
       |  SELECT m.cluster_id, m.vec_id, nrel.n,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, ${Dim + 1}),
       |        i -> (nrel.n * m.q[i] - s.sums[i]) *
       |             (nrel.n * m.q[i] - s.sums[i]))),
       |      (a, b) -> a + b) AS dist_s
       |  FROM mq m JOIN sums s USING (cluster_id) JOIN nrel USING (cluster_id)),
       |r AS (
       |  SELECT cluster_id, vec_id, n,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY dist_s, vec_id) AS rn
       |  FROM scored)
       |SELECT cluster_id, vec_id AS keep_vec_id, n AS n_members
       |FROM r WHERE rn = 1
       |ORDER BY cluster_id""".stripMargin

  // ---- q97: IVF-PQ ANN search ----------------------------------------------

  /** Coarse-quantizer hash bits: 2^IvfBits inverted lists. */
  val IvfBits = 4
  private lazy val ivfPlanes: Array[Array[Double]] = {
    // fresh seed, NOT the q18 planes: the coarse partition and any
    // downstream LSH filter must not be correlated
    val rnd = new scala.util.Random(4242)
    Array.fill(IvfBits, Dim)(rnd.nextGaussian())
  }
  /** PQ codebook size per subspace. */
  val PqCodes = 8
  /** ADC shortlist size fed to the exact rerank. */
  val ShortR = 20
  /** Neighbors returned per query. */
  val PqTopK = 3

  /** q97 — IVF-PQ search, the architecture of billion-scale ANN (Jégou
    * et al., "Product Quantization for Nearest Neighbor Search"; every
    * FAISS-style system since). Four stages, each engine-portable:
    *
    *  1. '''Coarse quantizer''' (inverted lists): sign-LSH bucket over
    *     [[IvfBits]] fixed hyperplanes — 2^4 lists. A query MULTI-PROBES
    *     its own list plus the [[IvfBits]] Hamming-1 neighbors (flip one
    *     sign bit): 5/16 of the corpus, deterministically, with no
    *     distance ranking at probe time.
    *  2. '''PQ codebooks''': per-subspace k-means over the int8-quantized
    *     subvectors — deterministic hash-smallest seeding + one full
    *     Lloyd update (the q80 recipe: broadcast assignment argmin,
    *     exact-integer centroid sums), giving [[PqCodes]] codes per
    *     subspace. Every vector compresses to [[PqM]] small codes.
    *  3. '''ADC shortlist''': per query, a [[PqM]]×[[PqCodes]] lookup
    *     table of subspace distances (KBs, broadcast); candidate distance
    *     = [[PqM]] array lookups summed in fixed order — no floats move,
    *     nothing recomputed from raw vectors. Bounded TopK keeps
    *     [[ShortR]] per query.
    *  4. '''Exact rerank''': the shortlist re-attaches quantized vectors
    *     by id (the q49 re-attach pattern) and reranks by EXACT INTEGER
    *     squared distance — bit-reproducible, so the final top-
    *     [[PqTopK]] is oracle-exact end-to-end.
    *
    * Scale shape: the index build (buckets + codes: 4 + [[PqM]] bytes a
    * vector — what you'd persist at 100 TB) never shuffles vectors; the
    * probe is an equi-join on bucket delivering ~5/16 of the corpus; ADC
    * scoring partial-aggregates through bounded TopK (exchange =
    * O(Q·R·partitions)); only [[ShortR]] rows per query ever touch full
    * vectors again. Recall is dialed by (bits, probe radius, R) —
    * SimilaritySpec measures it against the exact q17 answer. */
  def ivfPqSearch(s: SparkSession, dir: String): DataFrame =
    ivfPqSearchOf(Tables.embeddings(s, dir))

  /** Build side of the IVF-PQ index, shared by q97 (in-memory) and q153
    * (persisted): returns (qv, bkt, sv, cent2, codes) — the quantized
    * vectors, coarse buckets, subvector slices, trained codebook, and
    * per-vector PQ codes. Everything deterministic, so building twice
    * (or persisting and re-reading) is value-identical. */
  private def pqIndexParts(e: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val sub = Dim / PqM
    val qv = quantizedVectors(e).localCheckpoint(eager = false)
    val bkt = e.select(col("vec_id"),
        signature(col("embedding"), ivfPlanes).cast("long").as("bucket"))
      .localCheckpoint(eager = false) // feeds probe side AND candidate side
    // per-vector subvector slices, int (exact) and double (distance) views
    val sv = qv.select(col("vec_id"), explode(array((0 until PqM).map(m =>
        struct(lit(m).as("m"), slice(col("q"), m * sub + 1, sub).as("sqi"))): _*))
        .as("e"))
      .select(col("vec_id"), col("e.m").as("m"), col("e.sqi").as("sqi"),
        col("e.sqi").cast("array<double>").as("sq"))
      .localCheckpoint(eager = false) // feeds seeding, 2 assignments, update
    // deterministic seeding: the PqCodes hash-smallest vectors' slices
    val seedIds = qv.select(col("vec_id"),
        Text.md5Bucket1000(col("vec_id")).as("hk"))
      .orderBy(col("hk"), col("vec_id")).limit(PqCodes)
      .select(col("vec_id"), row_number().over(
        Window.orderBy(col("hk"), col("vec_id"))).as("c_id"))
    val cent1 = seedIds.join(sv, Seq("vec_id"))
      .select(col("m"), col("c_id"), col("sq").as("c_sub"))
    // broadcast-assignment argmin (fixed fold, c_id tie-break)
    def assignSub(cent: DataFrame): DataFrame =
      sv.join(broadcast(cent), Seq("m"))
        .select(col("vec_id"), col("m"), col("c_id"),
          graft.functions.VectorFunctions.squared_distance(
            col("sq"), col("c_sub")).as("d2"))
        .groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("d2"), col("c_id"))).as("best"))
        .select(col("vec_id"), col("m"), col("best.c_id").as("c_id"))
    // one Lloyd update: exact-integer per-(m, code, dim) sums. c_id is
    // then RE-RANKED DENSE per subspace: a seed code that won zero
    // assignments vanishes from cent2, and the ADC lookup below indexes
    // the per-subspace LUT list POSITIONALLY — a gap would silently
    // shift every later code's slot (or overrun the list under ANSI)
    val cent2 = assignSub(cent1).join(sv, Seq("vec_id", "m"))
      .select(col("m"), col("c_id"), posexplode(col("sqi")).as(Seq("sp", "qv")))
      .groupBy(col("m"), col("c_id"), col("sp"))
      .agg(sum(col("qv")).as("sd"), count(lit(1)).as("n"))
      .groupBy(col("m"), col("c_id"))
      .agg(transform(array_sort(collect_list(struct(col("sp"),
        (col("sd").cast("double") / col("n")).as("mu")))),
        x => x.getField("mu")).as("c_sub"))
      .withColumn("c_id", row_number().over(
        Window.partitionBy(col("m")).orderBy(col("c_id"))))
      .localCheckpoint(eager = false) // feeds codes AND the query LUTs
    val codes = assignSub(cent2)
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("c_id")))),
        x => x.getField("c_id")).as("codes"))
    (qv, bkt, sv, cent2, codes)
  }

  /** [[ivfPqSearch]] over any (vec_id, embedding) frame — split out so
    * the spec can plant known near-duplicates and measure recall. */
  def ivfPqSearchOf(e: DataFrame): DataFrame = {
    val (qv, bkt, sv, cent2, codes) = pqIndexParts(e)
    // per-query ADC lookup tables, nested [m][code] in fixed order
    val lutd = sv.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("m"), col("sq"))
      .join(broadcast(cent2), Seq("m"))
      .select(col("qid"), col("m"), col("c_id"),
        graft.functions.VectorFunctions.squared_distance(
          col("sq"), col("c_sub")).as("d2"))
    val luts = lutd
      .groupBy(col("qid"), col("m"))
      .agg(transform(array_sort(collect_list(struct(col("c_id"), col("d2")))),
        x => x.getField("d2")).as("lm"))
      .groupBy(col("qid"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("lm")))),
        x => x.getField("lm")).as("lut"))
    // multi-probe: own bucket + all Hamming-1 flips
    val probed = bkt.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), explode(array(
        col("bucket") +: (0 until IvfBits).map(j =>
          col("bucket").bitwiseXOR(lit(1L << j))): _*)).as("bucket"))
    val adc = (1 to PqM).map { m =>
      expr(s"element_at(element_at(lut, $m), " +
        s"cast(element_at(codes, $m) as int))")
    }.reduceLeft(_ + _)
    val short = probed.join(bkt, Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .join(codes, Seq("vec_id"))
      .join(broadcast(luts), Seq("qid"))
      .select(col("qid"), col("vec_id"), adc.as("adc"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopK.top_k(ShortR)(col("vec_id"), -col("adc"))
        .as("top"))
      .select(col("qid"), explode(col("top.id")).as("vec_id"))
    // exact integer rerank of the shortlist (order-independent sums)
    val qints = qv.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qq"))
    short.join(qv, Seq("vec_id"))
      .join(broadcast(qints), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorFunctions
          .int_squared_distance(col("q"), col("qq")).as("d2i"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d2i"), col("vec_id")))
        .cast("long"))
      .filter(col("rnk") <= PqTopK)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"),
        col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** DuckDB spelling of [[ivfPqSearch]]: same planes (embedded
    * constants), same seeding, same Lloyd update, same LUTs, same probe
    * set, same ADC lookups and integer rerank. */
  val ivfPqSearchSql: String = {
    val sub = Dim / PqM
    val adcTerms = (1 to PqM)
      .map(m => s"l.lut[$m][CAST(co.codes[$m] AS INT)]").mkString(" + ")
    val probeList = ("b.bucket" +: (0 until IvfBits).map(j =>
      s"xor(b.bucket, ${1L << j})")).mkString(", ")
    s"""WITH ${lshSqlCtes(Array(ivfPlanes))},
       |bkt AS (SELECT vec_id, sig AS bucket FROM sigs WHERE tbl = 0),
       |$quantCtes,
       |ex AS (
       |  SELECT vec_id, (r.range - 1) // $sub AS m,
       |    ((r.range - 1) % $sub) + 1 AS sp, q[r.range] AS qv
       |  FROM q CROSS JOIN range(1, ${Dim + 1}) r),
       |sv AS (
       |  SELECT vec_id, m, list(CAST(qv AS DOUBLE) ORDER BY sp) AS sq
       |  FROM ex GROUP BY 1, 2),
       |hk AS (
       |  SELECT vec_id,
       |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
       |      % 1000 AS hk
       |  FROM q),
       |seedids AS (
       |  SELECT vec_id,
       |    row_number() OVER (ORDER BY hk, vec_id) AS c_id
       |  FROM hk ORDER BY hk, vec_id LIMIT $PqCodes),
       |cent1 AS (
       |  SELECT v.m, s.c_id, v.sq AS c_sub
       |  FROM seedids s JOIN sv v ON v.vec_id = s.vec_id),
       |d1 AS (
       |  SELECT v.vec_id, v.m, c.c_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, ${sub + 1}),
       |        i -> (v.sq[i] - c.c_sub[i]) * (v.sq[i] - c.c_sub[i]))),
       |      (a, b) -> a + b) AS d2
       |  FROM sv v JOIN cent1 c ON c.m = v.m),
       |a1 AS (
       |  SELECT vec_id, m, c_id FROM (
       |    SELECT vec_id, m, c_id, row_number() OVER (
       |      PARTITION BY vec_id, m ORDER BY d2, c_id) AS rn FROM d1)
       |  WHERE rn = 1),
       |upd AS (
       |  SELECT a1.m, a1.c_id, ex.sp,
       |    CAST(sum(ex.qv) AS DOUBLE) / count(*) AS mu
       |  FROM a1 JOIN ex ON ex.vec_id = a1.vec_id AND ex.m = a1.m
       |  GROUP BY 1, 2, 3),
       |cent2raw AS (
       |  SELECT m, c_id, list(mu ORDER BY sp) AS c_sub
       |  FROM upd GROUP BY 1, 2),
       |cent2 AS (
       |  SELECT m, row_number() OVER (PARTITION BY m ORDER BY c_id) AS c_id,
       |    c_sub
       |  FROM cent2raw),
       |d2_ AS (
       |  SELECT v.vec_id, v.m, c.c_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, ${sub + 1}),
       |        i -> (v.sq[i] - c.c_sub[i]) * (v.sq[i] - c.c_sub[i]))),
       |      (a, b) -> a + b) AS d2
       |  FROM sv v JOIN cent2 c ON c.m = v.m),
       |codesr AS (
       |  SELECT vec_id, m, c_id FROM (
       |    SELECT vec_id, m, c_id, row_number() OVER (
       |      PARTITION BY vec_id, m ORDER BY d2, c_id) AS rn FROM d2_)
       |  WHERE rn = 1),
       |codes AS (
       |  SELECT vec_id, list(c_id ORDER BY m) AS codes
       |  FROM codesr GROUP BY vec_id),
       |lutd AS (SELECT vec_id AS qid, m, c_id, d2 FROM d2_ WHERE vec_id < 10),
       |lut1 AS (
       |  SELECT qid, m, list(d2 ORDER BY c_id) AS lm
       |  FROM lutd GROUP BY 1, 2),
       |luts AS (SELECT qid, list(lm ORDER BY m) AS lut FROM lut1 GROUP BY 1),
       |probed AS (
       |  SELECT b.vec_id AS qid, unnest([$probeList]) AS bucket
       |  FROM bkt b WHERE b.vec_id < 10),
       |adc AS (
       |  SELECT p.qid, b.vec_id, ($adcTerms) AS adc
       |  FROM probed p
       |  JOIN bkt b ON b.bucket = p.bucket AND b.vec_id <> p.qid
       |  JOIN codes co ON co.vec_id = b.vec_id
       |  JOIN luts l ON l.qid = p.qid),
       |short AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id, row_number() OVER (
       |      PARTITION BY qid ORDER BY adc, vec_id) AS rn FROM adc)
       |  WHERE rn <= $ShortR),
       |rr AS (
       |  SELECT s.qid, s.vec_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, ${Dim + 1}),
       |        i -> (cq.q[i] - qq.q[i]) * (cq.q[i] - qq.q[i]))),
       |      (a, b) -> a + b) AS d2i
       |  FROM short s
       |  JOIN q cq ON cq.vec_id = s.vec_id
       |  JOIN q qq ON qq.vec_id = s.qid)
       |SELECT qid AS query_id, vec_id AS neighbor_id,
       |  CAST(rnk AS BIGINT) AS rnk
       |FROM (
       |  SELECT qid, vec_id, row_number() OVER (
       |    PARTITION BY qid ORDER BY d2i, vec_id) AS rnk FROM rr)
       |WHERE rnk <= $PqTopK
       |ORDER BY query_id, rnk""".stripMargin
  }

  // ---- q153: the IVF-PQ index persisted as a bucketed table ----------------

  /** File-buckets for the persisted index: one per coarse inverted list
    * (2^[[IvfBits]]), so bucket pruning on the probe set reads exactly
    * the probed lists' files. */
  val PqIndexBuckets: Int = 1 << IvfBits

  /** Build-once: persist q97's index artifacts as catalog tables (the
    * q124 write-the-shuffle-once discipline applied to an ANN index):
    *
    *  - `graft_pq_index_*` (bucket, vec_id, codes, q) — bucketed AND
    *    sorted by the coarse list id, [[PqIndexBuckets]] buckets. This
    *    is the 4 + [[PqM]] + 64-ints per vector you'd actually ship per
    *    release at 100 TB;
    *  - `graft_pq_codebook_*` (m, c_id, c_sub) — [[PqM]]·[[PqCodes]]
    *    rows, the trained per-subspace centroids.
    *
    * Everything in the build is deterministic, so persist-then-read is
    * value-identical to q97's in-memory build. */
  private def ensurePqIndex(s: SparkSession, dir: String): (String, String) = {
    val tag = Layout.dirTag(dir)
    val (idxT, cbT) = (s"graft_pq_index_$tag", s"graft_pq_codebook_$tag")
    // staleness gate: the table NAME keys on the path, but freshness
    // keys on the DATA (row count + max vec_id + schema hash) — if the
    // corpus under `dir` was replaced, both artifacts rebuild instead
    // of silently serving the old index. The index GEOMETRY constants
    // prefix the fingerprint: a Verify JVM over a leftover warehouse
    // built by an older binary with different PQ geometry must rebuild
    // too — data freshness alone would not catch a format change.
    val fp = s"pq${PqM}x${PqCodes}i${IvfBits}_" +
      Layout.fingerprintOf(Tables.embeddings(s, dir), "vec_id")
    if (!Layout.isFresh(s, idxT, fp) || !Layout.isFresh(s, cbT, fp)) {
      val (qv, bkt, _, cent2, codes) = pqIndexParts(Tables.embeddings(s, dir))
      Layout.writeBucketed(
        bkt.join(codes, Seq("vec_id")).join(qv, Seq("vec_id"))
          .select(col("bucket"), col("vec_id"), col("codes"), col("q")),
        idxT, "bucket", PqIndexBuckets, fp)
      Layout.writeManaged(cent2, cbT, fp)
    }
    (idxT, cbT)
  }

  /** q153 — probes served FROM THE PERSISTED INDEX: the steady-state
    * ANN serving path, where the corpus-sized work (coarse buckets, PQ
    * training, code assignment) was paid once at index-build time
    * ([[ensurePqIndex]]) and every query wave afterwards touches only
    * the probed inverted lists. Same probes, constants, ADC and exact
    * integer rerank as q97 — the persisted layout must be
    * value-invisible (q124's discipline), so the q97 oracle verifies
    * this query too.
    *
    * Scale shape — what the bucketed layout buys at serve time:
    *  - the probe set's coarse buckets are a BOUNDED driver list (10
    *    probes × (1+[[IvfBits]]) flips), so the candidate scan is
    *    `bucket IN (...)` over the bucketed table — Spark BUCKET
    *    PRUNING reads only the probed lists' files (plan-locked:
    *    SelectedBucketsCount), ~5/16 of the index, zero shuffle;
    *  - every join against the index broadcasts its bounded side
    *    (probe pairs, LUTs, shortlist, probe vectors) — index rows
    *    NEVER cross an exchange before the probe join; the only
    *    shuffles in the plan carry partial-TopK states and the ≤Q·R
    *    shortlist (plan-locked);
    *  - probe-side relations derive from the 10 external query vectors
    *    (pushdown-filtered scan), not from rescanning the index.
    * Recall/cost dials and their audit are q97/q117's. */
  def ivfPqServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sub = Dim / PqM
    val (idxT, cbT) = ensurePqIndex(s, dir)
    val idx = s.table(idxT)
    val cb = s.table(cbT)
    // the external query vectors (same probe contract as q97)
    val pe = Tables.embeddings(s, dir).filter(col("vec_id") < 10)
      .localCheckpoint(eager = false) // 10 rows, feeds buckets+LUTs+rerank
    val pqv = quantizedVectors(pe)
    // bounded driver action (10 rows): the probes' coarse buckets become
    // the literal IN-list that prunes the index scan to the probed lists
    val probeRows = pe
      .select(col("vec_id"),
        signature(col("embedding"), ivfPlanes).cast("long").as("bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pairs = probeRows.toSeq.flatMap { case (qid, b) =>
      (b +: (0 until IvfBits).map(j => b ^ (1L << j))).map(pb => (qid, pb))
    }
    val probed = pairs.toDF("qid", "bucket")
    val bktList = pairs.map(_._2).distinct
    // per-query ADC LUTs from the persisted codebook (q97's spelling)
    val psv = pqv.select(col("vec_id").as("qid"),
        explode(array((0 until PqM).map(m =>
          struct(lit(m).as("m"), slice(col("q"), m * sub + 1, sub)
            .cast("array<double>").as("sq"))): _*)).as("e"))
      .select(col("qid"), col("e.m").as("m"), col("e.sq").as("sq"))
    val luts = psv.join(broadcast(cb), Seq("m"))
      .select(col("qid"), col("m"), col("c_id"),
        graft.functions.VectorFunctions.squared_distance(
          col("sq"), col("c_sub")).as("d2"))
      .groupBy(col("qid"), col("m"))
      .agg(transform(array_sort(collect_list(struct(col("c_id"), col("d2")))),
        x => x.getField("d2")).as("lm"))
      .groupBy(col("qid"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("lm")))),
        x => x.getField("lm")).as("lut"))
    val adc = (1 to PqM).map { m =>
      expr(s"element_at(element_at(lut, $m), " +
        s"cast(element_at(codes, $m) as int))")
    }.reduceLeft(_ + _)
    // bucket-pruned candidate scan; all small sides broadcast
    val short = idx.filter(col("bucket").isin(bktList: _*))
      .join(broadcast(probed), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(luts), Seq("qid"))
      .select(col("qid"), col("vec_id"), adc.as("adc"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopK.top_k(ShortR)(col("vec_id"), -col("adc"))
        .as("top"))
      .select(col("qid"), explode(col("top.id")).as("vec_id"))
    // exact integer rerank: the ≤Q·R shortlist broadcasts back against
    // the SAME pruned bucket subset to re-attach candidate vectors
    val qints = pqv.select(col("vec_id").as("qid"), col("q").as("qq"))
    idx.filter(col("bucket").isin(bktList: _*))
      .select(col("vec_id"), col("q"))
      .join(broadcast(short), Seq("vec_id"))
      .join(broadcast(qints), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorFunctions
          .int_squared_distance(col("q"), col("qq")).as("d2i"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d2i"), col("vec_id")))
        .cast("long"))
      .filter(col("rnk") <= PqTopK)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"),
        col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Oracle: q97's SQL verbatim — the persisted index is pure layout,
    * so serving from it must reproduce the in-memory search exactly. */
  val ivfPqServeSql: String = ivfPqSearchSql

  // ---- q154: IVF-PQ serving recall audit -----------------------------------

  /** q154 — recall\@3 of the PERSISTED IVF-PQ serving path ([[ivfPqServe]],
    * q153 ≡ q97) against exact ground truth, per probe plus the macro
    * total (query_id = -1): q117's per-release index-quality audit
    * applied to the index a release actually SHIPS. Ground truth here is
    * the exact integer squared distance over the q54-quantized vectors —
    * the same metric the ADC approximates and the rerank uses, so the
    * audit isolates exactly the two lossy stages (coarse multi-probe
    * coverage and PQ code distortion), not a metric mismatch.
    *
    * Output is integer-derived (k, hits, one final division), so the
    * cross-engine hash cannot be disturbed by float ULPs.
    *
    * Scale shape: the exact arm is O(Q·N) — probes broadcast, one
    * corpus scan, per-partition TopK partial aggregation (never
    * pairwise in N); the approx arm is q153's bucket-pruned serve. Q is
    * the audit's cost knob at any corpus size. */
  def ivfPqRecall(s: SparkSession, dir: String): DataFrame = {
    val qv = quantizedVectors(Tables.embeddings(s, dir))
      .localCheckpoint(eager = false) // feeds probes AND the exact scan
    val probes = qv.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    val exact = qv.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.VectorFunctions
          .int_squared_distance(col("q"), col("qq")).as("d2i"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.top_k(PqTopK)(col("vec_id"),
        -col("d2i").cast("double")).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("neighbor_id"))
    val approx = ivfPqServe(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), coalesce(col("hit"), lit(0L)).as("hit"))
      .rollup(col("query_id"))
      .agg(count(lit(1)).as("k"), sum(col("hit")).as("hits"))
      .select(coalesce(col("query_id"), lit(-1L)).as("query_id"),
        col("k"), col("hits"),
        (col("hits").cast("double") / col("k")).as("recall"))
      .orderBy(col("query_id"))
  }

  /** DuckDB spelling: the full q97 pipeline as a nested-WITH CTE (the
    * approx arm), an exact integer-distance top-3 arm over the same
    * quantized vectors, then the q117 hit-count ROLLUP. */
  val ivfPqRecallSql: String = {
    val d2 = (p: String, c: String) =>
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, ${Dim + 1}),
         |        i -> ($c.q[i] - $p.q[i]) * ($c.q[i] - $p.q[i]))),
         |      (a, b) -> a + b)""".stripMargin
    s"""WITH approx AS ($ivfPqSearchSql),
       |$quantCtes,
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY p.vec_id
       |        ORDER BY ${d2("p", "c")}, c.vec_id) AS rnk
       |    FROM q p, q c
       |    WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id)
       |  WHERE rnk <= $PqTopK),
       |j AS (
       |  SELECT e.query_id,
       |    CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM exact e LEFT JOIN approx a
       |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id)
       |SELECT coalesce(query_id, -1) AS query_id,
       |  CAST(count(*) AS BIGINT) AS k, CAST(sum(hit) AS BIGINT) AS hits,
       |  CAST(sum(hit) AS DOUBLE) / count(*) AS recall
       |FROM j GROUP BY ROLLUP (query_id) ORDER BY query_id""".stripMargin
  }

  // ---- q115: release-over-release centroid drift ---------------------------

  /** q115 — embedding-centroid drift between releases: per label, the
    * cosine between the PREVIOUS release's centroid (md5 bucket of
    * vec_id < [[Corpus.IngestOldMax]] — the q99/q109/q112 release-split
    * convention) and the new drop's centroid, plus both member counts
    * and the exact integer moments. This is the distribution-shift
    * monitor a pipeline runs per crawl drop: a label whose incoming
    * centroid swings away from the corpus signals topic drift or a
    * broken upstream embedder BEFORE the drop is mixed in.
    *
    * Exactness: cosine is scale-invariant, so the cosine of the MEAN
    * vectors equals the cosine of the integer SUM vectors of the int8-
    * quantized embeddings — dot and both norms are exact BIGINT
    * aggregates, and the only floating point is three terminal IEEE ops
    * (one multiply, one sqrt, one divide), identical in both engines.
    * Long headroom: |so_d| ≤ 127·n, so dot terms stay within int64 to
    * n ≈ 8.5·10⁶ docs per label per dim-sum — past that widen the
    * moment sums to decimal(38,0) (the q104 note's remedy).
    *
    * Scale shape: one posexplode into (label, dim) partial aggregation
    * — map-side combine collapses the exchange to labels × dims rows;
    * the label-level roll-up is k rows. Nothing else moves. */
  def centroidDrift(s: SparkSession, dir: String): DataFrame =
    centroidDriftOf(Tables.embeddings(s, dir))

  /** [[centroidDrift]] over any (vec_id, embedding, label) frame — split
    * out so the spec can plant parallel and anti-parallel releases. */
  def centroidDriftOf(e: DataFrame): DataFrame = {
    val isNew = Text.md5Bucket1000(col("vec_id")) >= Corpus.IngestOldMax
    val byDim = quantizedLabeled(e)
      .select(col("label"), isNew.as("is_new"),
        posexplode(col("q")).as(Seq("pos", "qv")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(when(!col("is_new"), col("qv")).otherwise(0L)).as("so"),
        sum(when(col("is_new"), col("qv")).otherwise(0L)).as("sn"),
        sum(when(!col("is_new"), 1L).otherwise(0L)).as("co"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("cn"))
    byDim.groupBy(col("label"))
      // every dim of a label has the same member counts; max picks them
      // without a second scan of the base table
      .agg(max(col("co")).as("n_old"), max(col("cn")).as("n_new"),
        sum(col("so") * col("sn")).as("dot"),
        sum(col("so") * col("so")).as("norm_old"),
        sum(col("sn") * col("sn")).as("norm_new"))
      .select(col("label"), col("n_old"), col("n_new"), col("dot"),
        col("norm_old"), col("norm_new"),
        when(col("norm_old") > 0 && col("norm_new") > 0,
          col("dot").cast("double") /
            sqrt(col("norm_old").cast("double") *
              col("norm_new").cast("double")))
          .as("drift_cos"))
      .orderBy(col("label"))
  }

  /** DuckDB spelling of [[centroidDrift]]: same quantization, same
    * bucket split, same integer moments, same three terminal IEEE ops. */
  def centroidDriftSql: String = {
    val bucket = "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))" +
      "::BIGINT % 1000"
    s"""WITH $quantCtes,
       |ex AS (
       |  SELECT label, $bucket >= ${Corpus.IngestOldMax} AS is_new,
       |    r.range AS dim, q[r.range] AS qv
       |  FROM q CROSS JOIN range(1, ${Dim + 1}) r),
       |bydim AS (
       |  SELECT label, dim,
       |    sum(CASE WHEN NOT is_new THEN qv ELSE 0 END) AS so,
       |    sum(CASE WHEN is_new THEN qv ELSE 0 END) AS sn,
       |    sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS co,
       |    sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS cn
       |  FROM ex GROUP BY 1, 2)
       |SELECT label, CAST(max(co) AS BIGINT) AS n_old,
       |  CAST(max(cn) AS BIGINT) AS n_new,
       |  CAST(sum(so * sn) AS BIGINT) AS dot,
       |  CAST(sum(so * so) AS BIGINT) AS norm_old,
       |  CAST(sum(sn * sn) AS BIGINT) AS norm_new,
       |  CASE WHEN sum(so * so) > 0 AND sum(sn * sn) > 0 THEN
       |    CAST(sum(so * sn) AS DOUBLE) /
       |      sqrt(CAST(sum(so * so) AS DOUBLE) * CAST(sum(sn * sn) AS DOUBLE))
       |  END AS drift_cos
       |FROM bydim GROUP BY label ORDER BY label""".stripMargin
  }

  // ---- q117: ANN recall audit (LSH vs exact ground truth) ----------------

  /** q117 — recall\@3 of the LSH index ([[knnLsh]], q18) against exact
    * brute-force ground truth ([[knnBruteForce]], q17), per probe query
    * plus the macro total (`query_id = -1`). This is the index-quality
    * audit an ANN deployment runs per index release: the exact arm is the
    * deliberately-quadratic ground truth — the audit is what CONSUMES the
    * baseline, so "exact baseline" means "input to a measurement", not
    * dead weight in the registry.
    *
    * Output is integer-derived only (k, hits, and their one-division
    * ratio), so the cross-engine hash cannot be disturbed by float ULPs —
    * same contract as q17/q18.
    *
    * Scale shape: the probe set is FIXED (vec_id < 10 here; a sampled
    * probe set at 100 TB) so the exact arm is O(Q·N) with per-partition
    * TopK partial aggregation — linear in the corpus, never pairwise in
    * it. The approx arm is the production bucket join. Recall audits run
    * on Q ≈ 10³ probes regardless of corpus size; Q is the cost knob. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = knnBruteForce(s, dir).select(col("query_id"), col("neighbor_id"))
    val approx = knnLsh(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), coalesce(col("hit"), lit(0L)).as("hit"))
      .rollup(col("query_id"))
      .agg(count(lit(1)).as("k"), sum(col("hit")).as("hits"))
      .select(coalesce(col("query_id"), lit(-1L)).as("query_id"),
        col("k"), col("hits"),
        (col("hits").cast("double") / col("k")).as("recall"))
      .orderBy(col("query_id"))
  }

  /** DuckDB spelling of [[annRecall]]: both arms re-derived from the same
    * plane constants / cosine top-3 as the q17/q18 oracles, then the same
    * left-join hit count under ROLLUP. */
  def annRecallSql: String =
    s"""WITH ${lshSqlCtes(lshPlanes)},
       |cand AS (
       |  SELECT s1.vec_id AS query_id, s2.vec_id AS neighbor_id
       |  FROM sigs s1 JOIN sigs s2 ON s1.tbl = s2.tbl AND s1.sig = s2.sig
       |  WHERE s1.vec_id < 10 AND s2.vec_id <> s1.vec_id
       |  GROUP BY 1, 2),
       |ascored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    list_cosine_similarity(qe.de, ne.de) AS cos
       |  FROM cand c
       |  JOIN emb qe ON qe.vec_id = c.query_id
       |  JOIN emb ne ON ne.vec_id = c.neighbor_id),
       |approx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |    FROM ascored) WHERE rnk <= 3),
       |escored AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    list_cosine_similarity(q.de, e.de) AS cos
       |  FROM emb q JOIN emb e ON e.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |    FROM escored) WHERE rnk <= 3),
       |j AS (
       |  SELECT e.query_id,
       |    CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM exact e LEFT JOIN approx a
       |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id)
       |SELECT coalesce(query_id, -1) AS query_id,
       |  CAST(count(*) AS BIGINT) AS k, CAST(sum(hit) AS BIGINT) AS hits,
       |  CAST(sum(hit) AS DOUBLE) / count(*) AS recall
       |FROM j GROUP BY ROLLUP (query_id) ORDER BY query_id""".stripMargin

  // ---- q156: matryoshka truncation-recall audit ---------------------------

  /** Serving prefix length audited by q156 — the first [[TruncDim]] of
    * the [[Dim]] dimensions. */
  final val TruncDim = 16

  /** q156 — dimension-truncation recall audit: recall@3 of exact search
    * over only the first [[TruncDim]] embedding dimensions against exact
    * search over all [[Dim]], per probe plus the overall rollup. This is
    * the measurement behind a matryoshka-style serving decision: storing/
    * scanning a Dim/4 prefix cuts index memory and scan bandwidth 4×,
    * and this audit says what that costs in recall BEFORE the cheap
    * prefix is promoted to the first-pass ranker (with full-dim rerank,
    * the q142 two-stage shape). Companion to q117 (LSH recall) and q154
    * (IVF-PQ recall): same contract, different approximation axis.
    *
    * Both arms rank by the EXACT integer dot product of the q54
    * int8-quantized vectors (the truncated arm by the dot of the length-
    * [[TruncDim]] prefix), so every ranking is deterministic in both
    * engines — no float cosine, no ULP ties (ties break by neighbor id).
    * Output is integer-derived plus the one terminal division (q116's
    * rule).
    *
    * Scale shape: both arms are the q17 shape — fixed probe set, one
    * corpus scan each, [[graft.functions.TopK]] partial aggregation so
    * the exchange carries O(Q·k·partitions) rows, never the scored
    * pairs. The quantized relation is checkpointed once and feeds all
    * four consumers (query + candidate side of each arm). Probe count is
    * the cost knob, exactly as in q117. */
  def truncRecall(s: SparkSession, dir: String): DataFrame = {
    val quant = quantizedVectors(Tables.embeddings(s, dir))
      // four consumers: query + candidate side of each arm
      .localCheckpoint(eager = false)
    def top3(prefix: Option[Int]): DataFrame = {
      def v(c: Column): Column =
        prefix.map(n => slice(c, 1, n)).getOrElse(c)
      val q = quant.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), v(col("q")).as("qa"))
      quant.select(col("vec_id").as("neighbor_id"), v(col("q")).as("qb"))
        .crossJoin(broadcast(q))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          // |dot| ≤ Dim·127² ≈ 2²⁰ — exact in the double TopK scores;
          // codegen'd (the lambda fold ran interpreted per pair)
          graft.functions.VectorFunctions.int_dot(col("qa"), col("qb"))
            .cast("double").as("dot"))
        .groupBy(col("query_id"))
        .agg(graft.functions.TopK.top_k(3)(col("neighbor_id"), col("dot"))
          .as("top"))
        .select(col("query_id"), explode(col("top")).as("st"))
        .select(col("query_id"), col("st.id").as("neighbor_id"))
    }
    val exact = top3(None)
    val trunc = top3(Some(TruncDim)).withColumn("hit", lit(1L))
    exact.join(trunc, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), coalesce(col("hit"), lit(0L)).as("hit"))
      .rollup(col("query_id"))
      .agg(count(lit(1)).as("k"), sum(col("hit")).as("hits"))
      .select(coalesce(col("query_id"), lit(-1L)).as("query_id"),
        col("k"), col("hits"),
        (col("hits").cast("double") / col("k")).as("recall"))
      .orderBy(col("query_id"))
  }

  /** DuckDB spelling of [[truncRecall]]: q54's quantization CTEs, the
    * same two exact-integer-dot rankings (full range vs the
    * [[TruncDim]]-prefix range), same left-join hit count under ROLLUP. */
  def truncRecallSql: String =
    s"""WITH ${quantCtes},
       |fs AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, ${Dim + 1}), d -> a.q[d] * b.q[d])),
       |      (x, y) -> x + y) AS BIGINT) AS dot
       |  FROM q a JOIN q b ON b.vec_id <> a.vec_id
       |  WHERE a.vec_id < 10),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rnk
       |    FROM fs) WHERE rnk <= 3),
       |ts AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, ${TruncDim + 1}), d -> a.q[d] * b.q[d])),
       |      (x, y) -> x + y) AS BIGINT) AS dot
       |  FROM q a JOIN q b ON b.vec_id <> a.vec_id
       |  WHERE a.vec_id < 10),
       |approx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rnk
       |    FROM ts) WHERE rnk <= 3),
       |j AS (
       |  SELECT e.query_id,
       |    CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM exact e LEFT JOIN approx a
       |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id)
       |SELECT coalesce(query_id, -1) AS query_id,
       |  CAST(count(*) AS BIGINT) AS k, CAST(sum(hit) AS BIGINT) AS hits,
       |  CAST(sum(hit) AS DOUBLE) / count(*) AS recall
       |FROM j GROUP BY ROLLUP (query_id) ORDER BY query_id""".stripMargin

  // ---- q134: top principal component via exact-integer power iteration ----

  /** q134 dimensions: quantization scale, power-iteration rounds, and the
    * per-round magnitude cap the iterate renormalizes to. Compile-time
    * constants — read while unrolling the oracle CTE chain. */
  final val PcaScale  = 1000L
  final val PcaRounds = 6
  final val PcaVCap   = 512L

  /** q134 — top principal component of the embedding corpus by power
    * iteration on an exactly-aggregated Gram matrix (the first step of
    * PCA whitening / dimensionality reduction an embedding pipeline
    * runs before ANN indexing). Everything is integer-exact so the
    * DuckDB oracle hash-matches bit-for-bit:
    *
    *  1. quantize x → ⌊x·[[PcaScale]] + 0.5⌋ (q54's floor convention);
    *  2. Gram G = Σ q·qᵀ as exact BIGINT sums — only the j ≤ k upper
    *     triangle is generated (the lower mirrors by symmetry), so the
    *     explode carries N·d(d+1)/2 rows, not N·d²;
    *  3. [[PcaRounds]] rounds of v ← normalize(G·v) where the matvec is
    *     a d²-row join + partial agg and normalize rescales to
    *     ‖v‖∞ = [[PcaVCap]] with sign·(|w|·cap div max) — trunc-division
    *     on NON-NEGATIVE operands, the one integer-division spelling
    *     Spark `div` and DuckDB `//` agree on;
    *  4. the Rayleigh quotient vᵀGv / vᵀv of the final iterate is the
    *     top-eigenvalue estimate — two exact BIGINT dot products and ONE
    *     IEEE division at the very end (q116's rule). Units: λ of the
    *     quantized Gram ≈ λ of Σxxᵀ · [[PcaScale]]².
    *
    * Scale shape: the corpus is touched ONCE (the triangle explode
    * partial-aggregates map-side to ≤ d(d+1)/2 rows per partition);
    * every later join/agg runs on d²-row relations regardless of N, and
    * the localCheckpoint barrier materializes G once for all rounds.
    * Int64 headroom: each Rayleigh term is bounded by d²·cap²·max|g|
    * with max|g| ≤ N·(scale·max|x|)² — safe past 10⁷ vectors at these
    * constants; past [[PcaInt64SafeRows]] the chain SELF-SELECTS the
    * decimal(38,0) Gram spelling (q104's remedy, spec-locked in
    * PcaWideSpec) instead of silently overflowing.
    *
    * Determinism: fixed all-ones start, fixed round count, exact
    * integer arithmetic throughout — no convergence test, no float
    * accumulation, no sign ambiguity. */
  /** (vec_id, q) PcaScale-quantized raw vectors — the shared front end
    * of q134's Gram and q142's projections (q54 quantizes NORMALIZED
    * vectors; PCA wants raw moments, hence the separate scale). */
  private def pcaQuantOf(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), transform(col("embedding"),
        x => floor(x.cast("double") * PcaScale + lit(0.5d)).cast("long"))
        .as("q"))
      // barrier: CollapseProject would inline the quantize lambda into
      // every downstream posexplode (recomputing it per element)
      .localCheckpoint(eager = false)

  private def pcaMatvec(gram: DataFrame, v: DataFrame): DataFrame = gram
    .join(v, Seq("k"))
    .groupBy(col("j"))
    .agg(sum(col("g") * col("v")).as("w"))

  /** Row-count gate for the int64 Gram. The Rayleigh term is bounded by
    * d²·cap²·max|g| with max|g| ≤ N·(scale·max|x|)² — safe to ~10⁷
    * unit-scale vectors at these constants (the q134 doc's headroom
    * analysis). Past the gate [[buildPcaParts]] widens the Gram /
    * matvec / Rayleigh sums to decimal(38,0) (q104's predict-don't-hope
    * discipline: the query self-selects the wide spelling instead of
    * hitting ANSI ARITHMETIC_OVERFLOW mid-job), good to ~10¹⁷ rows. */
  final val PcaInt64SafeRows: Long = 10L * 1000 * 1000

  /** (quant(vec_id, q), vFinal(k, v), gram(j, k, g)) after
    * [[PcaRounds]] rounds — quant shared so q142 reuses ONE quantized
    * relation for projections and rerank; vFinal/gram shared by q134
    * (Rayleigh matvec) and q142 (projection only).
    *
    * `wide=true` runs the identical recurrence with the Gram entries,
    * matvec sums and Rayleigh numerator as decimal(38,0): products cast
    * BEFORE multiplying (a long·long product is what overflows first),
    * and the renorm quotient via decimal `div` — Spark's IntegralDivide
    * accepts decimal operands and returns the exact BIGINT integral
    * quotient, so the iterate `v` stays long (‖v‖∞ ≤ [[PcaVCap]]) and
    * bit-agrees with the narrow spelling wherever both fit (spec-locked
    * in PcaWideSpec). Only eig_num's column type differs (decimal vs
    * long) — engaged solely past [[PcaInt64SafeRows]], where the long
    * spelling cannot run at all. */
  private[graft] def buildPcaParts(emb: DataFrame, dim: Int,
      wide: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val quant = pcaQuantOf(emb)
    def widen(c: Column): Column = if (wide) c.cast("decimal(38,0)") else c
    val upper = quant
      .select(posexplode(col("q")).as(Seq("j", "qj")), col("q"))
      .select(col("j"), col("qj"),
        posexplode(slice(col("q"), col("j") + 1, lit(dim) - col("j")))
          .as(Seq("i2", "qk")))
      .groupBy(col("j"), (col("j") + col("i2")).as("k"))
      .agg(sum(widen(col("qj")) * col("qk")).as("g"))
    val gram = upper
      .unionAll(upper.filter(col("k") > col("j"))
        .select(col("k").as("j"), col("j").as("k"), col("g")))
      .localCheckpoint(eager = false) // one Gram, PcaRounds+1 consumers
    val v0 = emb.sparkSession.range(dim)
      .select(col("id").as("k"), lit(PcaVCap).as("v"))
    def renorm(w: DataFrame): DataFrame = w
      .crossJoin(broadcast(w.agg(greatest(max(abs(col("w"))), lit(1L)).as("m"))))
      .select(col("j").as("k"),
        (signum(col("w")).cast("long") *
          expr(s"(abs(w) * $PcaVCap) div m")).as("v"))
    val vFinal = (1 to PcaRounds)
      .foldLeft(v0)((v, _) => renorm(pcaMatvec(gram, v)))
      .localCheckpoint(eager = false) // feeds the matvec AND two dots
    (quant, vFinal, gram)
  }

  /** One PCA chain per (session, corpus) — round-7 verdict item 1:
    * q134 and q142 previously each rebuilt the quantize → Gram →
    * 6-round power-iteration chain (and q142 instantiated the quantized
    * relation twice on its own). This memo hands both queries the SAME
    * DataFrames, so whichever runs first materializes the lazy
    * localCheckpoints and the other reuses the cached blocks: the
    * corpus is quantized once per session, the Gram built once, the
    * iterate solved once. vFinal/gram are d- and d²-row relations;
    * quant's blocks are corpus-sized but MEMORY_AND_DISK — they spill,
    * they don't OOM. Keyed by the session object so entries die with
    * the session; a rewrite of `embeddings` rebuilds them. */
  private val pcaPartsCache =
    new graft.ops.SessionMemo[(DataFrame, DataFrame, DataFrame)]

  private def pcaParts(s: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) =
    pcaPartsCache.getOrBuild(s, dir) {
      val emb = Tables.embeddings(s, dir)
      buildPcaParts(emb, Dim, wide = emb.count() > PcaInt64SafeRows)
    }

  def pcaTopComponent(s: SparkSession, dir: String): DataFrame = {
    val (_, vFinal, gram) = pcaParts(s, dir)
    val wFinal = pcaMatvec(gram, vFinal)
    val rayleigh = wFinal.join(vFinal, col("j") === col("k"))
      .agg(sum(col("v") * col("w")).as("eig_num"),
        sum(col("v") * col("v")).as("eig_den"))
    vFinal
      .crossJoin(broadcast(rayleigh))
      .select(col("k").cast("long").as("dim"), col("v").as("loading"),
        col("eig_num"), col("eig_den"),
        (col("eig_num").cast("double") / col("eig_den")).as("eig_est"))
      .orderBy(col("dim"))
  }

  /** The PCA CTE body (quant → gram → unrolled rounds, q127's
    * discipline) shared by the q134 and q142 oracles; callers prepend
    * `WITH ` and append their own consumers of `v$PcaRounds`/`quant`. */
  private def pcaSqlCtes: String = {
    val rounds = (1 to PcaRounds).map { r =>
      s"""w$r AS (
         |  SELECT gram.j AS j, CAST(sum(g * v) AS BIGINT) AS w
         |  FROM gram JOIN v${r - 1} ON gram.k = v${r - 1}.k GROUP BY 1),
         |m$r AS (SELECT greatest(max(abs(w)), 1) AS m FROM w$r),
         |v$r AS (
         |  SELECT j AS k,
         |    CAST((CASE WHEN w < 0 THEN -1 ELSE 1 END)
         |      * ((abs(w) * $PcaVCap) // m) AS BIGINT) AS v
         |  FROM w$r, m$r)""".stripMargin
    }.mkString(",\n")
    s"""quant AS (
       |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
       |    x -> CAST(floor(x * $PcaScale + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |gram_u AS (
       |  SELECT j.j AS j, k.k AS k,
       |    CAST(sum(q[j.j + 1] * q[k.k + 1]) AS BIGINT) AS g
       |  FROM quant, range($Dim) j(j), range($Dim) k(k)
       |  WHERE k.k >= j.j
       |  GROUP BY 1, 2),
       |gram AS (
       |  SELECT j, k, g FROM gram_u
       |  UNION ALL
       |  SELECT k AS j, j AS k, g FROM gram_u WHERE k > j),
       |v0 AS (SELECT j AS k, CAST($PcaVCap AS BIGINT) AS v
       |       FROM range($Dim) t(j)),
       |$rounds""".stripMargin
  }

  val pcaTopComponentSql: String =
    s"""WITH $pcaSqlCtes,
       |wf AS (
       |  SELECT gram.j AS j, CAST(sum(g * v) AS BIGINT) AS w
       |  FROM gram JOIN v$PcaRounds ON gram.k = v$PcaRounds.k GROUP BY 1),
       |ray AS (
       |  SELECT CAST(sum(v * w) AS BIGINT) AS eig_num,
       |    CAST(sum(v * v) AS BIGINT) AS eig_den
       |  FROM wf JOIN v$PcaRounds ON wf.j = v$PcaRounds.k)
       |SELECT CAST(t.k AS BIGINT) AS dim, t.v AS loading,
       |  eig_num, eig_den,
       |  CAST(eig_num AS DOUBLE) / eig_den AS eig_est
       |FROM v$PcaRounds t, ray
       |ORDER BY dim""".stripMargin

  // ---- q142: PCA-projection-prefiltered ANN --------------------------------

  /** Candidates kept per probe by projection distance before rerank. */
  final val PcaCand = 50

  /** q142 — ANN by 1-D PCA projection pruning, CONSUMING q134's
    * component: every vector projects onto the power-iteration
    * eigenvector (exact integer dot); per probe, the [[PcaCand]]
    * projection-nearest vectors survive and an exact integer-dot rerank
    * picks top-3. This is the classic projection-index family
    * (spill-tree / PCA-tree root split) beside the LSH (q18), IVF
    * (q44) and IVF-PQ (q97) families — the cheapest index that exists:
    * ONE number per vector.
    *
    * Everything ranked on is an exact integer (projections, |Δproj|,
    * rerank dots; ties by id), so the result is engine-exact. The
    * projection-distance cut is geometry-blind in the 63 orthogonal
    * dimensions — exactly the recall/cost trade the audit shape (q117)
    * would measure; candidates here are provably the |Δproj| top-C set.
    *
    * Scale shape: the projection is ONE in-row dot per vector (explode +
    * partial agg, same cost class as the Gram); probes broadcast (10
    * rows); the per-probe top-C runs as [[graft.functions.TopK]] partial
    * aggregation — O(probes·C·partitions) through the exchange, never
    * O(probes·N) (the q17 lesson); rerank touches probes·C id-keyed
    * rows. */
  def pcaAnnTopK(s: SparkSession, dir: String): DataFrame = {
    // ONE chain: quant here is the same checkpointed relation the power
    // iteration consumed (and that q134 shares) — not a second build
    val (quant, vFinal, _) = pcaParts(s, dir)
    val proj = quant
      .select(col("vec_id"), posexplode(col("q")).as(Seq("k", "qx")))
      .join(vFinal, Seq("k"))
      .groupBy(col("vec_id"))
      .agg(sum(col("qx") * col("v")).as("proj"))
      .localCheckpoint(eager = false) // feeds probes AND the candidate scan
    val probes = proj.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("proj").as("pproj"))
    val cand = proj.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (-abs(col("proj") - col("pproj"))).cast("double").as("negd"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.top_k(PcaCand)(col("vec_id"), col("negd"))
        .as("top"))
      .select(col("query_id"), explode(col("top.id")).as("nid"))
    val rr = cand
      .join(quant.select(col("vec_id").as("query_id"), col("q").as("qp")),
        Seq("query_id"))
      .join(quant.select(col("vec_id").as("nid"), col("q").as("qn")),
        Seq("nid"))
      .select(col("query_id"), col("nid"),
        graft.functions.VectorFunctions.int_dot(col("qp"), col("qn"))
          .as("dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("nid"))
    rr.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("query_id"), col("nid").as("neighbor_id"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Oracle: the same projection/cut/rerank over the unrolled PCA CTEs. */
  val pcaAnnTopKSql: String =
    s"""WITH $pcaSqlCtes,
       |proj AS (
       |  SELECT q.vec_id, CAST(sum(q.q[t.k + 1] * t.v) AS BIGINT) AS proj
       |  FROM quant q, v$PcaRounds t
       |  GROUP BY q.vec_id),
       |probes AS (
       |  SELECT vec_id AS query_id, proj AS pproj FROM proj
       |  WHERE vec_id < 10),
       |cand AS (
       |  SELECT p.query_id, x.vec_id AS nid,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY abs(x.proj - p.pproj), x.vec_id) AS cr
       |  FROM proj x, probes p
       |  WHERE x.vec_id <> p.query_id),
       |rr AS (
       |  SELECT c.query_id, c.nid,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, ${Dim + 1}), d -> qp.q[d] * qn.q[d])),
       |      (x, y) -> x + y) AS BIGINT) AS dot
       |  FROM cand c
       |  JOIN quant qp ON qp.vec_id = c.query_id
       |  JOIN quant qn ON qn.vec_id = c.nid
       |  WHERE c.cr <= $PcaCand),
       |r AS (
       |  SELECT query_id, nid,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY dot DESC, nid) AS BIGINT) AS rnk
       |  FROM rr)
       |SELECT query_id, nid AS neighbor_id, rnk FROM r WHERE rnk <= 3
       |ORDER BY query_id, rnk""".stripMargin

  // ---- q139: hard-negative mining for metric learning ---------------------

  /** q139 — hard-negative mining: for every vector, the most-similar
    * DIFFERENT-label neighbor among its LSH bucket mates — the pair
    * relation contrastive/metric-learning training consumes (easy
    * negatives are random; the hard ones sit just across the decision
    * boundary, and they live in the same ANN buckets as their anchors).
    * Similarity ranks by the EXACT integer dot product of the q54
    * int8-quantized vectors, so the per-anchor argmax is deterministic —
    * no float cosine in the ordering, no ULP tie risk (ties break by
    * neighbor id).
    *
    * Scale shape: q49's production LSH DISCIPLINE under q18's plane
    * geometry (lshPlanes, 4 tables × 6 bits — the committed oracle is
    * generated from exactly these constants; tuning q49's NdTables/
    * NdBits does NOT move this query) — candidates are
    * same-(table, bucket) pairs only, so the corpus never self-joins
    * all-pairs; the quantized vectors join candidates BY ID (8-byte keys
    * shuffle, embeddings stay in place); the per-anchor argmax is a
    * bucket-bounded window. Bucket-size capping (q51's df cap) bounds
    * even adversarial skew. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val qlab = quantizedVectors(e)
      .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
      .localCheckpoint(eager = false) // joined twice (anchor + negative)
    // Par.fan: same single-task banding hazard as nearDupLshPairs
    // (profiled 0.56 s single-task in q139 at 32 cores)
    val bucketed = graft.ops.Par.fan(e).select(col("vec_id"),
      posexplode(array(lshPlanes.map(tp =>
        signature(col("embedding"), tp)): _*)).as(Seq("tbl", "bucket")))
    val cand = bucketed.select(col("vec_id").as("vid"), col("tbl"), col("bucket"))
      .join(bucketed.select(col("vec_id").as("nid"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("vid") =!= col("nid"))
      .select(col("vid"), col("nid"))
      .dropDuplicates("vid", "nid")
    val scored = cand
      .join(qlab.select(col("vec_id").as("vid"), col("q").as("qa"),
        col("label").as("label")), Seq("vid"))
      .join(qlab.select(col("vec_id").as("nid"), col("q").as("qb"),
        col("label").as("neg_label")), Seq("nid"))
      .filter(col("label") =!= col("neg_label"))
      .select(col("vid"), col("label"), col("nid"), col("neg_label"),
        // codegen'd exact integer dot (value-identical to the
        // aggregate(zip_with) fold, which ran interpreted per pair)
        graft.functions.VectorFunctions.int_dot(col("qa"), col("qb"))
          .as("dot"))
    val w = Window.partitionBy(col("vid"))
      .orderBy(col("dot").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vid").as("vec_id"), col("label"),
        col("nid").as("hard_neg_id"), col("neg_label"), col("dot"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB spelling: identical buckets from the embedded plane
    * constants (q18's CTEs), q54's quantization, exact integer dot. */
  val hardNegativesSql: String =
    s"""WITH ${lshSqlCtes(lshPlanes)},
       |n AS (
       |  SELECT vec_id, de,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(de, x -> x * x)), (a, b) -> a + b) AS ss
       |  FROM emb),
       |qv AS (
       |  SELECT vec_id, list_transform(de,
       |    x -> CAST(floor(x / sqrt(ss) * 127 + 0.5) AS BIGINT)) AS q
       |  FROM n WHERE ss > 0),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |cand AS (
       |  SELECT s1.vec_id AS vid, s2.vec_id AS nid
       |  FROM sigs s1 JOIN sigs s2 ON s1.tbl = s2.tbl AND s1.sig = s2.sig
       |  WHERE s1.vec_id <> s2.vec_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT c.vid, la.label AS label, c.nid, lb.label AS neg_label,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, ${Dim + 1}), d -> qa.q[d] * qb.q[d])),
       |      (x, y) -> x + y) AS BIGINT) AS dot
       |  FROM cand c
       |  JOIN lab la ON la.vec_id = c.vid
       |  JOIN lab lb ON lb.vec_id = c.nid AND lb.label <> la.label
       |  JOIN qv qa ON qa.vec_id = c.vid
       |  JOIN qv qb ON qb.vec_id = c.nid),
       |r AS (
       |  SELECT vid, label, nid, neg_label, dot,
       |    row_number() OVER (PARTITION BY vid ORDER BY dot DESC, nid) AS rn
       |  FROM scored)
       |SELECT vid AS vec_id, label, nid AS hard_neg_id, neg_label, dot
       |FROM r WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  // ---- q160: graph-centrality coreset ranking (integer PageRank) ----------

  /** q160 dimensions: the fixed-point probability scale each node's rank
    * mass is expressed in, and the fixed round count both engines unroll.
    * Damping is 85/100 (the classic 0.85), spelled as integer multiply
    * then `div` so every round stays BIGINT-exact. */
  final val PrScale  = 1000000000000L // 10^12: rank mass per whole corpus
  final val PrRounds = 4

  /** q160 — graph centrality over the near-dup similarity graph by
    * fixed-round integer PageRank: nodes = every embedding, edges = the
    * q49 LSH near-dup pairs (symmetrized), rank mass propagated for
    * [[PrRounds]] rounds with 0.85 damping. This is the graph-based
    * representativeness score data-selection pipelines use (rank a
    * corpus by how central each item is in its similarity graph, then
    * keep heads for coresets / demote tails as outliers) — and it adds
    * the iterative-graph-RANKING family beside the connectivity family
    * (q57/q58's components): PageRank, label propagation (q161) and
    * friends all reduce to the same per-round join-aggregate step.
    *
    * Exactness: all arithmetic is BIGINT — rank starts at
    * `PrScale div N` per node, each round sends `pr div deg` along every
    * edge and folds `tele + (85·inflow) div 100`. Both engines unroll
    * the identical recurrence (q134's fixed-round discipline), so the
    * final masses hash-compare exactly; the floor leak from integer
    * division is part of the contract, not noise.
    *
    * Scale shape: the edge feed is q49's banded LSH join (never
    * all-pairs); each round is ONE equi-join of the rank relation with
    * the adjacency (shuffled on node id — co-partitioned round over
    * round since the key never changes) plus ONE partial-aggregable
    * sum. That per-round shape is exactly how Pregel-style ranking runs
    * on any cluster; rounds are a fixed constant, so the plan is a
    * 4-deep chain, not an unbounded loop. The adjacency checkpoint
    * breaks re-derivation of the LSH join once per query. */
  /** The symmetrized near-dup adjacency q160 and q161 both walk, built
    * (and lineage-truncated) once per (session, dir) — the q88/q112
    * session-cache discipline: the LSH banding is the expensive feed,
    * and every graph query over it re-joins the SAME relation. */
  private[graft] val adjCache = new graft.ops.SessionMemo[DataFrame]
  private def nearDupAdjacency(s: SparkSession, dir: String): DataFrame =
    adjCache.getOrBuild(s, dir) {
      val pairs = nearDupLshPairs(s, dir)
      pairs.select(col("a_id").as("u"), col("b_id").as("v"))
        .union(pairs.select(col("b_id").as("u"), col("a_id").as("v")))
        .localCheckpoint(eager = false)
    }

  def graphCentrality(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val adj = nearDupAdjacency(s, dir)
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    // reused every round (and deg again at the end): derive the LSH
    // banding once, not PrRounds+1 times
    val adjDeg = adj.join(deg, Seq("u")).localCheckpoint(eager = false)
    // N relationally (1-row broadcast), so the query stays declarative:
    // teleport mass per node = floor(0.15 · PrScale/N), identical in SQL
    val nrel = broadcast(e.agg(count(lit(1)).as("n")))
    val nodes = e.select(col("vec_id")).crossJoin(nrel)
      .select(col("vec_id"),
        expr(s"$PrScale div n").as("pr0"),
        expr(s"(($PrScale div n) * 15) div 100").as("tele"))
      .localCheckpoint(eager = false) // re-joined every round
    var pr = nodes.select(col("vec_id"), col("pr0").as("pr"))
    for (_ <- 1 to PrRounds) {
      val inflow = adjDeg
        .join(pr.select(col("vec_id").as("u"), col("pr").as("pu")), Seq("u"))
        .select(col("v"), expr("pu div deg").as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("inflow"))
      pr = nodes
        .join(inflow, nodes("vec_id") === inflow("v"), "left")
        .select(nodes("vec_id"),
          (col("tele") +
            expr("(85 * coalesce(inflow, bigint(0))) div 100")).as("pr"))
    }
    pr.join(deg.select(col("u").as("vec_id"), col("deg")), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("deg"), lit(0L)).as("deg"), col("pr"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB spelling: the same pair CTEs, then [[PrRounds]] unrolled
    * rounds of the identical integer recurrence. */
  val graphCentralitySql: String = {
    val rounds = (1 to PrRounds).map { r =>
      s"""r$r AS (
         |  SELECT nd.vec_id, nd.tele + (85 * COALESCE(i.inflow, 0)) // 100 AS pr
         |  FROM nodes nd LEFT JOIN (
         |    SELECT a.v AS vec_id, CAST(SUM(p.pr // d.deg) AS BIGINT) AS inflow
         |    FROM adj a
         |    JOIN r${r - 1} p ON p.vec_id = a.u
         |    JOIN deg d ON d.u = a.u
         |    GROUP BY 1) i ON i.vec_id = nd.vec_id)"""
    }.mkString(",\n")
    s"""WITH $nearDupPairCtes,
       |adj AS (
       |  SELECT a_id AS u, b_id AS v FROM pairs
       |  UNION ALL SELECT b_id AS u, a_id AS v FROM pairs),
       |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
       |nrel AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
       |nodes AS (
       |  SELECT vec_id, ($PrScale // n) AS pr0,
       |    ((($PrScale // n) * 15) // 100) AS tele
       |  FROM embeddings CROSS JOIN nrel),
       |r0 AS (SELECT vec_id, pr0 AS pr FROM nodes),
       |$rounds
       |SELECT n.vec_id, COALESCE(d.deg, 0) AS deg, r.pr
       |FROM nodes n
       |LEFT JOIN deg d ON d.u = n.vec_id
       |JOIN r$PrRounds r ON r.vec_id = n.vec_id
       |ORDER BY n.vec_id""".stripMargin
  }

  // ---- q161: semi-supervised label propagation -----------------------------

  /** q161 dimensions: every [[LpSeedMod]]-th vector keeps its true label
    * as a clamped seed; propagation runs [[LpRounds]] unrolled rounds. */
  final val LpSeedMod = 5
  final val LpRounds  = 3

  /** q161 — semi-supervised auto-labeling by label propagation over the
    * near-dup graph: vectors with `vec_id % 5 = 0` are the labeled seed
    * set (their true label, clamped every round); every other node is
    * re-derived each round as the MAJORITY label of its currently-labeled
    * neighbors, ties to the smallest label. After [[LpRounds]] rounds
    * each vector reports seed / propagated / unlabeled status, its
    * inferred label, and — the audit column — whether the inference
    * matches the held-back true label. This is the label-spreading pass
    * that turns a small hand-labeled set into weak labels for the whole
    * corpus (Zhu & Ghahramani's label propagation, run exactly the way a
    * curation pipeline would: over the ANN near-dup graph it already
    * built, with the held-out agreement rate as the quality gate).
    *
    * Determinism: the per-node argmax key is `cnt·2⁶³ − label` in
    * 128-bit integers (DECIMAL(38,0) on the Spark side, HUGEINT in the
    * oracle — internal only, the output stays BIGINT): injective and
    * order-correct for every NON-NEGATIVE long label, so the max is
    * unique — majority first, smallest label on ties, no
    * engine-ordering dependence anywhere. (`label = Long.MinValue`
    * would collide — key(cnt, MinValue) = key(cnt+1, 0) — but labels
    * here are `embeddings.label` class ids, non-negative by the fixture
    * contract in TESTDATA.md, and both engines key on the same column
    * so even a violation stays engine-parallel.) (An earlier `cnt·1024 + (1023 − label)` key
    * silently inverted majorities once labels reached 1024.) Labeled-ness grows
    * monotonically (seeds never move; a labeled neighbor stays labeled),
    * but vote VALUES may legitimately shift between rounds — both
    * engines replay the identical recurrence.
    *
    * Scale shape: identical to q160 — per round, one equi-join of the
    * current label relation with the banded adjacency and one
    * partial-aggregable count/argmax; rounds are a fixed constant. */
  def labelPropagation(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val adj = nearDupAdjacency(s, dir) // shared, checkpointed once
    val seeds = e.filter(col("vec_id") % LpSeedMod === 0)
      .select(col("vec_id"), col("label").cast("long").as("label"))
      .localCheckpoint(eager = false) // unioned into every round
    var cur = seeds
    for (_ <- 1 to LpRounds) {
      val votes = adj
        .join(cur.select(col("vec_id").as("u"), col("label").as("nl")), Seq("u"))
        .filter(col("v") % LpSeedMod =!= 0) // seeds are clamped, never voted
        .groupBy(col("v"), col("nl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("v"))
        .agg(expr("max_by(nl, CAST(cnt AS DECIMAL(38,0)) * " +
          "CAST('9223372036854775808' AS DECIMAL(38,0)) - nl)")
          .as("label"))
      cur = seeds.union(votes.select(col("v").as("vec_id"), col("label")))
    }
    e.select(col("vec_id"), col("label").cast("long").as("truth"))
      .join(cur.withColumnRenamed("label", "label_out"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("vec_id") % LpSeedMod === 0, lit("seed"))
          .when(col("label_out").isNotNull, lit("propagated"))
          .otherwise(lit("unlabeled")).as("status"),
        col("label_out"),
        when(col("label_out").isNull, lit(null).cast("long"))
          .otherwise((col("label_out") === col("truth")).cast("long"))
          .as("correct"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB spelling: same pair CTEs, [[LpRounds]] unrolled vote/assign
    * rounds with the identical injective argmax key. */
  val labelPropagationSql: String = {
    val rounds = (1 to LpRounds).map { r =>
      s"""v$r AS (
         |  SELECT a.v, c.label AS nl, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM adj a JOIN c${r - 1} c ON c.vec_id = a.u
         |  WHERE a.v % $LpSeedMod <> 0
         |  GROUP BY 1, 2),
         |c$r AS (
         |  SELECT vec_id, label FROM seeds
         |  UNION ALL
         |  SELECT v AS vec_id, arg_max(nl, cnt::HUGEINT * 9223372036854775808::HUGEINT - nl) AS label
         |  FROM v$r GROUP BY v)"""
    }.mkString(",\n")
    s"""WITH $nearDupPairCtes,
       |adj AS (
       |  SELECT a_id AS u, b_id AS v FROM pairs
       |  UNION ALL SELECT b_id AS u, a_id AS v FROM pairs),
       |seeds AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings
       |  WHERE vec_id % $LpSeedMod = 0),
       |c0 AS (SELECT vec_id, label FROM seeds),
       |$rounds
       |SELECT t.vec_id,
       |  CASE WHEN t.vec_id % $LpSeedMod = 0 THEN 'seed'
       |       WHEN c.label IS NOT NULL THEN 'propagated'
       |       ELSE 'unlabeled' END AS status,
       |  c.label AS label_out,
       |  CASE WHEN c.label IS NULL THEN NULL
       |       ELSE CAST(c.label = t.truth AS BIGINT) END AS correct
       |FROM (SELECT vec_id, CAST(label AS BIGINT) AS truth
       |      FROM embeddings) t
       |LEFT JOIN c$LpRounds c ON c.vec_id = t.vec_id
       |ORDER BY t.vec_id""".stripMargin
  }

  // ---- q163: deterministic random-walk corpus (DeepWalk shape) ------------

  /** Steps per walk; every node with at least one edge starts one walk. */
  final val WalkLen = 4

  /** q163 — random-walk corpus over the near-dup graph: from every
    * connected node, a [[WalkLen]]-step walk where each hop is the
    * neighbor with the highest md5-derived weight of (current node,
    * step, neighbor) — "random" to the graph, deterministic to the
    * engines (the q53 content-keyed-hash discipline applied to walk
    * sampling). This is DeepWalk/node2vec's training-data generation
    * step: the emitted (start, pos, node) sequences are exactly the
    * sentences whose skip-gram pairs (q93's operator) train graph
    * embeddings — the third member of the graph family beside ranking
    * (q160) and labeling (q161).
    *
    * Determinism: the per-hop argmax key is the 32-bit md5 weight made
    * injective by folding the neighbor id into the low 20 bits, so
    * hash ties cannot make the walk engine-dependent (wider id spaces
    * widen the fold — the key just needs to stay within int64).
    * Walks never dead-end: the graph is symmetric, so any reached node
    * has at least the edge it was reached by.
    *
    * Scale shape: each hop is ONE equi-join of the walk frontier with
    * the shared checkpointed adjacency plus one partial-aggregable
    * argmax, all in a single plan chain (no per-step union — a union
    * spelling re-derives every prefix). Walk state that crosses the
    * exchange is (start, path, cur): ≤ [[WalkLen]]+2 longs per walk. */
  def walkCorpus(s: SparkSession, dir: String): DataFrame = {
    val adj = nearDupAdjacency(s, dir)
    var w = adj.select(col("u")).distinct()
      .select(col("u").as("start"), array(col("u")).as("path"),
        col("u").as("cur"))
    for (step <- 1 to WalkLen) {
      val key = s"cast(conv(substring(md5(concat(cast(cur as string), " +
        s"'#$step#', cast(v as string))), 1, 8), 16, 10) as bigint) " +
        s"* 1048576 + v"
      w = w.join(adj, w("cur") === adj("u"))
        .groupBy(w("start"), w("path"), w("cur"))
        .agg(expr(s"max_by(v, $key)").as("nxt"))
        .select(col("start"), concat(col("path"), array(col("nxt"))).as("path"),
          col("nxt").as("cur"))
    }
    w.select(col("start"), posexplode(col("path")).as(Seq("pos", "node_id")))
      .select(col("start"), col("pos").cast("long").as("pos"), col("node_id"))
      .orderBy(col("start"), col("pos"))
  }

  /** DuckDB spelling: unrolled hops with the identical injective keys. */
  val walkCorpusSql: String = {
    val hops = (1 to WalkLen).map { r =>
      s"""s$r AS (
         |  SELECT p.start AS start, arg_max(a.v,
         |    ('0x' || substr(md5(CAST(p.cur AS VARCHAR) || '#$r#' ||
         |       CAST(a.v AS VARCHAR)), 1, 8))::BIGINT * 1048576 + a.v) AS cur
         |  FROM s${r - 1} p JOIN adj a ON a.u = p.cur
         |  GROUP BY p.start, p.cur)"""
    }.mkString(",\n")
    val posUnion = (1 to WalkLen).map { r =>
      s"SELECT start, CAST($r AS BIGINT) AS pos, cur AS node_id FROM s$r"
    }.mkString("\n  UNION ALL ")
    s"""WITH $nearDupPairCtes,
       |adj AS (
       |  SELECT a_id AS u, b_id AS v FROM pairs
       |  UNION ALL SELECT b_id AS u, a_id AS v FROM pairs),
       |s0 AS (SELECT DISTINCT u AS start, u AS cur FROM adj),
       |$hops
       |SELECT start, CAST(0 AS BIGINT) AS pos, start AS node_id FROM s0
       |  UNION ALL $posUnion
       |ORDER BY start, pos""".stripMargin
  }

  // ---- q173: community modularity audit ------------------------------------

  /** q173 — Newman modularity of the q161 label-propagation communities
    * over the near-dup graph, in EXACT integer arithmetic: per
    * community, node count, degree mass K_c, doubled within-edge count,
    * and the scaled contribution `q_part = 2m·within2 − K_c²` — so that
    * Q = Σ q_part / 4m² exactly (no float enters the relation; the one
    * division is the consumer's). Unlabeled nodes are SINGLETON
    * communities by definition, folded into one `_rest` (= −2) row
    * whose contribution collapses to −Σ deg² (a singleton has no
    * within-edges); community −1 is the grand total. This is the
    * measurement that tells a pipeline whether its propagated labels
    * (q161) actually carve the similarity graph at its joints — the
    * q117/q140/q154 audit pattern applied to the graph family.
    *
    * Scale shape: within-edges = the adjacency joined twice against the
    * label relation BY NODE ID (ids only through the shuffle); degree
    * mass is a partial-aggregable rollup; everything downstream runs on
    * ≤ #communities rows. */
  def modularityAudit(s: SparkSession, dir: String): DataFrame = {
    val adj = nearDupAdjacency(s, dir)
    val lab = labelPropagation(s, dir)
      .select(col("vec_id"), col("label_out"))
      .localCheckpoint(eager = false) // labeled + rest both consume it
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val mrel = broadcast(adj.agg(expr("count(1) div 2").as("m")))
    val lc = lab.filter(col("label_out").isNotNull)
      .select(col("vec_id"), col("label_out").as("community"))
    val within2 = adj
      .join(lc.select(col("vec_id").as("u"), col("community")), Seq("u"))
      .join(lc.select(col("vec_id").as("v"),
        col("community").as("cv")), Seq("v"))
      .filter(col("community") === col("cv"))
      .groupBy(col("community")).agg(count(lit(1)).as("within2"))
    val perLabel = lc
      .join(deg.withColumnRenamed("u", "vec_id"), Seq("vec_id"), "left")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"),
        coalesce(sum(col("deg")), lit(0L)).as("k_sum"))
      .join(within2, Seq("community"), "left")
      .crossJoin(mrel)
      .select(col("community"), col("n_nodes"), col("k_sum"),
        coalesce(col("within2"), lit(0L)).as("within2"),
        (lit(2L) * col("m") * coalesce(col("within2"), lit(0L))
          - col("k_sum") * col("k_sum")).as("q_part"))
    val rest = lab.filter(col("label_out").isNull)
      .join(deg.withColumnRenamed("u", "vec_id"), Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_nodes"),
        coalesce(sum(col("deg")), lit(0L)).as("k_sum"),
        coalesce(sum(col("deg") * col("deg")), lit(0L)).as("sum_d2"))
      .select(lit(-2L).as("community"), col("n_nodes"), col("k_sum"),
        lit(0L).as("within2"), (-col("sum_d2")).as("q_part"))
    val rows = perLabel.union(rest).localCheckpoint(eager = false)
    val total = rows.agg(sum(col("n_nodes")).as("n_nodes"),
        sum(col("k_sum")).as("k_sum"), sum(col("within2")).as("within2"),
        sum(col("q_part")).as("q_part"))
      .select(lit(-1L).as("community"), col("n_nodes"), col("k_sum"),
        col("within2"), col("q_part"))
    rows.union(total).orderBy(col("community"))
  }

  /** DuckDB spelling: the q161 CTE chain, same integer contributions. */
  val modularityAuditSql: String = {
    val rounds = (1 to LpRounds).map { r =>
      s"""v$r AS (
         |  SELECT a.v, c.label AS nl, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM adj a JOIN c${r - 1} c ON c.vec_id = a.u
         |  WHERE a.v % $LpSeedMod <> 0
         |  GROUP BY 1, 2),
         |c$r AS (
         |  SELECT vec_id, label FROM seeds
         |  UNION ALL
         |  SELECT v AS vec_id, arg_max(nl, cnt::HUGEINT * 9223372036854775808::HUGEINT - nl) AS label
         |  FROM v$r GROUP BY v)"""
    }.mkString(",\n")
    s"""WITH $nearDupPairCtes,
       |adj AS (
       |  SELECT a_id AS u, b_id AS v FROM pairs
       |  UNION ALL SELECT b_id AS u, a_id AS v FROM pairs),
       |seeds AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings
       |  WHERE vec_id % $LpSeedMod = 0),
       |c0 AS (SELECT vec_id, label FROM seeds),
       |$rounds,
       |lab AS (
       |  SELECT e.vec_id, c.label AS label_out
       |  FROM embeddings e LEFT JOIN c$LpRounds c ON c.vec_id = e.vec_id),
       |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
       |mrel AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS m FROM adj),
       |lc AS (SELECT vec_id, label_out AS community FROM lab
       |  WHERE label_out IS NOT NULL),
       |w2 AS (
       |  SELECT la.community, CAST(COUNT(*) AS BIGINT) AS within2
       |  FROM adj a
       |  JOIN lc la ON la.vec_id = a.u
       |  JOIN lc lb ON lb.vec_id = a.v AND lb.community = la.community
       |  GROUP BY 1),
       |perlab AS (
       |  SELECT k.community, k.n_nodes, k.k_sum,
       |    COALESCE(w2.within2, 0) AS within2,
       |    2 * m.m * COALESCE(w2.within2, 0) - k.k_sum * k.k_sum AS q_part
       |  FROM (
       |    SELECT lc.community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |      CAST(COALESCE(SUM(d.deg), 0) AS BIGINT) AS k_sum
       |    FROM lc LEFT JOIN deg d ON d.u = lc.vec_id
       |    GROUP BY 1) k
       |  LEFT JOIN w2 ON w2.community = k.community
       |  CROSS JOIN mrel m),
       |rest AS (
       |  SELECT CAST(-2 AS BIGINT) AS community,
       |    CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(COALESCE(SUM(d.deg), 0) AS BIGINT) AS k_sum,
       |    CAST(0 AS BIGINT) AS within2,
       |    CAST(-COALESCE(SUM(d.deg * d.deg), 0) AS BIGINT) AS q_part
       |  FROM lab LEFT JOIN deg d ON d.u = lab.vec_id
       |  WHERE lab.label_out IS NULL),
       |allrows AS (SELECT * FROM perlab UNION ALL SELECT * FROM rest)
       |SELECT * FROM allrows
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(SUM(n_nodes) AS BIGINT),
       |  CAST(SUM(k_sum) AS BIGINT), CAST(SUM(within2) AS BIGINT),
       |  CAST(SUM(q_part) AS BIGINT)
       |FROM allrows
       |ORDER BY community""".stripMargin
  }

  // ---- q211: deterministic random-negative sampling -----------------------

  /** Negatives drawn per anchor. */
  final val NegK = 4
  /** Anchor stride: every [[NegAnchorStride]]-th doc anchors a pair set. */
  final val NegAnchorStride = 20L

  /** q211 — random-negative construction for contrastive training:
    * every [[NegAnchorStride]]-th doc is an anchor, and its
    * [[NegK]] negatives are drawn by hashing (anchor, j) into the
    * DENSE doc-id space — so "random" sampling becomes an EQUI-JOIN
    * on a computed id (no shuffle beyond the id join, no RNG state,
    * and every retry draws the same pairs — the q198 determinism
    * argument applied to pair construction). Self-collisions advance
    * by one (mod N). Each pair carries the two hygiene flags a
    * training pipeline filters on: same_source (weak negative — the
    * in-batch-negatives trap of near-domain pairs) and is_exact_dup
    * (md5-identical text — a FALSE negative that actively poisons the
    * loss; q139's hard negatives are the semantic complement of these
    * random ones).
    *
    * Scale shape: the anchor×j lattice is |docs|/stride·K rows; the
    * negative lookup is an equi-join on doc_id; the dup flag joins
    * 16-byte fingerprints. Nothing quadratic, nothing collected. */
  def negativeSampling(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
      .localCheckpoint(eager = false) // anchors, negatives AND count
    val n = docs.agg(count(lit(1)).as("n"))
    val anchors = docs.filter(pmod(col("doc_id"), lit(NegAnchorStride)) === 0L)
      .select(col("doc_id").as("anchor_id"), col("source").as("a_source"),
        col("fp").as("a_fp"))
    val pairs = anchors
      .crossJoin(broadcast(n))
      .select(col("anchor_id"), col("a_source"), col("a_fp"),
        explode(sequence(lit(1), lit(NegK))).as("j"),
        col("n"))
      .withColumn("draw", expr(
        "pmod(bigint(conv(substring(md5(concat(string(anchor_id), '|', " +
          "string(j))), 1, 13), 16, 10)), n)"))
      // self-collision advances by one, mod N (deterministic fix-up)
      .withColumn("neg_id",
        when(col("draw") === col("anchor_id"),
          pmod(col("draw") + 1, col("n"))).otherwise(col("draw")))
    pairs
      .join(docs.select(col("doc_id").as("neg_id"),
        col("source").as("n_source"), col("fp").as("n_fp")), Seq("neg_id"))
      .select(col("anchor_id"), col("j").cast("long").as("j"), col("neg_id"),
        (col("a_source") === col("n_source")).as("same_source"),
        (col("a_fp") === col("n_fp")).as("is_exact_dup"))
      .orderBy(col("anchor_id"), col("j"))
  }

  /** DuckDB spelling: same hash draw, same fix-up, same flags. */
  val negativeSamplingSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, md5(text) AS fp FROM documents),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
       |a AS (
       |  SELECT doc_id AS anchor_id, source AS a_source, fp AS a_fp
       |  FROM d WHERE doc_id % $NegAnchorStride = 0),
       |lattice AS (
       |  SELECT anchor_id, a_source, a_fp, CAST(j AS BIGINT) AS j, n.n,
       |    ('0x' || substr(md5(CAST(anchor_id AS VARCHAR) || '|' ||
       |      CAST(j AS VARCHAR)), 1, 13))::BIGINT % n.n AS draw
       |  FROM a, n, unnest(range(1, ${NegK + 1})) AS t(j)),
       |fixed AS (
       |  SELECT anchor_id, a_source, a_fp, j,
       |    CASE WHEN draw = anchor_id THEN (draw + 1) % n ELSE draw END
       |      AS neg_id
       |  FROM lattice)
       |SELECT anchor_id, j, neg_id,
       |  a_source = d.source AS same_source,
       |  a_fp = d.fp AS is_exact_dup
       |FROM fixed JOIN d ON d.doc_id = fixed.neg_id
       |ORDER BY anchor_id, j""".stripMargin

  // ---- q259: per-label anchor agreement, spelled declaratively -----------

  /** q259 — per-label ANCHOR AGREEMENT: each label's anchor is its
    * min-vec_id quantized vector; every member's exact integer dot
    * product against its label anchor rolls up to per-label
    * (n_vecs, sum_dot, min_dot, max_dot) — the cheap class-cohesion
    * audit a labeled embedding corpus publishes per release (a label
    * whose members stop agreeing with a pinned exemplar has drifted or
    * been polluted; the q115 centroid-drift signal with an anchored,
    * exactly-reproducible reference point).
    *
    * Deliberately spelled with the DECLARATIVE fold
    * `aggregate(zip_with(q, aq, (x, y) -> x * y), 0L, (acc, v) -> acc + v)`
    * rather than the direct `int_dot` call: this query exists (like
    * q258 for the intersect rule) to keep the injected
    * `RewriteIntDotFold` optimizer tier LOAD-BEARING in the driver gate
    * — the plan must show the codegen kernel, and `PlanShapeSpec`
    * asserts the lock turns red when the rule is excluded. Under the
    * session's ANSI mode the rewrite engages the kernel's
    * overflow-checked arm (error-set-identical to the fold).
    *
    * Scale shape: anchors are one ≤#labels-row relation (broadcast);
    * the corpus scans once, the dot runs inside whole-stage codegen per
    * row, and the rollup partial-aggregates map-side — nothing
    * corpus-sized shuffles. */
  def anchorDot(s: SparkSession, dir: String): DataFrame = {
    val q = quantizedLabeled(Tables.embeddings(s, dir))
    val anchors = q.groupBy(col("label"))
      .agg(min(col("vec_id")).as("a_id"))
      .join(q.select(col("vec_id").as("a_id"), col("q").as("aq")),
        Seq("a_id"))
      .select(col("label"), col("aq"))
    q.join(broadcast(anchors), Seq("label"))
      .selectExpr("label", "vec_id",
        "aggregate(zip_with(q, aq, (x, y) -> x * y), 0L, " +
          "(acc, v) -> acc + v) AS dot")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("dot")).as("sum_dot"),
        min(col("dot")).as("min_dot"), max(col("dot")).as("max_dot"))
      .orderBy(col("label"))
  }

  /** DuckDB spelling: the shared quantization CTEs, the same min-id
    * anchor join, the same exact integer dot (fixed 64-dim lattice). */
  val anchorDotSql: String =
    s"""WITH $quantCtes,
       |anch AS (
       |  SELECT label, min(vec_id) AS a_id FROM q GROUP BY label),
       |aqv AS (
       |  SELECT a.label, qq.q AS aq
       |  FROM anch a JOIN q qq ON qq.vec_id = a.a_id),
       |dots AS (
       |  SELECT v.label, v.vec_id,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, ${Dim + 1}), i -> v.q[i] * a.aq[i])),
       |      (x, y) -> x + y) AS BIGINT) AS dot
       |  FROM q v JOIN aqv a ON a.label = v.label)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(dot) AS BIGINT) AS sum_dot,
       |  min(dot) AS min_dot, max(dot) AS max_dot
       |FROM dots GROUP BY label
       |ORDER BY label""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q259_anchor_dot" -> (anchorDot _),
    "q211_negative_sampling" -> (negativeSampling _),
    "q160_graph_centrality" -> (graphCentrality _),
    "q161_label_propagation" -> (labelPropagation _),
    "q163_walk_corpus" -> (walkCorpus _),
    "q173_modularity_audit" -> (modularityAudit _),
    "q134_pca_power" -> (pcaTopComponent _),
    "q139_hard_negatives" -> (hardNegatives _),
    "q142_pca_ann" -> (pcaAnnTopK _),
    "q117_ann_recall" -> (annRecall _),
    "q156_trunc_recall" -> (truncRecall _),
    "q115_centroid_drift" -> (centroidDrift _),
    "q97_ivfpq_search" -> (ivfPqSearch _),
    "q153_pq_index_serve" -> (ivfPqServe _),
    "q154_ivfpq_recall" -> (ivfPqRecall _),
    "q87_pq_encode" -> (pqEncode _),
    "q88_semantic_dedup" -> (semanticDedup _),
    "q80_kmeans" -> (kmeans _),
    "q69_embedding_diversity" -> (embeddingDiversity _),
    "q61_nearest_centroid" -> (nearestCentroid _),
    "q56_label_centroids" -> (labelCentroids _),
    "q183_centroid_outliers" -> (centroidOutliers _),
    "q54_quantize_int8" -> (quantizeInt8 _),
    "q17_knn_brute"  -> (knnBruteForce _),
    "q18_knn_lsh"    -> ((s: SparkSession, d: String) => knnLsh(s, d)),
    "q232_filtered_ann" -> (filteredAnn _),
    "q233_postfilter_audit" -> (postFilterAudit _),
    "q234_semantic_decontam" -> (semanticDecontam _),
    "q235_mutual_knn" -> (mutualKnn _),
    "q44_knn_ivf"    -> (q44IvfRecall _),
    "q49_neardup_lsh" -> ((s: SparkSession, d: String) => nearDupLsh(s, d)))

  val oracles: Map[String, String] = Map(
    "q259_anchor_dot" -> anchorDotSql,
    "q211_negative_sampling" -> negativeSamplingSql,
    "q160_graph_centrality" -> graphCentralitySql,
    "q161_label_propagation" -> labelPropagationSql,
    "q163_walk_corpus" -> walkCorpusSql,
    "q173_modularity_audit" -> modularityAuditSql,
    "q134_pca_power" -> pcaTopComponentSql,
    "q139_hard_negatives" -> hardNegativesSql,
    "q142_pca_ann" -> pcaAnnTopKSql,
    "q117_ann_recall" -> annRecallSql,
    "q156_trunc_recall" -> truncRecallSql,
    "q115_centroid_drift" -> centroidDriftSql,
    "q97_ivfpq_search" -> ivfPqSearchSql,
    "q153_pq_index_serve" -> ivfPqServeSql,
    "q154_ivfpq_recall" -> ivfPqRecallSql,
    "q87_pq_encode" -> pqEncodeSql,
    "q88_semantic_dedup" -> semanticDedupSql,
    "q80_kmeans" -> kmeansSql,
    "q69_embedding_diversity" -> embeddingDiversitySql,
    "q61_nearest_centroid" -> nearestCentroidSql,
    "q56_label_centroids" -> labelCentroidsSql,
    "q183_centroid_outliers" -> centroidOutliersSql,
    "q54_quantize_int8" -> quantizeInt8Sql,
    "q17_knn_brute"  -> knnBruteForceSql,
    "q18_knn_lsh"    -> knnLshSql,
    "q232_filtered_ann" -> filteredAnnSql,
    "q233_postfilter_audit" -> postFilterAuditSql,
    "q234_semantic_decontam" -> semanticDecontamSql,
    "q235_mutual_knn" -> mutualKnnSql,
    "q44_knn_ivf"    -> q44Sql,
    "q49_neardup_lsh" -> nearDupLshSql)
}
