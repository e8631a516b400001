package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Iterative graph traversal over the mutual-kNN semantic graph — the
  * operator class (bounded-round Pregel-style message passing) that a
  * declarative plan cannot express in one pass. North-star extension (no
  * counterpart in the reference's 3-query surface — reference:
  * CollegeScorecard.scala has exact-key grouping only).
  *
  * Nodes are embedding vectors; edges are q235's MUTUAL top-k pairs
  * ([[Similarity.mutualPairs]]) — the hub-resistant similarity graph that
  * curation pipelines build anyway (dedup clusters, label propagation,
  * coreset picking all run over it). Three traversals:
  *
  *   - q242 BFS hop distance from labeled seeds — "how many similarity
  *     hops from trusted data is each vector?", the semi-supervised
  *     expansion primitive (label spreading's support).
  *   - q243 triangle enumeration — the graph's clustering structure;
  *     triangles are the unit of community density (a mutual-kNN graph
  *     with no triangles is noise; dense triangle neighborhoods are
  *     paraphrase clusters).
  *   - q244 cheapest bounded-hop path — BFS weighted by rank agreement
  *     (rnk_ab + rnk_ba: 1+1 = the two vectors are each other's FIRST
  *     neighbor), so distance reflects how strong the chain of
  *     similarity is, not just how long.
  *
  * '''Scale shape.''' Each BFS/Bellman-Ford round is ONE shuffle join of
  * the frontier against the edge relation partitioned by src — the
  * standard Pregel step; rounds are bounded by [[MaxHops]], so the whole
  * traversal is ≤ [[MaxHops]] joins, each O(|frontier| + |E|) with no
  * driver-side state beyond the empty-frontier check. The edge relation
  * is localCheckpoint-ed once and reused every round (re-deriving it
  * would re-run the LSH candidate join per round). Triangle enumeration
  * uses DEGREE orientation — every edge points from its lower-(degree,
  * id) endpoint — which bounds wedge fan-out by the graph's degeneracy
  * (a hub of degree d contributes wedges only to HIGHER-degree
  * neighbors, so a star graph yields zero wedges instead of d²); this is
  * the standard O(|E|^1.5) bound, vs the id-oriented join that blows up
  * quadratically on one hot node. Walks revisiting vertices cost extra
  * rounds but not correctness: min() over walk costs equals min() over
  * simple paths for nonnegative weights.
  */
object Graph {

  /** Traversal round bound: BFS/relaxation rounds and the oracle's
    * recursion depth. ≤4 similarity hops is where semantic relatedness
    * decays to noise in a mutual-kNN graph (each hop compounds the
    * neighbor threshold). */
  val MaxHops = 4

  /** Seed label for q242/q244: vectors labeled [[SeedLabel]] are the
    * "trusted" set distances are measured from. */
  val SeedLabel = 0

  /** Undirected edge relation of the mutual-kNN graph: both directions
    * of each q235 pair, weighted by rank agreement (2 = mutual first
    * neighbors … 2·[[Similarity.MutualK]] = barely mutual).
    * Checkpointed AND memoized per (session, dir): every traversal
    * round of every q242–q247 query re-reads it, and rebuilding the
    * LSH candidate join per query would dominate the whole family
    * (measured 3.5 s of the 4–5 s per query at sf0.1 — a graph is
    * built once and traversed many times). */
  private[graft] val edgeCache = new graft.ops.SessionMemo[DataFrame]
  private def mutualEdges(s: SparkSession, dir: String): DataFrame =
    edgeCache.getOrBuild(s, dir) {
      val pairs = Similarity.mutualPairs(s, dir)
        .select(col("a_id"), col("b_id"),
          (col("rnk_ab") + col("rnk_ba")).as("w"))
      pairs.select(col("a_id").as("src"), col("b_id").as("dst"), col("w"))
        .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst"),
          col("w")))
        .localCheckpoint()
    }

  /** q242 — BFS hop distance ≤ [[MaxHops]] from the [[SeedLabel]] seed
    * vectors over the mutual-kNN graph: (vec_id, hops, label) for every
    * reached vector (seeds at hop 0). The per-round left-anti join
    * against the reached set is what keeps the frontier shrinking —
    * without it a cycle re-expands forever; with it each vector is
    * expanded exactly once (classic frontier BFS). */
  def bfsHops(s: SparkSession, dir: String): DataFrame = {
    val edges = mutualEdges(s, dir).select(col("src"), col("dst"))
    val emb = Tables.embeddings(s, dir)
    val seeds = emb.filter(col("label") === SeedLabel).select(col("vec_id"))
    // LAZY checkpoints + no per-round isEmpty (round 16): the eager
    // spelling ran ~3 driver-blocking jobs per hop (isEmpty + 2
    // checkpoint materializations) — 4 hops of tiny joins serialized on
    // driver round trips (the scaling block's 0.67 ratio). A lazy
    // localCheckpoint still truncates lineage at construction and still
    // materializes each round exactly once (the RDD persists on first
    // compute, and both consumers — next round's anti-join and the
    // union — read the same blocks), but the WHOLE traversal now runs
    // as one job. Rounds are bounded by MaxHops, so the dropped
    // early-exit only skips joins against an already-empty frontier.
    var reached = seeds.withColumn("hops", lit(0L))
      .localCheckpoint(eager = false)
    var frontier = seeds
    var hop = 1L
    while (hop <= MaxHops) {
      frontier = frontier.select(col("vec_id").as("src"))
        .join(edges, Seq("src"))
        .select(col("dst").as("vec_id")).distinct()
        .join(reached, Seq("vec_id"), "left_anti")
        .localCheckpoint(eager = false)
      reached = reached
        .union(frontier.withColumn("hops", lit(hop)))
        .localCheckpoint(eager = false)
      hop += 1
    }
    reached
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("vec_id"), col("hops"), col("label"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB spelling of [[bfsHops]]: same mutual edges, recursive CTE
    * bounded at [[MaxHops]], min(hop) per node. The UNION (not UNION
    * ALL) dedups (node, hop) states so the recursion is polynomial. */
  def bfsHopsSql: String =
    s"""WITH RECURSIVE ${Similarity.mutualCtes},
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM mutual
       |  UNION ALL SELECT b_id, a_id FROM mutual),
       |walk AS (
       |  SELECT vec_id AS node, CAST(0 AS BIGINT) AS hop
       |  FROM embeddings WHERE label = $SeedLabel
       |  UNION
       |  SELECT e.dst, w.hop + 1 FROM walk w
       |  JOIN edges e ON e.src = w.node
       |  WHERE w.hop < $MaxHops),
       |dist AS (SELECT node AS vec_id, min(hop) AS hops FROM walk GROUP BY 1)
       |SELECT d.vec_id, d.hops, e.label
       |FROM dist d JOIN embeddings e USING (vec_id)
       |ORDER BY d.vec_id""".stripMargin

  /** q243 — every triangle of the mutual-kNN graph as an id-sorted
    * (a_id, b_id, c_id) triple. Degree-oriented enumeration: orient each
    * edge from its lower-(degree, id) endpoint, build wedges from each
    * node's out-neighbors, close them against the oriented edge set —
    * each triangle closes exactly once (at its lowest-(degree, id)
    * corner), and hub nodes generate no wedges toward lower-degree
    * neighbors, so skew cannot blow the wedge join up. */
  def triangles(s: SparkSession, dir: String): DataFrame = {
    // one canonical row per undirected edge, off the shared memo (the
    // a<b orientation is recoverable from the symmetric relation)
    val pairs = mutualEdges(s, dir)
      .filter(col("src") < col("dst"))
      .select(col("src").as("a_id"), col("dst").as("b_id"))
    val deg = pairs.select(col("a_id").as("v"))
      .union(pairs.select(col("b_id").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val aLower = col("da") < col("db") ||
      (col("da") === col("db") && col("a_id") < col("b_id"))
    val oriented = pairs
      .join(deg.select(col("v").as("a_id"), col("deg").as("da")),
        Seq("a_id"))
      .join(deg.select(col("v").as("b_id"), col("deg").as("db")),
        Seq("b_id"))
      .select(when(aLower, col("a_id")).otherwise(col("b_id")).as("u"),
        when(aLower, col("b_id")).otherwise(col("a_id")).as("v"))
      .localCheckpoint(eager = false) // feeds both wedge arms AND the
        // closing join — lazy: persists on first compute within the job
    val wedges = oriented.select(col("u"), col("v").as("y"))
      .join(oriented.select(col("u"), col("v").as("z")), Seq("u"))
      .filter(col("y") =!= col("z"))
    wedges
      .join(oriented.select(col("u").as("y"), col("v").as("z")),
        Seq("y", "z"))
      .select(sort_array(array(col("u"), col("y"), col("z"))).as("t"))
      .select(element_at(col("t"), 1).as("a_id"),
        element_at(col("t"), 2).as("b_id"),
        element_at(col("t"), 3).as("c_id"))
      .orderBy(col("a_id"), col("b_id"), col("c_id"))
  }

  /** The oracle is the naive id-ordered 3-way join — a different
    * enumeration order over the SAME triangle set, so it cross-checks
    * the orientation logic rather than replaying it. */
  def trianglesSql: String =
    s"""WITH ${Similarity.mutualCtes},
       |e AS (SELECT a_id AS a, b_id AS b FROM mutual)
       |SELECT e1.a AS a_id, e1.b AS b_id, e2.b AS c_id
       |FROM e e1
       |JOIN e e2 ON e2.a = e1.b
       |JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
       |ORDER BY 1, 2, 3""".stripMargin

  /** q244 — cheapest ≤[[MaxHops]]-hop path cost from the [[SeedLabel]]
    * seeds, edge cost = rank agreement (rnk_ab + rnk_ba): Bellman-Ford
    * with [[MaxHops]] relaxation rounds. Unlike q242's hop count, cost
    * distinguishes a chain of mutual-first-neighbor links (cost 2/hop)
    * from a chain of barely-mutual ones (cost 10/hop) — the signal that
    * grades HOW related reachable data is. Each round relaxes the
    * CURRENT best per node (min-aggregated), which preserves the
    * Bellman-Ford invariant: after k rounds, cost(v) = min over all
    * ≤k-edge walks (nonnegative weights, so walks ⊇ simple paths with
    * equal minimum). */
  def cheapestPaths(s: SparkSession, dir: String): DataFrame = {
    val edges = mutualEdges(s, dir)
    val emb = Tables.embeddings(s, dir)
    // lazy checkpoints (round 16, same rationale as q242): one job for
    // all MaxHops relaxation rounds instead of a blocking job per round;
    // dist is consumed twice per round (join + union) but the persisted
    // RDD computes once either way
    var dist = emb.filter(col("label") === SeedLabel)
      .select(col("vec_id"), lit(0L).as("cost"))
      .localCheckpoint(eager = false)
    for (_ <- 1 to MaxHops) {
      val relaxed = dist.select(col("vec_id").as("src"), col("cost"))
        .join(edges, Seq("src"))
        .select(col("dst").as("vec_id"), (col("cost") + col("w")).as("cost"))
      dist = dist.union(relaxed)
        .groupBy(col("vec_id")).agg(min(col("cost")).as("cost"))
        .localCheckpoint(eager = false)
    }
    dist.join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("vec_id"), col("cost"), col("label"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB spelling of [[cheapestPaths]]: recursive walk enumeration
    * carrying (cost, hop), bounded at [[MaxHops]], min(cost) per node.
    * Costs are integer sums (rank pairs), so the state space is finite
    * and the compare is exact. */
  def cheapestPathsSql: String =
    s"""WITH RECURSIVE ${Similarity.mutualCtes},
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst, rnk_ab + rnk_ba AS w FROM mutual
       |  UNION ALL SELECT b_id, a_id, rnk_ab + rnk_ba FROM mutual),
       |walk AS (
       |  SELECT vec_id AS node, CAST(0 AS BIGINT) AS cost, 0 AS hop
       |  FROM embeddings WHERE label = $SeedLabel
       |  UNION
       |  SELECT e.dst, w.cost + e.w, w.hop + 1 FROM walk w
       |  JOIN edges e ON e.src = w.node
       |  WHERE w.hop < $MaxHops),
       |dist AS (SELECT node AS vec_id, min(cost) AS cost FROM walk GROUP BY 1)
       |SELECT d.vec_id, d.cost, e.label
       |FROM dist d JOIN embeddings e USING (vec_id)
       |ORDER BY d.vec_id""".stripMargin

  /** PageRank iterations (unrolled in the oracle, looped in Spark). */
  val PrIters = 3

  /** Initial integer mass per node: 10⁶ "rank units". */
  val PrMass = 1000000L

  /** q247 — INTEGER-EXACT PageRank over the mutual-kNN graph: every
    * vector starts with [[PrMass]] rank units; each of [[PrIters]]
    * rounds sends `mass · 85 div (100 · deg)` along every edge
    * (integer floor division — the damping factor 0.85 in exact
    * arithmetic) and re-seeds `15% · PrMass` of teleport mass. All
    * arithmetic is integral, so the result is bit-identical across
    * engines — the trick that makes an ITERATIVE FIXPOINT computation
    * oracle-checkable where float PageRank would diverge in ULPs (sum
    * order differs per engine). Floor-dropped remainders and
    * non-redistributed dangling mass are part of the defined semantics
    * (both engines drop identically); ranking fidelity is unaffected —
    * the error is < deg units per node per round against ~10⁶-unit
    * masses.
    *
    * Scale shape: each round is ONE join of the mass relation against
    * the degree-annotated edge list plus a groupBy(dst) sum — the same
    * bounded-round Pregel step as q242/q244; masses are longs (≤
    * N·10⁶ total, overflow-safe to ~9·10¹² nodes). */
  def pagerank(s: SparkSession, dir: String): DataFrame = {
    val edges = mutualEdges(s, dir).select(col("src"), col("dst"))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // lazy checkpoints (round 16, same rationale as q242): the whole
    // PrIters-round fixpoint runs as one job; edgesDeg/nodes persist on
    // first compute and every round reads the same blocks
    val edgesDeg = edges.join(deg, Seq("src")).localCheckpoint(eager = false)
    val emb = Tables.embeddings(s, dir)
    val nodes = emb.select(col("vec_id")).localCheckpoint(eager = false)
    var mass = nodes.withColumn("mass", lit(PrMass))
    for (_ <- 1 to PrIters) {
      val in = mass.select(col("vec_id").as("src"), col("mass"))
        .join(edgesDeg, Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(expr("mass * 85 div (100 * deg)")).as("incoming"))
      mass = nodes
        .join(in.select(col("dst").as("vec_id"), col("incoming")),
          Seq("vec_id"), "left")
        .select(col("vec_id"),
          (lit(PrMass * 15 / 100) + coalesce(col("incoming"), lit(0L)))
            .as("mass"))
        .localCheckpoint(eager = false) // truncate per-round lineage
    }
    mass.join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("vec_id"), col("mass"), col("label"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB spelling of [[pagerank]]: the [[PrIters]] rounds unrolled
    * as chained CTEs (recursive CTEs disallow the per-round GROUP BY),
    * same `//` floor division, same teleport constant. */
  def pagerankSql: String = {
    val teleport = PrMass * 15 / 100
    val rounds = (1 to PrIters).map { i =>
      s"""m$i AS (
         |  SELECT n.vec_id, $teleport + coalesce(inc.s, 0) AS mass
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst, sum(m.mass * 85 // (100 * e.deg)) AS s
         |    FROM m${i - 1} m JOIN edeg e ON e.src = m.vec_id
         |    GROUP BY e.dst) inc ON inc.dst = n.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Similarity.mutualCtes},
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM mutual
       |  UNION ALL SELECT b_id, a_id FROM mutual),
       |edeg AS (
       |  SELECT src, dst,
       |    count(*) OVER (PARTITION BY src) AS deg
       |  FROM edges),
       |nodes AS (SELECT vec_id FROM embeddings),
       |m0 AS (SELECT vec_id, CAST($PrMass AS BIGINT) AS mass FROM nodes),
       |$rounds
       |SELECT m.vec_id, CAST(m.mass AS BIGINT) AS mass, e.label
       |FROM m$PrIters m JOIN embeddings e USING (vec_id)
       |ORDER BY m.vec_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q242_graph_bfs" -> (bfsHops _),
    "q243_graph_triangles" -> (triangles _),
    "q244_graph_cheapest" -> (cheapestPaths _),
    "q247_graph_pagerank" -> (pagerank _))

  val oracles: Map[String, String] = Map(
    "q242_graph_bfs" -> bfsHopsSql,
    "q243_graph_triangles" -> trianglesSql,
    "q244_graph_cheapest" -> cheapestPathsSql,
    "q247_graph_pagerank" -> pagerankSql)
}
