package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import graft.functions.TextFunctions.simhash64
import graft.tables.Tables

/** Near-duplicate detection — north-star extension (SURVEY.md §7.4).
  *
  * Three sketch families, all avoiding the O(N²) all-pairs comparison that
  * is impossible at 100 TB:
  *
  *  - MinHash + LSH banding ([[minhashPairs]]): estimate word-shingle
  *    Jaccard from P permutation-minima; band the signature so only
  *    documents agreeing on a full band become candidate pairs. All
  *    built-in codegen'd expressions (xxhash64 + transform + array_min) —
  *    the signature never leaves Tungsten rows.
  *  - SimHash ([[simhashPairs]]): one-pass fingerprint expression,
  *    Hamming-distance candidates via the bit-chunk pigeonhole trick
  *    (distance ≤3 ⇒ some chunk equal) — candidate join is again an
  *    equi-join on a small key. The registered query uses the md5-portable
  *    60-bit fingerprint (oracle-exact); the 64-bit FNV codegen variant is
  *    the cheapest production spelling.
  *  - Exact dedup is [[Text.exactDedup]] (md5 groupBy).
  *
  * Spark's own MinHashLSH (mllib) requires sparse ML vectors; operating
  * directly on token arrays with SQL expressions keeps everything inside
  * whole-stage codegen and off the driver.
  */
object Dedup {

  /** Fixed random affine permutations for MinHash (deterministic seed). */
  private val P = 32 // signature length
  private val Bands = 8 // 8 bands × 4 rows
  private val Rows = P / Bands
  /** 31-bit Mersenne prime domain: with a,h < 2^31, a*h+b < 2^62 — no
    * 64-bit overflow under ANSI mode (Spark 4 default). */
  private val MersennePrime = (1L << 31) - 1
  private val perms: Array[(Long, Long)] = {
    val rnd = new scala.util.Random(1234567)
    Array.fill(P)((math.abs(rnd.nextLong()) % (MersennePrime - 1) + 1,
      math.abs(rnd.nextLong()) % MersennePrime))
  }

  /** Word 3-gram shingles from a materialized words-array column
    * (distinct). Texts shorter than 3 words fall back to one truncated
    * shingle. Takes the ARRAY column, not text: referencing a split()
    * expression inside the lambda would re-split the string per element
    * (O(L²) per document). */
  private[graft] def shinglesFromWords(w: Column): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(w) - 2, lit(1))),
      i => concat_ws(" ",
        element_at(w, i),
        element_at(w, least(i + 1, size(w))),
        element_at(w, least(i + 2, size(w))))))

  /** MinHash signature array from a column of PRE-HASHED shingles
    * (`array<long>` in [0, p)): for permutation (a,b), min over
    * pmod(a*h+b, p). Keeping the expensive parts (split, shingle
    * construction, xxhash64) in separate materialized projections means
    * each runs ONCE per document; the 32 permutations are then pure
    * arithmetic over an in-memory long array. (Composing everything into
    * one expression tree instead re-evaluates split() per element per
    * permutation — measured 300× slower at sf0.1.) */
  def minhashSignature(hashedShingles: Column): Column =
    array(perms.map { case (a, b) =>
      array_min(transform(hashedShingles, h =>
        pmod(lit(a) * h + lit(b), lit(MersennePrime))))
    }: _*)

  /** doc_id + signature, with words/shingles/hashes staged as separate
    * projections so each is computed once. */
  def signatures(docs: DataFrame): DataFrame =
    graft.ops.Par.fan(docs)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      // barrier: CollapseProject otherwise inlines split() into the
      // shingle lambda's element_at calls — O(L²) re-split per element
      .localCheckpoint(eager = false)
      .select(col("doc_id"), shinglesFromWords(col("w")).as("sh"))
      .select(col("doc_id"), transform(col("sh"),
        s => pmod(xxhash64(s), lit(MersennePrime))).as("hs"))
      .select(col("doc_id"), minhashSignature(col("hs")).as("sig"))

  /** Candidate near-dup pairs with MinHash-estimated Jaccard ≥ minEst,
    * from a precomputed (doc_id, sig) frame.
    * est is k/P (exact rational in double) → deterministic output. */
  /** (doc_id, sig, band, band_sig) band rows of a (doc_id, sig) frame:
    * band_sig = "_"-joined minhashes of the band's [[Rows]] rows. Shared
    * by the pair join (q24) and the admission gate (q113).
    *
    * NULL signatures (NULL/empty text → no shingles) emit NO band rows —
    * enforced HERE, because concat_ws skips NULL inputs and would
    * otherwise band every signature-less doc into a shared "" bucket in
    * all [[Bands]] bands: pairwise candidate blowup among them, and the
    * q113 gate would mark every signature-less batch doc near_dup where
    * its oracle (text IS NOT NULL) says accepted. */
  /** The oracle-side spelling of the band layout: an OR of per-band
    * conjunctions over sig positions. Defined ONCE next to [[bandedOf]]
    * (the Spark-side layout) so the q24 and q140 oracles cannot drift
    * from each other — or from the banding — if (Bands, Rows) changes. */
  private def bandCondsSql: String = (0 until Bands).map { bnd =>
    (0 until Rows).map { r =>
      val i = bnd * Rows + r + 1
      s"a.sig[$i] = b.sig[$i]"
    }.mkString("(", " AND ", ")")
  }.mkString("\n      OR ")

  private def bandedOf(sig: DataFrame): DataFrame =
    sig.filter(col("sig").isNotNull)
      .select(col("doc_id"), col("sig"),
        posexplode(array((0 until Bands).map { bnd =>
          concat_ws("_", (0 until Rows).map(r =>
            element_at(col("sig"), bnd * Rows + r + 1)): _*)
        }: _*)).as(Seq("band", "band_sig")))

  def minhashPairsFromSignatures(sig: DataFrame, minEst: Double): DataFrame = {
    // band rows: (band_idx, band_signature=concat of Rows minhashes)
    val banded = bandedOf(sig)
    val a = banded.select(col("doc_id").as("a_id"), col("sig").as("a_sig"),
      col("band"), col("band_sig"))
    val b = banded.select(col("doc_id").as("b_id"), col("sig").as("b_sig"),
      col("band"), col("band_sig"))
    a.join(b, Seq("band", "band_sig"))
      .filter(col("a_id") < col("b_id"))
      // est BEFORE the pair dedup: the match count is deterministic per
      // pair (same per-doc sigs on every banded duplicate), so firsting
      // the scalar ≡ computing from firsted arrays — and it turns the
      // dedup from a SortAggregate (first() over array columns is not
      // hash-aggregatable: two extra sorts, 64 longs per row through
      // the exchange) into a HashAggregate over three scalars
      .select(col("a_id"), col("b_id"),
        // codegen signature-agreement count (value-identical to the
        // interpreted when(x === y, 1) fold)
        (graft.functions.VectorFunctions
          .int_match_count(col("a_sig"), col("b_sig"))
          .cast("double") / P).as("est_jaccard"))
      .dropDuplicates("a_id", "b_id")
      .filter(col("est_jaccard") >= minEst)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Candidate pairs from raw docs with the cheap Spark-native (xxhash64)
    * shingle hash — the production spelling at 100 TB (no md5 string
    * cost). Spec-verified (DedupSpec planted dups + parity with the
    * portable variant's pair set). */
  def minhashPairsOf(docs: DataFrame, minEst: Double): DataFrame =
    minhashPairsFromSignatures(signatures(docs), minEst)

  /** Near-dup pairs TOUCHING a batch: the batch's band rows equi-join the
    * full index's band rows (index ⊇ batch, so batch-batch and batch-old
    * pairs both surface; old-old pairs NEVER do) — the per-drop pair
    * discovery of continuous-ingest cluster maintenance
    * ([[graft.streaming.DocStreams.maintainClusters]]). Work is
    * |batch bands| × bucket matches, independent of corpus size; the
    * canonical (least, greatest) orientation dedups the two join orders
    * of a batch-batch pair. */
  def minhashPairsAgainst(batchSigs: DataFrame, indexSigs: DataFrame,
      minEst: Double): DataFrame = {
    val a = bandedOf(batchSigs).select(col("doc_id").as("a_id"),
      col("sig").as("a_sig"), col("band"), col("band_sig"))
    val b = bandedOf(indexSigs).select(col("doc_id").as("b_id"),
      col("sig").as("b_sig"), col("band"), col("band_sig"))
    a.join(b, Seq("band", "band_sig"))
      .filter(col("a_id") =!= col("b_id"))
      // est BEFORE the pair dedup (see minhashPairsFromSignatures):
      // hash-aggregatable scalars instead of a first(array) SortAggregate
      .select(least(col("a_id"), col("b_id")).as("lid"),
        greatest(col("a_id"), col("b_id")).as("gid"),
        // codegen signature-agreement count (value-identical to the
        // interpreted when(x === y, 1) fold; symmetric in (a, b), so
        // the least/greatest normalization cannot flip it)
        (graft.functions.VectorFunctions
          .int_match_count(col("a_sig"), col("b_sig"))
          .cast("double") / P).as("est_jaccard"))
      .dropDuplicates("lid", "gid")
      .select(col("lid").as("a_id"), col("gid").as("b_id"),
        col("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
  }

  /** One-pass portable signatures via
    * [[org.apache.spark.sql.graft.PortableMinHash]] — identical values to
    * [[portableSignatures]] (DedupSpec asserts it), fused into a single
    * expression evaluation per document. */
  def portableSignaturesFast(docs: DataFrame): DataFrame =
    graft.ops.Par.fan(docs).select(col("doc_id"), Shim.column(
      org.apache.spark.sql.graft.PortableMinHash(
        Shim.expression(col("text")), perms.toSeq, MersennePrime)).as("sig"))

  /** q24 — MinHash near-dup pairs over the corpus, registered with the
    * md5-portable shingle hash so the driver's DuckDB oracle verifies the
    * ENTIRE pipeline (signatures → banding → candidate join → estimate →
    * threshold) value-exactly. Identical plan shape to the xxhash64
    * production variant [[minhashPairsOf]] — only the shingle-hash
    * expression differs. */
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashPairsFromSignatures(
      portableSignaturesFast(Tables.documents(s, dir)), 0.5)

  /** Shared DuckDB CTE chain computing the portable signatures as a LIST
    * column — generated from the same permutation constants the Spark side
    * uses, so both engines compute identical signatures. `key` is the
    * carried id column (doc_id for per-document signatures; source for
    * the q96 shard-level roll-up). */
  private def portableSigCtes(key: String = "doc_id"): String = {
    val p = MersennePrime
    val mins = perms.map { case (a, b) =>
      s"list_min(list_transform(hs, h -> ($a * h + $b) % $p))"
    }.mkString(",\n      ")
    // WHERE text IS NOT NULL matches Spark's null-dropping: PortableMinHash
    // of a NULL text is a NULL signature and posexplode drops the row, so a
    // source whose docs are ALL NULL must vanish from BOTH engines alike
    s"""words AS (
       |  SELECT $key, string_split(text, ' ') AS w FROM documents
       |  WHERE text IS NOT NULL),
       |sh AS (
       |  SELECT $key, list_distinct(list_transform(
       |    range(1, greatest(len(w) - 2, 1) + 1),
       |    i -> w[i] || ' ' || w[least(i + 1, len(w))] || ' ' ||
       |         w[least(i + 2, len(w))])) AS shingles
       |  FROM words),
       |hashed AS (
       |  SELECT $key, list_transform(shingles,
       |    s -> ('0x' || substr(md5(s), 1, 8))::BIGINT % $p) AS hs
       |  FROM sh),
       |sig AS (
       |  SELECT $key, [
       |      $mins
       |    ] AS sig FROM hashed)""".stripMargin
  }

  /** DuckDB spelling of [[minhashPairs]]: same signatures, same 8×4
    * banding (as an OR of per-band conjunctions over an O(N²) nested-loop
    * join — fine for the oracle at sf0.01; the Spark side stays the banded
    * equi-join), same k/32 estimate and threshold. */
  def minhashPairsSql: String = {
    val bandConds = bandCondsSql
    s"""WITH ${portableSigCtes()},
       |est AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    CAST(list_sum(list_transform(range(1, ${P + 1}),
       |      i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
       |      AS DOUBLE) / $P AS est_jaccard
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |    AND ($bandConds))
       |SELECT a_id, b_id, est_jaccard FROM est
       |WHERE est_jaccard >= 0.5
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Engine-portable MinHash signature: shingle hash = first 8 hex chars
    * of md5 parsed as an integer — identical in Spark
    * (`conv(substr(md5(s),1,8),16,10)`) and DuckDB
    * (`('0x'||substr(md5(s),1,8))::BIGINT`) — then the same affine
    * permutations. Lets the driver's DuckDB oracle verify the ENTIRE
    * minhash computation, not just row counts (q48). The xxhash64 variant
    * above stays the production path (no md5 string cost). */
  def portableSignatures(docs: DataFrame): DataFrame =
    graft.ops.Par.fan(docs)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .localCheckpoint(eager = false) // split-inlining barrier (as above)
      .select(col("doc_id"), shinglesFromWords(col("w")).as("sh"))
      .select(col("doc_id"), transform(col("sh"), s =>
        pmod(conv(substring(md5(s), 1, 8), 16, 10).cast("long"),
          lit(MersennePrime))).as("hs"))
      .select(col("doc_id"), minhashSignature(col("hs")).as("sig"))

  /** q48 — portable minhash signatures, flattened to CSV for exact
    * cross-engine comparison. NULL signatures (NULL-text docs) are
    * dropped to match the oracle's `WHERE text IS NOT NULL` — without
    * the filter Spark keeps a (doc_id, NULL sig_csv) row the oracle
    * never produces. */
  def minhashPortable(s: SparkSession, dir: String): DataFrame =
    portableSignaturesFast(Tables.documents(s, dir))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"),
        array_join(transform(col("sig"), x => x.cast("string")), ",")
          .as("sig_csv"))
      .orderBy(col("doc_id"))

  /** The DuckDB spelling of [[minhashPortable]], generated from the same
    * permutation constants so both engines compute identical signatures. */
  def minhashPortableSql: String =
    s"""WITH ${portableSigCtes()}
       |SELECT doc_id, array_to_string(sig, ',') AS sig_csv
       |FROM sig
       |ORDER BY doc_id""".stripMargin

  /** Hamming-neighbor pairs from a (doc_id, fp) fingerprint frame:
    * candidates via chunk equality (pigeonhole: with `chunks` chunks of
    * `chunkBits` bits, dist ≤ chunks-1 ⇒ ≥1 chunk equal), then exact
    * bit_count filter. The chunk join is a plain equi-join on a small key
    * — the scale-safe formulation (never all-pairs).
    *
    * The input is materialized ONCE (lazy localCheckpoint, the shingle-
    * index discipline): both self-join branches would otherwise recompute
    * the fingerprint lineage, which for the q135/q226 callers means
    * decoding every image/video TWICE — at 100 TB the decode is the
    * dominant cost while the (id, 8-byte fp) relation is trivially
    * storable. */
  private[ext] def hammingPairs(fp: DataFrame, chunks: Int, chunkBits: Int,
      maxDist: Int): DataFrame = {
    val mask = (1L << chunkBits) - 1
    val chunked = fp.localCheckpoint(eager = false)
      .select(col("doc_id"), col("fp"),
      posexplode(array((0 until chunks).map(c =>
        shiftright(col("fp"), c * chunkBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("chunk", "chunk_val")))
    val a = chunked.select(col("doc_id").as("a_id"), col("fp").as("a_fp"),
      col("chunk"), col("chunk_val"))
    val b = chunked.select(col("doc_id").as("b_id"), col("fp").as("b_fp"),
      col("chunk"), col("chunk_val"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("a_id") < col("b_id"))
      // hamming BEFORE the pair dedup: deterministic per pair, and the
      // dedup exchange then carries one long instead of two fingerprints
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).cast("long")
          .as("hamming"))
      .dropDuplicates("a_id", "b_id")
      .filter(col("hamming") <= maxDist)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** SimHash pairs with the custom one-pass FNV codegen expression
    * ([[org.apache.spark.sql.graft.SimHash]]) — the cheap production
    * fingerprint (64 bits, no md5 string cost). Spec-verified. */
  def simhashPairsOf(docs: DataFrame, maxDist: Int = 3): DataFrame =
    hammingPairs(
      graft.ops.Par.fan(docs)
        .select(col("doc_id"), simhash64(col("text")).as("fp")),
      chunks = 4, chunkBits = 16, maxDist = maxDist)

  // ---- engine-portable SimHash (md5 token hash, pure built-ins) ----------

  /** 60-bit md5-derived token hash: identical in Spark
    * (`conv(substr(md5(t),1,15),16,10)`) and DuckDB
    * (`('0x'||substr(md5(t),1,15))::BIGINT`). 15 hex chars = 60 bits keeps
    * the value positive in a signed long under ANSI mode. */
  def portableTokenHash(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  private val SimBits = 60

  /** Portable SimHash fingerprint over a PRE-HASHED token array (staging
    * rule: hash tokens once in their own projection; the 60 bit-tallies
    * are then pure arithmetic over the in-memory long array). Bit j is set
    * iff Σ_tokens (±1 by token-hash bit j) > 0. */
  def portableSimhashFromHashes(hs: Column): Column =
    (0 until SimBits).map { j =>
      val tally = aggregate(hs, lit(0), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === lit(1L), 1)
          .otherwise(-1))
      when(tally > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Declarative (pure built-ins) spelling of the portable fingerprint;
    * kept as the semantic reference the one-pass expression is tested
    * against (DedupSpec). */
  def portableSimhashDeclarative(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), transform(col("w"), portableTokenHash(_)).as("hs"))
      .select(col("doc_id"), portableSimhashFromHashes(col("hs")).as("fp"))

  /** (doc_id, fp) portable SimHash fingerprints for a documents frame —
    * via the one-pass [[org.apache.spark.sql.graft.PortableSimHash]]
    * expression (identical values to [[portableSimhashDeclarative]],
    * ~5× faster: no interpreted per-bit lambda passes). */
  def portableSimhashFingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.TextFunctions.portable_simhash(col("text")).as("fp"))

  /** DuckDB expression computing the same 60-bit fingerprint from a list
    * column named `hs` — generated from the same bit range. */
  def portableSimhashSqlExpr: String =
    (0 until SimBits).map { j =>
      s"""CASE WHEN list_sum(list_transform(hs,
         |      h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |    THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"""
        .stripMargin
    }.mkString("\n    + ")

  /** q25 — SimHash near-dup pairs, registered with the portable md5
    * fingerprint so the DuckDB oracle verifies fingerprints, candidate
    * generation, and the Hamming filter end to end. 60 bits / 4 chunks of
    * 15 → pigeonhole still covers dist ≤ 3. Same plan shape as the FNV
    * production variant [[simhashPairsOf]]. */
  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    hammingPairs(portableSimhashFingerprints(Tables.documents(s, dir)),
      chunks = 4, chunkBits = 15, maxDist = 3)

  /** DuckDB spelling of [[simhashPairs]] (O(N²) nested-loop candidate join
    * is fine for the oracle at sf0.01; Spark keeps the chunk equi-join). */
  def simhashPairsSql: String = {
    val chunkConds = (0 until 4).map { c =>
      val sh = c * 15
      s"(a.fp >> $sh) & 32767 = (b.fp >> $sh) & 32767"
    }.mkString("\n      OR ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE text IS NOT NULL),
       |hashed AS (
       |  SELECT doc_id, list_transform(w,
       |    t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
       |  FROM toks),
       |fp AS (
       |  SELECT doc_id, $portableSimhashSqlExpr AS fp
       |  FROM hashed),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
       |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |    AND ($chunkConds))
       |SELECT a_id, b_id, hamming FROM pairs
       |WHERE hamming <= 3
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---- q57: near-dup pairs → dedup clusters (connected components) ------

  /** Connected components over an undirected near-dup pair list:
    * per-node cluster id = MINIMUM doc_id reachable through pairs.
    * Pipelines dedup by CLUSTER (keep one doc per component), not by
    * pair — a pair list alone can't answer "which docs do I drop" when
    * near-dups chain (a~b, b~c but not a~c).
    *
    * Iterative min-label propagation as DataFrame joins: each round every
    * node takes the min of its own and its neighbors' labels; converges
    * in O(component diameter) rounds (near-dup clusters are shallow —
    * 2-4 rounds here). Driver-coordinated iteration like any iterative
    * algorithm (k-means, PageRank); per-round lineage is cut with an
    * eager localCheckpoint so plans don't snowball. At 100 TB each round
    * is one shuffle join on (node) — the standard large-graph CC shape.
    * Deterministic output (min ids), so the DuckDB oracle recomputes the
    * same components with a recursive CTE. */
  def connectedComponents(pairs: DataFrame,
      driverLimit: Long = 1L << 21, maxRounds: Int = 50): DataFrame = {
    val p = pairs.select(col("a_id"), col("b_id")).cache()
    val nEdges = p.count()
    val out =
      if (nEdges <= driverLimit) ccOnDriver(p)
      else ccDistributed(p, maxRounds)
    p.unpersist()
    out
  }

  /** Small-graph fast path: union-find on the collected pair list.
    * The pair graph is orders of magnitude smaller than the corpus (it
    * only contains near-duplicates), so up to ~2M edges it is cheaper to
    * solve exactly on the driver — one collect, microseconds of
    * union-find — than to pay per-round distributed job overhead.
    * Collected through the (Long, Long) tuple encoder, not generic Rows:
    * ~32 B/edge on the driver instead of several× that in Row overhead.
    * Union-by-min keeps the smaller root, so each final root IS the
    * component's minimum id (same contract as the distributed loop). */
  private def ccOnDriver(pairs: DataFrame): DataFrame = {
    val sess = pairs.sparkSession
    import sess.implicits._
    val edges = pairs
      .select(col("a_id").cast("long"), col("b_id").cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.toSeq.sorted.map(k => (k, find(k)))
      .toDF("doc_id", "cluster_id")
      .orderBy(col("doc_id"))
  }

  /** Large-graph path: iterative min-label propagation as DataFrame
    * joins — each round every node takes the min of its own and its
    * neighbors' labels; converges in O(component diameter) rounds
    * (near-dup clusters are shallow). One shuffle join per round,
    * lineage cut with an eager localCheckpoint per round — the standard
    * big-graph CC shape at 100 TB. */
  private def ccDistributed(pairs: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    val edges = pairs
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .cache()
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val neighborMin = edges
        .join(labels, edges("dst") === labels("node"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      val updated = labels
        .join(neighborMin, labels("node") === neighborMin("src"), "left")
        .select(labels("node"), col("label"),
          least(col("label"), coalesce(col("nlabel"), col("label")))
            .as("newl"))
        .localCheckpoint()
      changed = updated.filter(col("newl") < col("label")).count()
      labels = updated.select(col("node"), col("newl").as("label"))
      rounds += 1
    }
    // The cap can fire on the round that APPLIED the final improvement
    // (converged-at-cap), so distinguish that from truly-unconverged with
    // one confirming round before failing. Returning unconverged labels
    // would be SILENTLY wrong (split components); a dup graph deeper than
    // maxRounds must fail loudly, not plausibly.
    if (changed > 0) {
      val confirm = edges
        .join(labels, edges("dst") === labels("node"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
        .join(labels, labels("node") === col("src"))
        .filter(col("nlabel") < col("label"))
        .count()
      if (confirm > 0) {
        edges.unpersist()
        throw new IllegalStateException(
          s"connected components not converged after $rounds rounds " +
            s"($confirm labels still improving): component diameter " +
            s"exceeds maxRounds=$maxRounds — raise it for chain-shaped " +
            "dup graphs")
      }
    }
    edges.unpersist()
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Pair feed shared by the cluster queries: the DF-CAPPED n-gram
    * Jaccard pipeline (q51's formulation, same cap and threshold). The
    * cap matters HERE even more than in q51: cluster input is the most
    * expensive stage in the suite, and an uncapped self-join inherits the
    * unbounded Σdf² blowup of a corpus-hot boilerplate shingle. */
  /** Near-dup pair feed built ONCE per (session, corpus): six
    * consumers — q57/q60/q77 (via the clusters memo), q58, q68, q86,
    * q107, q112 — otherwise each re-run the full capped-jaccard
    * pipeline. Lazy localCheckpoint: the first consumer's action
    * materializes the pair blocks (MEMORY_AND_DISK — they spill, they
    * don't OOM), everyone after reads them. The pair relation holds
    * only near-duplicates, orders of magnitude smaller than the corpus
    * at any scale. */
  private[graft] val pairsCache = new graft.ops.SessionMemo[DataFrame]

  private[graft] def dedupClusterPairs(s: SparkSession, dir: String): DataFrame =
    pairsCache.getOrBuild(s, dir)(
      pairFeedOf(s, dir).localCheckpoint(eager = false))

  /** The raw pair-feed PLAN (un-memoized): q51's df-capped pipeline
    * projected to ids. PlanShapeSpec locks the anti-join shape on this
    * builder; [[dedupClusterPairs]] is its shared materialization. */
  private[graft] def pairFeedOf(s: SparkSession, dir: String): DataFrame =
    Text.ngramJaccardCapped(s, dir).select(col("a_id"), col("b_id"))

  /** One clustering per (session, corpus): q57/q60/q77 (and anything
    * else consuming the release's near-dup clusters) share this memo, so
    * the pair build + CC runs once per session instead of once per
    * query — the in-session form of q153's persist-the-index discipline
    * (a release pipeline computes the clustering once and reads it
    * everywhere). Safe to hold: the ≤2M-edge fast path's output is a
    * driver-built label relation with no corpus lineage; the
    * distributed path is eagerly checkpointed per round already. q58
    * deliberately bypasses the memo — its job IS re-running the
    * big-graph path. */
  private[graft] val clustersCache = new graft.ops.SessionMemo[DataFrame]

  /** q57 — dedup clusters over the df-capped n-gram-Jaccard pair list. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clustersCache.getOrBuild(s, dir)(
      connectedComponents(dedupClusterPairs(s, dir)))

  /** q58 — identical clusters forced through the DISTRIBUTED
    * label-propagation path (driverLimit = -1), so the big-graph CC shape
    * — the iterative min-label join — is timed by the bench and
    * oracle-checked on real corpus pairs, not only spec-checked on toy
    * graphs. Shares [[dedupClustersSql]]'s oracle: both paths must
    * produce the same components. */
  def dedupClustersDistributed(s: SparkSession, dir: String): DataFrame =
    connectedComponents(dedupClusterPairs(s, dir), driverLimit = -1L)

  /** q60 — cluster-aware keep-best dedup: ONE surviving document per
    * near-dup cluster, chosen by token count (longest wins, doc_id as the
    * tie-break) — the representative-selection pass a curation pipeline
    * runs after clustering, where keep-FIRST (q22's policy) would throw
    * away the best copy. Composes q57's components with per-doc token
    * stats: one join on doc_id, one tiny window per cluster (clusters are
    * near-dup groups — bounded fan-in), one aggregation. */
  def clusterKeepBest(s: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(s, dir)
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("n_tok").desc, col("doc_id"))
    clusters.join(toks, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(min(when(col("rn") === 1, col("doc_id"))).as("keep_doc_id"),
        count(lit(1)).as("n_members"))
      .orderBy(col("cluster_id"))
  }

  /** DuckDB spelling of [[clusterKeepBest]]: the shared cluster CTEs plus
    * the same (n_tok DESC, doc_id) ranking. */
  val clusterKeepBestSql: String =
    s"""WITH RECURSIVE $ccCtes,
      |toks AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok
      |  FROM documents),
      |ranked AS (
      |  SELECT c.cluster_id, c.doc_id,
      |    row_number() OVER (PARTITION BY c.cluster_id
      |      ORDER BY t.n_tok DESC, c.doc_id) AS rn
      |  FROM comp c JOIN toks t ON t.doc_id = c.doc_id)
      |SELECT cluster_id,
      |  min(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id,
      |  count(*) AS n_members
      |FROM ranked
      |GROUP BY cluster_id
      |ORDER BY cluster_id""".stripMargin

  /** CTE chain through `pairs` — the df-capped q51 pair pipeline (cap
    * mirrored exactly, so checks stay value-exact even where it binds);
    * shared by the cluster oracles (which append the recursive CC part)
    * and the triangle census. */
  private def pairCtes: String =
    s"""sh_all AS (
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
      |  WHERE df <= ${Text.DfCap}),
      |sh AS (
      |  SELECT s.doc_id, s.shingle FROM sh_all s
      |  JOIN rare r ON s.shingle = r.shingle),
      |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a_id, b_id FROM inter
      |  JOIN cnt ca ON ca.doc_id = a_id
      |  JOIN cnt cb ON cb.doc_id = b_id
      |  WHERE CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) >= 0.12)""".stripMargin

  /** [[pairCtes]] plus the recursive label-propagation CC, ending in
    * `comp(doc_id, cluster_id)`. */
  private def ccCtes: String =
    s"""$pairCtes,
      |edges AS (
      |  SELECT a_id AS src, b_id AS dst FROM pairs
      |  UNION ALL SELECT b_id, a_id FROM pairs),
      |cc AS (
      |  SELECT src AS node, src AS label FROM edges
      |  UNION
      |  SELECT e.dst AS node, c.label FROM cc c JOIN edges e ON e.src = c.node),
      |comp AS (
      |  SELECT node AS doc_id, min(label) AS cluster_id
      |  FROM cc GROUP BY node)""".stripMargin

  /** DuckDB spelling of [[dedupClusters]] / [[dedupClustersDistributed]]. */
  val dedupClustersSql: String =
    s"""WITH RECURSIVE $ccCtes
      |SELECT doc_id, cluster_id FROM comp ORDER BY doc_id""".stripMargin

  /** q231 — duplication-aware loss weights: every document gets training
    * weight 1/|its near-dup cluster| (singletons weight 1), so a cluster
    * of n near-copies contributes ONE document's worth of gradient in
    * total instead of n — the soft alternative to dropping duplicates
    * outright (q60 keep-best): the model still sees every surface
    * variant, but duplicated content stops being over-weighted in
    * proportion to how aggressively it was crawled. Deliverable is the
    * per-doc (n_copies, weight) relation a training loader joins on
    * doc_id.
    *
    * Scale shape: composes q57's session-memoized clustering (the
    * pair-graph build runs once per release); the cluster relation is
    * near-dup members ONLY — orders of magnitude smaller than the
    * corpus — so both the size aggregate and the corpus left-join
    * broadcast it (AQE picks the broadcast; no corpus reshuffle). One
    * exact integer count per cluster, one double division per row. */
  def dedupWeights(s: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(s, dir)
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"))
    val member = clusters.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("n"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(member, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(1L)).as("n_copies"),
        (lit(1.0) / coalesce(col("n"), lit(1L)).cast("double")).as("weight"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB spelling of [[dedupWeights]]: the shared recursive cluster
    * CTEs + the same per-cluster size and single division. */
  val dedupWeightsSql: String =
    s"""WITH RECURSIVE $ccCtes,
      |sizes AS (
      |  SELECT cluster_id, count(*) AS n FROM comp GROUP BY cluster_id),
      |member AS (
      |  SELECT c.doc_id, s.n FROM comp c
      |  JOIN sizes s ON s.cluster_id = c.cluster_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(m.n, 1) AS BIGINT) AS n_copies,
      |  CAST(1 AS DOUBLE) / CAST(coalesce(m.n, 1) AS DOUBLE) AS weight
      |FROM documents d
      |LEFT JOIN member m ON m.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q77 — leakage-free train/eval split: assign documents to splits by
    * NEAR-DUP CLUSTER, not by document — a per-doc hash split leaks
    * whenever near-duplicates straddle the boundary (the contamination
    * q59 exists to detect; this op prevents it at split time). Split
    * key = the doc's q57 cluster id (its own id for singletons), split =
    * deterministic md5 bucket of that key at 90/10 — so every member of
    * a duplicate cluster lands on the SAME side, reproducibly across
    * engines/runs/partitionings. One left join against the (small)
    * cluster relation; everything else is per-row hashing. */
  def leakFreeSplit(s: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(s, dir)
    Tables.documents(s, dir).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("split_key"))
      .select(col("doc_id"), col("split_key"),
        when(Text.md5Bucket1000(col("split_key")) < 900, "train")
          .otherwise("eval").as("split"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB spelling: the shared cluster CTEs, the same singleton
    * fallback, the same md5 bucket. */
  val leakFreeSplitSql: String =
    s"""WITH RECURSIVE $ccCtes
      |SELECT d.doc_id,
      |  coalesce(cluster_id, d.doc_id) AS split_key,
      |  CASE WHEN ('0x' || substr(md5(CAST(coalesce(cluster_id, d.doc_id)
      |        AS VARCHAR)), 1, 8))::BIGINT % 1000 < 900
      |    THEN 'train' ELSE 'eval' END AS split
      |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---- q212: anchor-positive pair mining ----------------------------------

  /** q212 — contrastive POSITIVE pairs mined from the near-dup
    * clusters: each multi-member q57 cluster contributes (anchor =
    * min-id member, positive = every other member) — naturally-
    * occurring paraphrase/near-copy pairs, the free supervision signal
    * a contrastive embedding run trains on. Completes the pair-mining
    * triple: q212 positives ↔ q211 random negatives ↔ q139 hard
    * negatives. Each pair carries cluster_size (large clusters are
    * boilerplate, often downweighted) and cross_source (the valuable
    * pairs — same content surviving a domain change).
    *
    * Scale shape: rides the session-shared clustering memo (built once
    * per release); the per-cluster min is a partial agg; the pair
    * explosion is cluster-bounded (near-dup groups are small by
    * construction — the df-cap bounds fan-in); one broadcast join per
    * source flag. */
  def positivePairs(s: SparkSession, dir: String): DataFrame = {
    val cl = dedupClusters(s, dir) // (doc_id, cluster_id), session-shared
    val sized = cl.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"), min(col("doc_id")).as("anchor_id"))
      .filter(col("cluster_size") >= 2)
    val src = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
    cl.join(broadcast(sized), Seq("cluster_id"))
      .filter(col("doc_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("doc_id").as("pos_id"),
        col("cluster_size"))
      // NO broadcast hint on src: it is the corpus-sized (doc_id,
      // source) relation — hinting it would broadcast the corpus at
      // scale. The PAIR relation is the small side of each re-attach;
      // left unhinted so the planner/AQE broadcasts whichever side is
      // actually small at runtime.
      .join(src.select(col("doc_id").as("anchor_id"),
        col("source").as("a_source")), Seq("anchor_id"))
      .join(src.select(col("doc_id").as("pos_id"),
        col("source").as("p_source")), Seq("pos_id"))
      .select(col("anchor_id"), col("pos_id"), col("cluster_size"),
        (col("a_source") =!= col("p_source")).as("cross_source"))
      .orderBy(col("anchor_id"), col("pos_id"))
  }

  /** DuckDB spelling: the shared recursive cluster CTEs + the same
    * min-anchor pairing and source flags. */
  val positivePairsSql: String =
    s"""WITH RECURSIVE $ccCtes,
       |sized AS (
       |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
       |    min(doc_id) AS anchor_id
       |  FROM comp GROUP BY cluster_id HAVING count(*) >= 2)
       |SELECT s.anchor_id, c.doc_id AS pos_id, s.cluster_size,
       |  da.source <> dp.source AS cross_source
       |FROM comp c JOIN sized s ON s.cluster_id = c.cluster_id
       |JOIN documents da ON da.doc_id = s.anchor_id
       |JOIN documents dp ON dp.doc_id = c.doc_id
       |WHERE c.doc_id <> s.anchor_id
       |ORDER BY s.anchor_id, pos_id""".stripMargin

  // ---- q178: cluster-level decontamination --------------------------------

  /** Direct-tier threshold for q178: ≥30 shared eval 5-grams is
    * verbatim-level overlap (high-precision, no coincidental flags),
    * vs q59's recall-tuned 3. The cluster expansion below recovers the
    * sub-threshold tier, so precision here costs no recall. */
  private val HardShingles = 30L

  /** q178 — CLUSTER-level benchmark decontamination, the two-tier pass
    * real pipelines layer: a HIGH-PRECISION direct detector (≥
    * [[HardShingles]] shared eval 5-grams — verbatim-level overlap,
    * where q59's recall-tuned ≥3 also fires on coincidental shingles)
    * plus graph expansion for recall — contamination travels along
    * near-dup edges, so a lightly-paraphrased copy of a leaked doc
    * carries the same eval content with its 5-gram windows perturbed
    * below ANY shingle threshold (on this corpus doc 455 shares only 7
    * five-grams with the eval set yet is a near-duplicate of eval doc
    * 26 — exactly the leak the n-gram radar misses). A q57 cluster is
    * tainted when it contains an eval-set document OR a directly-flagged
    * training doc; every training member of a tainted cluster drops.
    * Output: per source, the three DISJOINT lanes — directly flagged,
    * spread (dropped only because of a tainted cluster-mate), kept —
    * closing exactly over n_train.
    *
    * Scale shape: the direct flags are q59's broadcast-eval join; the
    * tainted-cluster relation is bounded by |eval| + |flagged docs|
    * (tiny next to the corpus at any scale) so the membership join
    * BROADCASTS it; the corpus is scanned once and nothing corpus-sized
    * shuffles beyond the #sources-group rollup. */
  def clusterDecontam(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
      .join(dedupClusters(s, dir), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("cluster_id"), col("doc_id")).as("ck"))
    val sh5 = Text.ngramIndexOf(Tables.documents(s, dir), 5)
    val ev5 = sh5.filter(col("doc_id") < Text.EvalSetMax)
      .select(col("shingle")).distinct()
    val direct = sh5.filter(col("doc_id") >= Text.EvalSetMax)
      .join(broadcast(ev5), Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= HardShingles)
      .select(col("doc_id"), lit(true).as("direct"))
    val train = keyed.filter(col("doc_id") >= Text.EvalSetMax)
      .join(direct, Seq("doc_id"), "left")
      .withColumn("contaminated", coalesce(col("direct"), lit(false)))
    val tainted = keyed.filter(col("doc_id") < Text.EvalSetMax)
      .select(col("ck"))
      .union(train.filter(col("contaminated")).select(col("ck")))
      .distinct()
      .withColumn("is_tainted", lit(true))
    train.join(broadcast(tainted), Seq("ck"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_direct"),
        sum(when(!col("contaminated") && col("is_tainted").isNotNull, 1L)
          .otherwise(0L)).as("n_spread"),
        sum(when(col("is_tainted").isNull, 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** DuckDB spelling: the shared cluster CTEs + q59's 5-gram chain
    * (CTE names suffixed `5` to avoid colliding with the 3-gram pair
    * chain's `sh`), same taint rule, same lanes. */
  val clusterDecontamSql: String =
    s"""WITH RECURSIVE $ccCtes,
      |sh5 AS (
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
      |ev5 AS (SELECT DISTINCT shingle FROM sh5
      |  WHERE doc_id < ${Text.EvalSetMax}),
      |shared5 AS (
      |  SELECT s.doc_id, count(*) AS n_shared
      |  FROM sh5 s JOIN ev5 USING (shingle)
      |  WHERE s.doc_id >= ${Text.EvalSetMax}
      |  GROUP BY 1),
      |keyed AS (
      |  SELECT d.doc_id, d.source,
      |    coalesce(c.cluster_id, d.doc_id) AS ck
      |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
      |train AS (
      |  SELECT k.doc_id, k.source, k.ck,
      |    coalesce(n_shared, 0) >= $HardShingles AS contaminated
      |  FROM keyed k LEFT JOIN shared5 s ON s.doc_id = k.doc_id
      |  WHERE k.doc_id >= ${Text.EvalSetMax}),
      |tainted AS (
      |  SELECT DISTINCT ck FROM (
      |    SELECT ck FROM keyed WHERE doc_id < ${Text.EvalSetMax}
      |    UNION ALL SELECT ck FROM train WHERE contaminated))
      |SELECT t.source, count(*) AS n_train,
      |  CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_direct,
      |  CAST(SUM(CASE WHEN NOT contaminated AND x.ck IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_spread,
      |  CAST(SUM(CASE WHEN x.ck IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept
      |FROM train t LEFT JOIN tainted x ON x.ck = t.ck
      |GROUP BY t.source ORDER BY t.source""".stripMargin

  // ---- q182: dedup survivorship-bias audit --------------------------------

  /** q182 — survivorship-bias audit of cluster dedup: near-duplication
    * is not uniform across sources (mirror-heavy sources lose far more
    * docs to q60's keep-best than long-tail ones), so deduplication
    * silently SHIFTS the corpus mixture — a drift the mixture design
    * (q120/q121/q130) computed its weights BEFORE. Per source (plus the
    * q10-style ALL rollup row): docs before dedup, docs surviving
    * (cluster keep-best winners + every unclustered singleton), and the
    * survival share — exact BIGINT counts, ONE terminal division. A
    * downstream rebalance consumes exactly these counts to restore the
    * intended mixture.
    *
    * Scale shape: the cluster-member relation (with its keep flag) only
    * contains near-duplicates — orders of magnitude smaller than the
    * corpus — so the membership join BROADCASTS it; the corpus is
    * scanned once into a #sources-group rollup. */
  /** (doc_id, won) for every near-dup cluster MEMBER — won = true for
    * the cluster's keep-best survivor. The one place the survivor rule
    * joins into an audit: q182 (survivorship), q184 (rebalance quotas)
    * and q190 (quality survival) all consume this relation, so a change
    * to the keep rule cannot leave the three audits disagreeing. */
  private def keepBestMembers(s: SparkSession, dir: String): DataFrame =
    dedupClusters(s, dir)
      .join(clusterKeepBest(s, dir)
          .select(col("keep_doc_id").as("doc_id"), lit(true).as("won")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("won"), lit(false)).as("won"))

  /** is_kept after the corpus left-joins [[keepBestMembers]]: NULL won
    * = not a cluster member = singleton (survives); otherwise only the
    * winner survives. */
  private def isKeptCol: Column =
    when(coalesce(col("won"), lit(true)), 1L).otherwise(0L)

  def survivorshipAudit(s: SparkSession, dir: String): DataFrame = {
    val members = keepBestMembers(s, dir)
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(broadcast(members), Seq("doc_id"), "left")
      .withColumn("is_kept", isKeptCol)
      .rollup(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("is_kept")).as("n_kept"))
      .select(coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("n_kept"),
        (col("n_kept").cast("double") / col("n_docs").cast("double"))
          .as("kept_share"))
      .orderBy(col("source"))
  }

  /** DuckDB spelling: the shared cluster + keep-best CTEs, same
    * singleton rule, same rollup. */
  val survivorshipAuditSql: String =
    s"""WITH RECURSIVE $ccCtes,
      |toks AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok
      |  FROM documents),
      |ranked AS (
      |  SELECT c.cluster_id, c.doc_id,
      |    row_number() OVER (PARTITION BY c.cluster_id
      |      ORDER BY t.n_tok DESC, c.doc_id) AS rn
      |  FROM comp c JOIN toks t ON t.doc_id = c.doc_id)
      |SELECT coalesce(d.source, 'ALL') AS source,
      |  count(*) AS n_docs,
      |  CAST(SUM(CASE WHEN r.doc_id IS NULL THEN 1
      |    WHEN r.rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN r.doc_id IS NULL THEN 1
      |    WHEN r.rn = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
      |    AS kept_share
      |FROM documents d LEFT JOIN ranked r ON r.doc_id = d.doc_id
      |GROUP BY ROLLUP (d.source)
      |ORDER BY source""".stripMargin

  // ---- q184: mixture-restoring rebalance quotas (Hamilton method) ---------

  /** q184 — mixture-restoring rebalance after dedup: q182 shows
    * keep-best SHIFTS the source mixture; this computes the per-source
    * sampling quotas that restore the designed (pre-dedup) mixture over
    * a budget of B = total surviving docs, by the LARGEST-REMAINDER
    * (Hamilton) apportionment: base_i = ⌊B·docs_i / T⌋ exactly, and the
    * B − Σbase leftover units go to the largest remainders
    * (B·docs_i mod T, ties by source) — the classical exact-integer
    * apportionment, so quotas sum to B BY CONSTRUCTION, with no
    * float shares to round and disagree on. Each source also reports
    * repeat_x1000 = ⌊1000·quota / survivors⌋ — the upsampling factor
    * the sampler must apply — and an over_epochs flag at >4×
    * (data-constrained-scaling territory where further repetition
    * stops helping; NULL repeat for a fully-deduped source instead of
    * a division by zero).
    *
    * Scale shape: everything after the q182-shape survivor rollup
    * operates on the #sources-row relation — the totals cross join is
    * a 1-row broadcast, the remainder rank and leftover sum are
    * #sources-row windows. */
  def rebalanceQuota(s: SparkSession, dir: String): DataFrame = {
    val members = keepBestMembers(s, dir)
    val per = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(broadcast(members), Seq("doc_id"), "left")
      .withColumn("is_kept", isKeptCol)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("is_kept")).as("n_kept"))
    val tot = per.agg(sum(col("n_docs")).as("t"), sum(col("n_kept")).as("b"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(col("rem").desc, col("source"))
    per.crossJoin(broadcast(tot))
      // b·n_docs ≤ N² overflows int64 past N ≈ 3·10⁹ documents — inside
      // this engine's 10¹¹-doc scale target (the PrScale rule) — and
      // under ANSI that is a job-killing ARITHMETIC_OVERFLOW, so the
      // product runs in DECIMAL(38,0) internally (≤10²² fits) and only
      // the ≤b-sized quotient/remainder come back to BIGINT; the output
      // schema stays decimal-free per the gate's type contract.
      // `div`/`%` are EXACT integral decimal ops (IntegralDivide →
      // BIGINT), mirroring the oracle's HUGEINT `//`/`%` — a
      // floor-of-rounded-divide spelling would resolve to DECIMAL(38,6)
      // HALF_UP and, once t ≳ 2·10⁶, could round the quotient up past
      // the true floor (base+1, negative rem, quotas no longer sum to B)
      .withColumn("__prod", col("b").cast("decimal(38,0)") * col("n_docs"))
      .withColumn("base", expr("__prod div t"))
      .withColumn("rem", expr("__prod % t").cast("long"))
      .withColumn("leftover", col("b") - sum(col("base")).over(wAll))
      .withColumn("rrank", row_number().over(wRank).cast("long"))
      .withColumn("quota",
        col("base") + when(col("rrank") <= col("leftover"), 1L)
          .otherwise(0L))
      .withColumn("repeat_x1000",
        when(col("n_kept") === 0L, lit(null).cast("long"))
          .otherwise(expr("quota * 1000 div n_kept")))
      .select(col("source"), col("n_docs"), col("n_kept"), col("quota"),
        col("repeat_x1000"),
        (col("repeat_x1000") > 4000L).as("over_epochs"))
      .orderBy(col("source"))
  }

  /** DuckDB spelling: same survivor rollup, same exact apportionment. */
  val rebalanceQuotaSql: String =
    s"""WITH RECURSIVE $ccCtes,
      |toks AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok
      |  FROM documents),
      |ranked AS (
      |  SELECT c.cluster_id, c.doc_id,
      |    row_number() OVER (PARTITION BY c.cluster_id
      |      ORDER BY t.n_tok DESC, c.doc_id) AS rn
      |  FROM comp c JOIN toks t ON t.doc_id = c.doc_id),
      |per AS (
      |  SELECT d.source, count(*) AS n_docs,
      |    CAST(SUM(CASE WHEN r.doc_id IS NULL THEN 1
      |      WHEN r.rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |  FROM documents d LEFT JOIN ranked r ON r.doc_id = d.doc_id
      |  GROUP BY d.source),
      |tot AS (
      |  SELECT CAST(sum(n_docs) AS BIGINT) AS t,
      |    CAST(sum(n_kept) AS BIGINT) AS b FROM per),
      |w AS (
      |  SELECT per.*, t, b,
      |    CAST(b::HUGEINT * n_docs // t AS BIGINT) AS base,
      |    CAST((b::HUGEINT * n_docs) % t AS BIGINT) AS rem
      |  FROM per CROSS JOIN tot),
      |w2 AS (
      |  SELECT *, b - sum(base) OVER () AS leftover,
      |    row_number() OVER (ORDER BY rem DESC, source) AS rrank
      |  FROM w),
      |w3 AS (
      |  SELECT source, n_docs, n_kept,
      |    CAST(base + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END
      |      AS BIGINT) AS quota
      |  FROM w2)
      |SELECT source, n_docs, n_kept, quota,
      |  CASE WHEN n_kept = 0 THEN NULL
      |    ELSE CAST(quota * 1000 // n_kept AS BIGINT) END AS repeat_x1000,
      |  CASE WHEN n_kept = 0 THEN NULL
      |    ELSE quota * 1000 // n_kept > 4000 END AS over_epochs
      |FROM w3 ORDER BY source""".stripMargin

  // ---- q185: k-fold assignment leakage audit -------------------------------

  /** q185 — cross-validation fold-assignment leakage audit: q77 splits
    * train/eval at CLUSTER granularity and asserts leak-freedom in its
    * spec; this MEASURES it, for 5-fold CV, as a first-class relation —
    * and measures the naive per-doc hash fold beside it (q162's
    * two-scheme comparison discipline), because the naive scheme is
    * what every pipeline starts with and the leak count is the argument
    * for fixing it. For scheme ∈ {cluster_key, doc_key} and fold ∈
    * 0..4: the fold's doc count and its LEAKED pair count — near-dup
    * pairs with exactly one endpoint in this fold. The cluster scheme's
    * lanes are zero BY CONSTRUCTION (both endpoints of a pair share a
    * cluster, hence a fold key); the doc scheme leaks whatever near-dup
    * mass straddles its hash boundaries.
    *
    * Scale shape: fold keys are in-row md5 buckets; the cluster lookup
    * joins the corpus against the BROADCAST near-dup label relation;
    * pair-endpoint fold resolution joins the (tiny) pair feed twice
    * against in-row-derivable keys; the rollup exchanges 10 groups. */
  def foldLeakAudit(s: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(s, dir)
    val keyed = Tables.documents(s, dir).select(col("doc_id"))
      .join(broadcast(clusters), Seq("doc_id"), "left")
      .select(col("doc_id"),
        Text.md5Bucket(coalesce(col("cluster_id"), col("doc_id")), 5L)
          .as("fold_cluster"),
        Text.md5Bucket(col("doc_id"), 5L).as("fold_doc"))
      .localCheckpoint(eager = false)
    val pairs = dedupClusterPairs(s, dir)
    val ends = pairs
      .join(keyed.select(col("doc_id").as("a_id"),
        col("fold_cluster").as("fca"), col("fold_doc").as("fda")),
        Seq("a_id"))
      .join(keyed.select(col("doc_id").as("b_id"),
        col("fold_cluster").as("fcb"), col("fold_doc").as("fdb")),
        Seq("b_id"))
    def leaks(fa: String, fb: String, scheme: String) =
      ends.filter(col(fa) =!= col(fb))
        .select(explode(array(col(fa), col(fb))).as("fold"))
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("leaked_pairs"))
        .withColumn("scheme", lit(scheme))
    val leaked = leaks("fca", "fcb", "cluster_key")
      .unionByName(leaks("fda", "fdb", "doc_key"))
    val counts = keyed
      .select(col("fold_cluster").as("fold"), lit("cluster_key").as("scheme"))
      .unionByName(keyed
        .select(col("fold_doc").as("fold"), lit("doc_key").as("scheme")))
      .groupBy(col("scheme"), col("fold"))
      .agg(count(lit(1)).as("n_docs"))
    counts.join(leaked, Seq("scheme", "fold"), "left")
      .select(col("scheme"), col("fold"), col("n_docs"),
        coalesce(col("leaked_pairs"), lit(0L)).as("leaked_pairs"))
      .orderBy(col("scheme"), col("fold"))
  }

  /** DuckDB spelling: shared cluster CTEs, same buckets and lanes. */
  val foldLeakAuditSql: String =
    s"""WITH RECURSIVE $ccCtes,
      |keyed AS (
      |  SELECT d.doc_id,
      |    ('0x' || substr(md5(CAST(coalesce(c.cluster_id, d.doc_id)
      |      AS VARCHAR)), 1, 8))::BIGINT % 5 AS fold_cluster,
      |    ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      % 5 AS fold_doc
      |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
      |ends AS (
      |  SELECT p.a_id, p.b_id,
      |    ka.fold_cluster AS fca, ka.fold_doc AS fda,
      |    kb.fold_cluster AS fcb, kb.fold_doc AS fdb
      |  FROM pairs p
      |  JOIN keyed ka ON ka.doc_id = p.a_id
      |  JOIN keyed kb ON kb.doc_id = p.b_id),
      |leaked AS (
      |  SELECT 'cluster_key' AS scheme, unnest([fca, fcb]) AS fold
      |  FROM ends WHERE fca <> fcb
      |  UNION ALL
      |  SELECT 'doc_key' AS scheme, unnest([fda, fdb]) AS fold
      |  FROM ends WHERE fda <> fdb),
      |lcnt AS (
      |  SELECT scheme, fold, count(*) AS leaked_pairs
      |  FROM leaked GROUP BY 1, 2),
      |counts AS (
      |  SELECT scheme, fold, count(*) AS n_docs FROM (
      |    SELECT 'cluster_key' AS scheme, fold_cluster AS fold FROM keyed
      |    UNION ALL
      |    SELECT 'doc_key' AS scheme, fold_doc AS fold FROM keyed)
      |  GROUP BY 1, 2)
      |SELECT c.scheme, c.fold, c.n_docs,
      |  coalesce(l.leaked_pairs, 0) AS leaked_pairs
      |FROM counts c LEFT JOIN lcnt l
      |  ON l.scheme = c.scheme AND l.fold = c.fold
      |ORDER BY c.scheme, c.fold""".stripMargin

  // ---- q190: quality-quartile × dedup-survival interaction ----------------

  /** q190 — does dedup remove the documents quality filtering would
    * have removed anyway? The q182 survivorship audit slices by SOURCE;
    * this slices by QUALITY QUARTILE (q180's integer lexical-diversity
    * score, bucketed against the corpus-wide exact quartile values —
    * integer inputs make the .25/.5/.75 interpolations IEEE-exact,
    * q27's rule), reporting per quartile the doc count, keep-best
    * survivors, and survival share. If low quartiles survive dedup at
    * the same rate as high ones, dedup and quality filtering are
    * INDEPENDENT gates and their budgets compose multiplicatively; a
    * skew means the pipeline double-counts one signal (near-dup farms
    * are usually low-quality, so curation plans must measure, not
    * assume). Bucketing compares VALUES against the broadcast 3-number
    * threshold row — ties share a bucket, so the assignment needs no
    * global ranking window (the q95 range-sharding trap avoided
    * entirely).
    *
    * Scale shape: one scan computes scores in-row; the quartile
    * thresholds are a 1-row broadcast; the survivor membership join
    * broadcasts the near-dup member relation; the rollup exchanges 4
    * groups. */
  def qualitySurvival(s: SparkSession, dir: String): DataFrame = {
    val scores = Tables.documents(s, dir).select(col("doc_id"),
      expr("bigint(size(array_distinct(split(text, ' '))) * 1000L) div " +
        "bigint(size(split(text, ' ')))").as("score"))
      .localCheckpoint(eager = false)
    val th = scores.agg(
      percentile(col("score"), lit(0.25)).as("q25"),
      percentile(col("score"), lit(0.5)).as("q50"),
      percentile(col("score"), lit(0.75)).as("q75"))
    val members = keepBestMembers(s, dir)
    scores.crossJoin(broadcast(th))
      .join(broadcast(members), Seq("doc_id"), "left")
      .select(
        (lit(1L) +
          when(col("score").cast("double") > col("q25"), 1L).otherwise(0L) +
          when(col("score").cast("double") > col("q50"), 1L).otherwise(0L) +
          when(col("score").cast("double") > col("q75"), 1L).otherwise(0L))
          .as("quartile"),
        isKeptCol.as("is_kept"))
      .groupBy(col("quartile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("is_kept")).as("n_kept"))
      .select(col("quartile"), col("n_docs"), col("n_kept"),
        (col("n_kept").cast("double") / col("n_docs").cast("double"))
          .as("kept_share"))
      .orderBy(col("quartile"))
  }

  /** DuckDB spelling: same score, same quantile_cont thresholds, same
    * value-bucketing and survivor rule. */
  val qualitySurvivalSql: String =
    s"""WITH RECURSIVE $ccCtes,
      |toks AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok
      |  FROM documents),
      |ranked AS (
      |  SELECT c.cluster_id, c.doc_id,
      |    row_number() OVER (PARTITION BY c.cluster_id
      |      ORDER BY t.n_tok DESC, c.doc_id) AS rn
      |  FROM comp c JOIN toks t ON t.doc_id = c.doc_id),
      |sc AS (
      |  SELECT doc_id,
      |    CAST(len(list_distinct(string_split(text, ' '))) * 1000
      |      // len(string_split(text, ' ')) AS BIGINT) AS score
      |  FROM documents),
      |th AS (
      |  SELECT quantile_cont(score, 0.25) AS q25,
      |    quantile_cont(score, 0.50) AS q50,
      |    quantile_cont(score, 0.75) AS q75
      |  FROM sc),
      |b AS (
      |  SELECT sc.doc_id,
      |    1 + CASE WHEN CAST(score AS DOUBLE) > q25 THEN 1 ELSE 0 END
      |      + CASE WHEN CAST(score AS DOUBLE) > q50 THEN 1 ELSE 0 END
      |      + CASE WHEN CAST(score AS DOUBLE) > q75 THEN 1 ELSE 0 END
      |      AS quartile,
      |    CASE WHEN r.doc_id IS NULL THEN 1
      |      WHEN r.rn = 1 THEN 1 ELSE 0 END AS is_kept
      |  FROM sc CROSS JOIN th
      |  LEFT JOIN ranked r ON r.doc_id = sc.doc_id)
      |SELECT CAST(quartile AS BIGINT) AS quartile,
      |  count(*) AS n_docs,
      |  CAST(SUM(is_kept) AS BIGINT) AS n_kept,
      |  CAST(SUM(is_kept) AS DOUBLE) / count(*) AS kept_share
      |FROM b GROUP BY quartile ORDER BY quartile""".stripMargin

  // ---- q112: incremental dedup-cluster maintenance ------------------------

  /** q112 — incremental dedup-cluster maintenance: a new crawl drop's
    * near-dup pairs merged into the PREVIOUS release's stored
    * (doc_id, cluster_id) labels, never a CC recompute over the whole
    * corpus — the operation a continuously-ingesting pipeline runs per
    * drop, where q57's from-scratch clustering is a release-time job.
    * The drop here is q99's ingest batch (doc_id md5-bucket ≥
    * [[Corpus.IngestOldMax]]); the "stored" relation is the previous
    * release's clustering of everything older.
    *
    * The merge is CC over a CONTRACTED graph: each drop pair's endpoints
    * map through the stored labels (an old doc is represented by its
    * cluster id; a doc the previous release never saw represents
    * itself), so existing clusters become super-nodes and the graph
    * solved per drop is |touched clusters| + |drop docs| — NOT corpus-
    * sized. Because stored cluster ids are their clusters' min doc ids,
    * the contracted component minimum IS the merged component's global
    * min doc id: the output is bit-identical to a full recompute —
    * including the hard case where one new doc BRIDGES two existing
    * clusters (both super-nodes land in one contracted component and
    * every member of both clusters relabels to the joint min).
    *
    * Scale shape: at 100 TB the stored labels are a persisted relation
    * read back, not recomputed (recomputed here only because a query
    * takes one input dir); the drop's pairs come from the q99-shape join
    * of the drop against the persisted shingle index — drop-sized, not
    * corpus-sized. The contracted CC input is tiny (near-dup pairs of
    * one drop), and re-labeling the stored relation is ONE broadcast-
    * sized left join (untouched clusters coalesce to their old label) —
    * the only corpus-sized relation in the whole maintenance pass is
    * scanned once, shuffled never. */
  def incrementalClusters(s: SparkSession, dir: String): DataFrame = {
    def isNew(c: Column) = Text.md5Bucket1000(c) >= Corpus.IngestOldMax
    // one pair-pipeline pass (the memoized, checkpointed feed), split by
    // drop membership in-row (newness is a pure function of the id — no
    // membership join)
    val pairs = dedupClusterPairs(s, dir)
    val oldPairs = pairs.filter(!isNew(col("a_id")) && !isNew(col("b_id")))
    val dropPairs = pairs.filter(isNew(col("a_id")) || isNew(col("b_id")))
    // the previous release's stored labels (persisted in production)
    val stored = connectedComponents(oldPairs)
    incrementalClusterMerge(stored, dropPairs).orderBy(col("doc_id"))
  }

  /** The maintenance algebra of [[incrementalClusters]] over explicit
    * relations — stored (doc_id, cluster_id) labels ⊕ a drop's
    * (a_id, b_id) near-dup pairs — split out so the spec can drive
    * multi-drop sequences and assert each release equals the
    * from-scratch clustering of everything seen so far. */
  def incrementalClusterMerge(stored: DataFrame,
      dropPairs: DataFrame): DataFrame = {
    val la = stored.select(col("doc_id").as("a_id"), col("cluster_id").as("la"))
    val lb = stored.select(col("doc_id").as("b_id"), col("cluster_id").as("lb"))
    // contract: endpoint → its stored cluster id; docs unknown to the
    // previous release (the drop's docs, and old docs that never had a
    // pair) represent themselves. Same-cluster pairs collapse to loops
    // and are dropped — they cannot change connectivity.
    val contracted = dropPairs
      .join(la, Seq("a_id"), "left")
      .join(lb, Seq("b_id"), "left")
      .select(coalesce(col("la"), col("a_id")).as("a_id"),
        coalesce(col("lb"), col("b_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
    // CC over the contracted graph only: labels = merged component mins
    val merged = connectedComponents(contracted)
    val relabel = merged
      .select(col("doc_id").as("cluster_id"), col("cluster_id").as("newl"))
    // stored docs: relabel through their cluster's super-node; clusters
    // the drop never touched coalesce to their old label (≡ broadcasting
    // only the changed-cluster delta against the persisted relation)
    val oldSide = stored.join(relabel, Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("newl"), col("cluster_id")).as("cluster_id"))
    // contracted nodes that are NOT stored cluster ids are docs new to
    // the clustering (drop docs, previously-unpaired old docs)
    val newSide = merged.join(
      stored.select(col("cluster_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    oldSide.unionByName(newSide)
  }

  // ---- q113: MinHash-banding admission gate --------------------------------

  /** q113 — near-dup ADMISSION gate by MinHash banding: each incoming
    * document is checked against the existing corpus's persisted BAND
    * index (distinct (band, band_sig) buckets of the corpus signatures)
    * and flagged `near_dup` on any band collision, else `accepted` —
    * q99's ingest gate with LSH economics. The q99 shingle-overlap gate
    * ships every distinct corpus shingle into the join; this one ships
    * [[Bands]] fixed-size keys per corpus DOC at most (fewer after
    * dedup) — the index a pipeline actually persists when the corpus is
    * 100 TB but its signature table must stay cheap to store and join.
    * Evidence (n_hit_bands) is carried, not just the verdict, so the
    * downstream exact-verify (q24's estimate or q98's exact join) can
    * prioritize.
    *
    * Scale shape: incoming batch is drop-sized; the corpus side is the
    * band index ONLY (8 keys/doc, distinct-collapsed), equi-joined and
    * partial-aggregated; no signature, shingle, or text of the corpus
    * moves. Stream twin: [[graft.streaming.DocStreams.gatedNearDup]]
    * runs this relation per micro-batch with zero stream-side state. */
  def minhashGate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bucket = Text.md5Bucket1000(col("doc_id"))
    minhashGateOf(docs.filter(bucket >= Corpus.IngestOldMax),
      corpusBandIndexOf(docs.filter(bucket < Corpus.IngestOldMax)))
      .orderBy(col("doc_id"))
  }

  /** The persisted-index side of [[minhashGate]]: distinct band buckets
    * of a corpus — in production written once per release and read back
    * per drop (it grows by accepted docs only, like q99's shingle
    * index). */
  def corpusBandIndexOf(docs: DataFrame): DataFrame =
    bandedOf(portableSignaturesFast(docs))
      .select(col("band"), col("band_sig")).distinct()

  /** The gate core over explicit relations, [[Corpus.ingestGateOf]]'s
    * shape: incoming (doc_id, text) batch vs the corpus band index. A
    * NULL-text doc has a NULL signature (no band rows), so it reports 0
    * hits and is accepted — the left join from the batch keeps it. */
  def minhashGateOf(batch: DataFrame, corpusBands: DataFrame): DataFrame = {
    val hits = bandedOf(portableSignaturesFast(batch))
      .join(corpusBands, Seq("band", "band_sig"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit_bands"))
    batch.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hit_bands"), lit(0L)).as("n_hit_bands"),
        when(coalesce(col("n_hit_bands"), lit(0L)) >= 1L, "near_dup")
          .otherwise("accepted").as("status"))
  }

  /** DuckDB spelling of [[minhashGate]]: same portable signatures, same
    * band keys, same bucket split, same left-join verdict. */
  def minhashGateSql: String = {
    val bandSig = (0 until Rows).map(r =>
      s"CAST(sig[CAST(bnd * $Rows + ${r + 1} AS INT)] AS VARCHAR)")
      .mkString(" || '_' || ")
    def bucket(q: String) = s"('0x' || substr(md5(CAST($q.doc_id AS " +
      "VARCHAR)), 1, 8))::BIGINT % 1000"
    s"""WITH ${portableSigCtes()},
       |bands AS (
       |  SELECT doc_id, bnd, $bandSig AS bsig
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, $Bands)) AS bnd) r),
       |old AS (
       |  SELECT DISTINCT bnd, bsig FROM bands o
       |  WHERE ${bucket("o")} < ${Corpus.IngestOldMax}),
       |hits AS (
       |  SELECT n.doc_id, CAST(count(*) AS BIGINT) AS n_hit_bands
       |  FROM bands n JOIN old USING (bnd, bsig)
       |  WHERE ${bucket("n")} >= ${Corpus.IngestOldMax}
       |  GROUP BY 1)
       |SELECT d.doc_id, coalesce(h.n_hit_bands, 0) AS n_hit_bands,
       |  CASE WHEN coalesce(h.n_hit_bands, 0) >= 1 THEN 'near_dup'
       |       ELSE 'accepted' END AS status
       |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
       |WHERE ${bucket("d")} >= ${Corpus.IngestOldMax}
       |ORDER BY d.doc_id""".stripMargin
  }

  /** q68 — duplicate-graph triangle census: node/edge counts and the
    * number of triangles in the df-capped near-dup pair graph. Triangle
    * density distinguishes genuine duplicate CLUSTERS (cliquish — a~b,
    * b~c usually implies a~c) from chains of borderline matches — a
    * cheap structural health check on the dedup graph before trusting
    * its components. The canonical edge orientation (a < b) means each
    * triangle a<b<c is counted exactly once by the two equi-joins; the
    * pair graph is df-cap-bounded, so the joins stay small (at extreme
    * scale the standard refinement orders edges by degree first). */
  def dupTriangles(s: SparkSession, dir: String): DataFrame = {
    // the memoized feed is already checkpointed — its blocks serve the
    // three join copies and both counts below without recompute
    val e = dedupClusterPairs(s, dir)
    val e1 = e.select(col("a_id").as("a"), col("b_id").as("b"))
    val e2 = e.select(col("a_id").as("b"), col("b_id").as("c"))
    val e3 = e.select(col("a_id").as("a"), col("b_id").as("c"))
    val tris = e1.join(e2, Seq("b")).join(e3, Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodes = e.select(col("a_id").as("n"))
      .union(e.select(col("b_id").as("n"))).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    val edgesN = e.agg(count(lit(1)).as("n_edges"))
    nodes.crossJoin(edgesN).crossJoin(tris)
  }

  val dupTrianglesSql: String =
    s"""WITH $pairCtes
      |SELECT
      |  (SELECT count(*) FROM (
      |     SELECT a_id AS n FROM pairs UNION SELECT b_id FROM pairs))
      |    AS n_nodes,
      |  (SELECT count(*) FROM pairs) AS n_edges,
      |  (SELECT count(*) FROM pairs e1
      |     JOIN pairs e2 ON e2.a_id = e1.b_id
      |     JOIN pairs e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id)
      |    AS n_triangles""".stripMargin

  // ---- q86: link-analysis quality prior over the dup graph ---------------

  /** Rank fixed-point scale: ranks are integers in units of 1e-6. The
    * invariant Σ ranks ≤ N·[[PrScale]] bounds every intermediate at
    * N·1e6·85 — overflow-free in a signed long up to N ≈ 10^11 nodes
    * (far past a 100 TB corpus's document count). */
  val PrScale = 1000000L
  /** Fixed iteration count: a PRIOR needs a stable ordering signal, not
    * convergence — 3 damped rounds separate hub documents from chain ends,
    * and a FIXED count keeps the value deterministic and the oracle
    * expressible as 3 chained CTEs (no recursion / no epsilon test). */
  val PrIters = 3

  /** q86 — link-analysis quality prior (damped PageRank, 3 fixed rounds)
    * over the df-capped near-dup pair graph — the web-graph centrality
    * prior corpus curation pipelines attach to documents (CommonCrawl
    * publishes harmonic centrality for the same purpose): a document whose
    * near-dup neighborhood is star-shaped (template hub) ranks above chain
    * ends, a structural quality signal q60's keep-best can consume.
    *
    * Determinism: ranks are INTEGER fixed-point ([[PrScale]] units).
    * Every step is exact long arithmetic — `div` share splitting, exact
    * integer sums (order-independent), `(x*85) div 100` damping — so the
    * result is bit-identical across engines, partitionings, and retries;
    * float PageRank would drift in ULPs per round.
    *
    * Scale shape: one keyed shuffle per round (contributions grouped by
    * destination, partial-agg map-side) over an edge relation materialized
    * ONCE — the standard distributed-PageRank plan. Nothing driver-side;
    * rounds are a fixed constant, not data-dependent. */
  def linkPrior(s: SparkSession, dir: String): DataFrame =
    linkPriorOf(dedupClusterPairs(s, dir)) // feed already checkpointed

  /** [[linkPrior]]'s core over an explicit (a_id, b_id) pair relation. */
  private[graft] def linkPriorOf(pairs: DataFrame): DataFrame = {
    // undirected graph: each pair contributes both directions; the edge
    // relation feeds deg + one join per round — materialized once
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint(eager = false)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
      .localCheckpoint(eager = false)
    var rank = deg.select(col("id"), lit(PrScale).as("rank"))
    for (_ <- 1 to PrIters) {
      // each node splits its rank equally over its neighbors (integer
      // share; the ≤deg−1 unit truncation loss is identical cross-engine)
      val share = rank.join(deg, Seq("id"))
        .select(col("id"), expr("rank div deg").as("share"))
      val inSum = edges.join(share, edges("src") === share("id"))
        .groupBy(col("dst")).agg(sum(col("share")).as("in_sum"))
      // every node of the undirected graph has ≥1 in-neighbor, so the
      // aggregated relation covers all nodes — no outer join needed
      rank = inSum.select(col("dst").as("id"),
        (lit(PrScale * 15 / 100) + expr("in_sum * 85 div 100")).as("rank"))
    }
    rank.join(deg, Seq("id"))
      .select(col("id").as("doc_id"), col("deg"), col("rank"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB spelling of [[linkPrior]]: the shared pair CTEs, then the 3
    * rounds unrolled as chained CTEs. `//` ≡ Spark `div` on BIGINT; the
    * sum is CAST back to BIGINT (DuckDB widens sum(BIGINT) to HUGEINT). */
  val linkPriorSql: String = {
    def round(n: Int): String = {
      val prev = if (n == 1) "r0" else s"r${n - 1}"
      s"""r$n AS (
         |  SELECT e.dst AS id,
         |    ${PrScale * 15 / 100} +
         |      (CAST(sum(p.rank // dg.deg) AS BIGINT) * 85) // 100
         |      AS rank
         |  FROM edges e
         |  JOIN $prev p ON e.src = p.id
         |  JOIN deg dg ON e.src = dg.id
         |  GROUP BY e.dst)"""
    }
    s"""WITH $pairCtes,
      |edges AS (
      |  SELECT a_id AS src, b_id AS dst FROM pairs
      |  UNION ALL SELECT b_id, a_id FROM pairs),
      |deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY 1),
      |r0 AS (SELECT id, CAST($PrScale AS BIGINT) AS rank FROM deg),
      |${(1 to PrIters).map(round).mkString(",\n")}
      |SELECT r.id AS doc_id, d.deg, r.rank
      |FROM r$PrIters r JOIN deg d ON d.id = r.id
      |ORDER BY doc_id""".stripMargin
  }

  // ---- q96: shard-level MinHash similarity --------------------------------

  /** q96 — corpus-shard similarity: a MinHash signature PER SOURCE
    * (element-wise min of its documents' signatures — the union
    * semilattice: min over docs of min over shingles = min over the
    * shard's shingle UNION, so the roll-up estimates true shard-level
    * Jaccard), then pairwise signature agreement between sources. The
    * dataset-mixing diagnostic a pipeline runs before weighting sources:
    * near-identical shards are candidates for merging or down-weighting.
    *
    * Scale shape: per-document signatures reduce map-side into one
    * 32-long vector per (source, position) — the exchange carries
    * #sources × 32 rows regardless of corpus size. The pairwise stage is
    * quadratic in #SOURCES only (domains/dumps: thousands at web scale,
    * not billions); its input is KBs. No document text, id, or shingle
    * ever crosses the wire. */
  def shardSimilarity(s: SparkSession, dir: String): DataFrame =
    shardSimilarityOf(Tables.documents(s, dir))

  /** [[shardSimilarity]] over any (source, text) frame — split out so the
    * spec can plant known-identical and known-disjoint shards. */
  def shardSimilarityOf(docs: DataFrame): DataFrame = {
    val sigs = docs.select(col("source"), Shim.column(
      org.apache.spark.sql.graft.PortableMinHash(
        Shim.expression(col("text")), perms.toSeq, MersennePrime)).as("sig"))
    val shard = sigs
      .select(col("source"), posexplode(col("sig")).as(Seq("pos", "v")))
      .groupBy(col("source"), col("pos"))
      .agg(min(col("v")).as("mv"))
    val a = shard.select(col("source").as("src_a"), col("pos"),
      col("mv").as("va"))
    val b = shard.select(col("source").as("src_b"), col("pos"),
      col("mv").as("vb"))
    a.join(b, Seq("pos"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(when(col("va") === col("vb"), 1L).otherwise(0L))
        .as("n_agree"))
      .select(col("src_a"), col("src_b"), col("n_agree"),
        (col("n_agree").cast("double") / P).as("est_jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** DuckDB spelling of [[shardSimilarity]]: the same portable per-doc
    * signatures keyed by source, the same element-wise min roll-up
    * (0-based positions to match posexplode), the same agreement count. */
  def shardSimilaritySql: String =
    s"""WITH ${portableSigCtes("source")},
       |shard AS (
       |  SELECT source, i - 1 AS pos, min(sig[CAST(i AS INT)]) AS mv
       |  FROM sig CROSS JOIN (SELECT unnest(range(1, ${P + 1})) AS i) r
       |  GROUP BY source, i),
       |agree AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(sum(CASE WHEN a.mv = b.mv THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_agree
       |  FROM shard a JOIN shard b
       |    ON a.pos = b.pos AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, n_agree,
       |  CAST(n_agree AS DOUBLE) / $P AS est_jaccard
       |FROM agree ORDER BY src_a, src_b""".stripMargin

  // ---- q98: prefix-filtered exact set-similarity join ---------------------

  /** Jaccard threshold for q98 as an exact rational (≥ 6/10). */
  val PfJacNum = 6L
  val PfJacDen = 10L

  /** q98 — EXACT set-similarity self-join via prefix filtering (the
    * PPJoin/AllPairs family — Chaudhuri et al. "A Primitive Operator for
    * Similarity Joins", Xiao et al. PPJoin): all document pairs whose
    * word-3-shingle sets have Jaccard ≥ [[PfJacNum]]/[[PfJacDen]],
    * PROVABLY complete — the lossless counterpart to the MinHash (q24)
    * estimate and the df-capped (q51) heuristic.
    *
    * The filter: order every document's shingles by global rarity
    * (ascending df, shingle tie-break) and index only the first
    * |d| − ⌈t·|d|⌉ + 1 of them. Two sets with Jaccard ≥ t must overlap in
    * ≥ ⌈t·|d|⌉ elements, so by pigeonhole they share at least one PREFIX
    * element — candidates = an equi-join on prefix shingles only, and the
    * prefix holds the RAREST shingles, exactly the ones with the smallest
    * df — so Σdf² over the index is driven by df of rare tokens, not hot
    * ones. The verify stage recomputes exact intersection/union sizes
    * in-row and keeps `inter·10 ≥ union·6` — an exact integer predicate,
    * no float Jaccard anywhere.
    *
    * Scale shape: df counts partial-aggregate map-side; the per-doc
    * rarity sort is in-row (`array_sort` over (df, shingle) structs — no
    * global rank window, the df value itself is the sort key); the
    * candidate join is bounded by prefix-token df (rare by
    * construction); verification re-attaches the two shingle ARRAYS by
    * doc id — the q49 re-attach pattern — and computes the intersection
    * inside the row. */
  def prefixFilterJoin(s: SparkSession, dir: String): DataFrame =
    prefixFilterJoinOf(Tables.documents(s, dir))

  /** [[prefixFilterJoin]] over any (doc_id, text) frame — split out so
    * the spec can assert completeness against brute force.
    *
    * Two PPJoin refinements beyond the plain prefix filter, both
    * output-invariant (they only shrink the CANDIDATE set, never the
    * result — the oracle and the brute-force spec pin that):
    *  - '''length filter''': J ≥ t forces t·|a| ≤ |b| ≤ |a|/t — checked
    *    by integer cross-multiplication inside the join condition;
    *  - '''positional filter''': a match at sorted positions (i, j)
    *    bounds the overlap by min(i−1, j−1) + 1 + min(|a|−i, |b|−j);
    *    candidates that cannot reach α = ⌈t/(1+t)·(|a|+|b|)⌉ die in the
    *    join, before the distinct and the verify re-attach.
    * Verification intersects 60-bit PORTABLE SHINGLE HASHES (the q48
    * md5-prefix trick), not strings: the candidate re-attach carries
    * 8 bytes per shingle instead of ~50 (measured 20.8 s → the array
    * traffic was the whole cost at sf0.1), and the hashed intersection
    * count equals the string count unless two of the corpus's distinct
    * shingles collide in 2^60 (P ≈ V²/2^61; at V = 10⁹ shingles widen to
    * two independent 60-bit hashes — the structure is unchanged). The
    * DuckDB oracle hashes with the SAME md5 prefix, so even a collision
    * cannot make the engines diverge — both see identical values. */
  def prefixFilterJoinOf(docs: DataFrame): DataFrame = {
    // the exploded (doc_id, shingle) index is built ONCE and checkpointed
    // (it feeds the df counts AND the rarity sort); the INNER barrier after
    // the split projection is load-bearing too — CollapseProject inlines
    // split() into the shingle lambda (O(L²) re-split per element;
    // measured 7.5 s → 0.85 s for this stage at sf0.1)
    val idx = graft.ops.Par.fan(docs)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .localCheckpoint(eager = false)
      .select(col("doc_id"), shinglesFromWords(col("w")).as("sh"))
      .select(col("doc_id"), explode(col("sh")).as("tok"))
      .localCheckpoint(eager = false)
    val df = idx.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // rarity-sorted by (df, tok) on STRINGS (deterministic), then hashed
    // in-row — downstream only ever sees 8-byte shingle ids
    val sorted = idx
      .join(df, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(transform(array_sort(collect_list(struct(col("df"), col("tok")))),
        x => conv(substring(md5(x.getField("tok")), 1, 15), 16, 10)
          .cast("long")).as("toks"), count(lit(1)).as("n"))
      // vt = the same hashes VALUE-sorted, for the two-pointer verify
      // kernel (toks stays rarity-sorted — the prefix slice needs it)
      .withColumn("vt", array_sort(col("toks")))
      .localCheckpoint(eager = false) // feeds prefix AND both verify sides
    // prefix length |d| − ⌈t·|d|⌉ + 1, all integer arithmetic
    val plen = (col("n") -
      expr(s"(n * $PfJacNum + ${PfJacDen - 1}) div $PfJacDen") + lit(1))
      .cast("int")
    val pref = sorted.select(col("doc_id"), col("n"),
      posexplode(slice(col("toks"), lit(1), plen)).as(Seq("pos0", "tok")))
    val a = pref.select(col("doc_id").as("a_id"), col("n").as("na"),
      (col("pos0") + 1).as("pa"), col("tok"))
    val b = pref.select(col("doc_id").as("b_id"), col("n").as("nb"),
      (col("pos0") + 1).as("pb"), col("tok"))
    val alpha = expr(s"($PfJacNum * (na + nb) + ${PfJacNum + PfJacDen - 1})" +
      s" div ${PfJacNum + PfJacDen}")
    val cand = a.join(b, Seq("tok"))
      .filter(col("a_id") < col("b_id"))
      .filter(col("nb") * PfJacDen >= col("na") * PfJacNum &&
        col("na") * PfJacDen >= col("nb") * PfJacNum)
      .filter(least(col("pa") - 1, col("pb") - 1) + lit(1) +
        least(col("na") - col("pa"), col("nb") - col("pb")) >= alpha)
      .select(col("a_id"), col("b_id")).distinct()
    // NOTE (round 16): at sf0.1 AQE's byte-driven coalescing runs the
    // two re-attach joins (and the verify merge riding in them) on 1-2
    // tasks (~1.6 MB of shuffled arrays). Two pinned-exchange spellings
    // were tried and both measured SLOWER: pinning the pair side
    // shuffles the attached arrays for real (82 MB), pinning the array
    // side adds an exchange that AQE's broadcast planning then bypasses.
    // The 1-task verify is a small-scale artifact — at production sizes
    // bytes/core exceeds any coalescing floor and the stage fans out on
    // its own — so the join shape is left alone.
    cand
      .join(sorted.select(col("doc_id").as("a_id"), col("vt").as("ta"),
        col("n").as("na")), Seq("a_id"))
      .join(sorted.select(col("doc_id").as("b_id"), col("vt").as("tb"),
        col("n").as("nb")), Seq("b_id"))
      // allocation-free two-pointer merge instead of
      // size(array_intersect(...)): no per-pair hash set, no intersection
      // array materialized just to measure its length (2.3 s → the merge
      // is the verify at sf0.1)
      .withColumn("inter", Shim.column(org.apache.spark.sql.graft
        .SortedIntersectCount(Shim.expression(col("ta")),
          Shim.expression(col("tb")))))
      .filter(col("inter") * PfJacDen >=
        (col("na") + col("nb") - col("inter")) * PfJacNum)
      .select(col("a_id"), col("b_id"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** DuckDB spelling of [[prefixFilterJoin]]: same shingles, same rarity
    * order, same prefix length, same integer threshold predicate. */
  val prefixFilterJoinSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, greatest(len(w) - 2, 1) + 1),
       |    i -> w[i] || ' ' || w[least(i + 1, len(w))] || ' ' ||
       |         w[least(i + 2, len(w))]))) AS tok
       |  FROM w),
       |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1),
       |sorted AS (
       |  SELECT doc_id,
       |    list(('0x' || substr(md5(s.tok), 1, 15))::BIGINT
       |      ORDER BY df, s.tok) AS toks,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM sh s JOIN df USING (tok) GROUP BY doc_id),
       |pref AS (
       |  SELECT doc_id, unnest(toks[1 : CAST(n -
       |    (n * $PfJacNum + ${PfJacDen - 1}) // $PfJacDen + 1 AS INT)]) AS tok
       |  FROM sorted),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id),
       |ver AS (
       |  SELECT c.a_id, c.b_id,
       |    CAST(len(list_intersect(da.toks, db.toks)) AS BIGINT) AS inter,
       |    da.n + db.n AS nsum
       |  FROM cand c
       |  JOIN sorted da ON da.doc_id = c.a_id
       |  JOIN sorted db ON db.doc_id = c.b_id)
       |SELECT a_id, b_id, inter, nsum - inter AS uni
       |FROM ver
       |WHERE inter * $PfJacDen >= (nsum - inter) * $PfJacNum
       |ORDER BY a_id, b_id""".stripMargin

  // ---- q107: cross-source duplication matrix -------------------------------

  /** q107 — cross-source duplication matrix: the df-capped near-dup
    * pairs (the q51 pipeline) rolled up to unordered source pairs — the
    * EXACT pair-level companion to q96's signature-level shard estimate.
    * Off-diagonal entries expose sources copying from each other
    * (mirrors, syndication — candidates for source-level dedup before
    * doc-level); diagonal entries are each source's internal duplication
    * load. This is the relation that decides SOURCE-level curation
    * (drop/merge a mirror) before any per-document work.
    *
    * Scale shape: rides the capped pair feed (Σdf² bounded by the q51
    * cap); the source lookup re-attaches by doc id (two keyed joins of
    * an id-only pair relation against an id→source projection); the
    * matrix itself is ≤ #sources² rows. */
  def sourceDupMatrix(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    dedupClusterPairs(s, dir) // the shared, once-materialized feed
      .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")),
        Seq("a_id"))
      .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")),
        Seq("b_id"))
      .groupBy(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** DuckDB spelling of [[sourceDupMatrix]]: the shared capped pair CTEs
    * plus the same unordered source roll-up. */
  def sourceDupMatrixSql: String =
    s"""WITH $pairCtes,
       |d AS (SELECT doc_id, source FROM documents)
       |SELECT least(da.source, db.source) AS src_a,
       |  greatest(da.source, db.source) AS src_b,
       |  CAST(count(*) AS BIGINT) AS n_pairs
       |FROM pairs
       |JOIN d da ON da.doc_id = a_id
       |JOIN d db ON db.doc_id = b_id
       |GROUP BY 1, 2
       |ORDER BY src_a, src_b""".stripMargin

  // ---- q140: MinHash estimator calibration audit ---------------------------

  /** q140 — sketch calibration: for every banded candidate pair, the
    * 32-permutation MinHash match count (the estimator) beside the EXACT
    * shingle-set Jaccard — rolled up per match-count bucket as
    * micro-averaged Σinter/Σuni. This is the measurement that justifies
    * (or retunes) the banding threshold every sketch-based dedup pipeline
    * runs on: q24 TRUSTS est ≥ 0.5; this query measures what est is
    * actually worth against ground truth on this corpus.
    *
    * Everything before the two final divisions is exact integers: the
    * match count is a 0..32 int, inter/uni are set sizes over the SAME
    * md5-hashed shingle domain in both engines (hashing both sides is
    * the q98 oracle lesson — raw strings on one side and 32-bit hashes
    * on the other would diverge on collision), and the per-bucket
    * roll-up sums them before dividing ONCE — never a mean of per-pair
    * IEEE ratios, which would be accumulation-order-dependent.
    *
    * Scale shape: candidates come from the same banded equi-join as q24
    * (never all-pairs); the corpus-wide pass carries only signatures
    * (32 longs/doc) and the exact shingle-hash sets are RE-DERIVED for
    * candidate docs only (a semi-join slice — recompute-narrow beats
    * ship-wide), attached by id, sorted once so the per-pair verify is
    * the two-pointer merge kernel; union size is computed as
    * |A|+|B|−inter so no union array materializes; the output
    * partial-aggregates into ≤33 rows. */
  def minhashCalibration(s: SparkSession, dir: String): DataFrame = {
    // corpus-wide pass carries ONLY doc_id + the 32-long signature —
    // the round-11 shape also checkpointed every document's full
    // hashed-shingle SET here, paying its materialization + shuffle for
    // all N docs when only the banded candidates (a tiny fraction) are
    // ever verified; measured ~0.6 s of q140's 2.7 s at sf0.1, and at
    // 100 TB it is the difference between corpus-wide state of 256
    // bytes/doc and corpus-wide state of the whole token payload
    val words = graft.ops.Par.fan(Tables.documents(s, dir)
        .filter(col("text").isNotNull))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .localCheckpoint(eager = false) // split-inlining barrier; feeds
    // the sig pass AND the candidate-only hset re-pass
    def hashedShingles(d: DataFrame): DataFrame = d
      .select(col("doc_id"), shinglesFromWords(col("w")).as("sh"))
      .select(col("doc_id"), transform(col("sh"), s =>
        pmod(conv(substring(md5(s), 1, 8), 16, 10).cast("long"),
          lit(MersennePrime))).as("hs"))
    val staged = hashedShingles(words)
      .select(col("doc_id"), minhashSignature(col("hs")).as("sig"))
      .localCheckpoint(eager = false) // feeds both band-join sides
    val banded = bandedOf(staged)
    val cand = banded
      .select(col("doc_id").as("a_id"), col("sig").as("a_sig"),
        col("band"), col("band_sig"))
      .join(banded.select(col("doc_id").as("b_id"), col("sig").as("b_sig"),
        col("band"), col("band_sig")), Seq("band", "band_sig"))
      .filter(col("a_id") < col("b_id"))
      // est BEFORE the pair dedup: deterministic per pair, so the dedup
      // is a HashAggregate over three scalars instead of a first(array)
      // SortAggregate carrying both 32-long sigs through the exchange
      .select(col("a_id"), col("b_id"),
        graft.functions.VectorFunctions
          .int_match_count(col("a_sig"), col("b_sig")).as("est"))
      .dropDuplicates("a_id", "b_id")
      .localCheckpoint(eager = false) // feeds the id semi-join AND the
    // verify joins (≤ candidate-pair rows of three scalars)
    // SECOND, candidate-only pass: re-derive the exact shingle-hash set
    // (same md5 domain ⇒ bit-identical values) for JUST the docs that
    // appear in a candidate pair. Recomputing a narrow slice beats
    // shipping every document's set: the semi-join keys broadcast, the
    // md5 work applies only to survivors, and the sets are SORTED here —
    // once per candidate doc — so the per-pair verify below is the
    // allocation-free two-pointer merge kernel (the q98 lesson)
    val candIds = cand
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
    val hsets = hashedShingles(
        words.join(broadcast(candIds), Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), sort_array(array_distinct(col("hs"))).as("hset"))
      .localCheckpoint(eager = false) // feeds both verify attaches
    cand
      .join(hsets.select(col("doc_id").as("a_id"), col("hset").as("ha")),
        Seq("a_id"))
      .join(hsets.select(col("doc_id").as("b_id"), col("hset").as("hb")),
        Seq("b_id"))
      // two-pointer merge over the staged-sorted sets (same kernel as
      // q98's verify; value-identical to size(array_intersect(...)) —
      // PropertySpec proves the equality on random arrays)
      .select(col("est"),
        Shim.column(org.apache.spark.sql.graft.SortedIntersectCount(
          Shim.expression(col("ha")), Shim.expression(col("hb"))))
          .as("inter"),
        (size(col("ha")) + size(col("hb"))).cast("long").as("sz"))
      .select(col("est"), col("inter"), (col("sz") - col("inter")).as("uni"))
      .groupBy(col("est"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("inter")).as("sum_inter"),
        sum(col("uni")).as("sum_uni"))
      .select(col("est"), col("n_pairs"), col("sum_inter"), col("sum_uni"),
        (col("est").cast("double") / lit(P)).as("est_jaccard"),
        (col("sum_inter").cast("double") / col("sum_uni").cast("double"))
          .as("micro_jaccard"))
      .orderBy(col("est"))
  }

  /** Same signatures/banding/hash domain in SQL; union via |A|+|B|−inter. */
  def minhashCalibrationSql: String = {
    val bandConds = bandCondsSql
    s"""WITH ${portableSigCtes()},
       |hset AS (
       |  SELECT doc_id, list_distinct(hs) AS hset FROM hashed),
       |cand AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    CAST(list_sum(list_transform(range(1, ${P + 1}),
       |      i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
       |      AS BIGINT) AS est
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |    AND ($bandConds)),
       |v AS (
       |  SELECT c.est,
       |    CAST(len(list_intersect(ha.hset, hb.hset)) AS BIGINT) AS inter,
       |    CAST(len(ha.hset) + len(hb.hset)
       |      - len(list_intersect(ha.hset, hb.hset)) AS BIGINT) AS uni
       |  FROM cand c
       |  JOIN hset ha ON ha.doc_id = c.a_id
       |  JOIN hset hb ON hb.doc_id = c.b_id)
       |SELECT est, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(inter) AS BIGINT) AS sum_inter,
       |  CAST(sum(uni) AS BIGINT) AS sum_uni,
       |  CAST(est AS DOUBLE) / $P AS est_jaccard,
       |  CAST(sum(inter) AS DOUBLE) / CAST(sum(uni) AS DOUBLE)
       |    AS micro_jaccard
       |FROM v GROUP BY est
       |ORDER BY est""".stripMargin
  }

  // ---- q258: cross-source vocabulary overlap (declarative kernel) --------

  /** q258 — pairwise VOCABULARY overlap between sources: for every
    * source pair, |vocab(a) ∩ vocab(b)| beside each side's vocabulary
    * size — the corpus-mixing diagnostic (two crawls sharing most of
    * their vocabulary are near-redundant for training; a source with a
    * disjoint vocabulary is the one worth upweighting).
    *
    * Deliberately spelled DECLARATIVELY: the overlap is plain
    * `size(array_intersect(sort_array(va), sort_array(vb)))` in a
    * `selectExpr`, and the session's [[graft.GraftExtensions]]-injected
    * [[org.apache.spark.sql.graft.RewriteSortedIntersectCount]] rule
    * upgrades it to the allocation-free two-pointer merge kernel (the
    * rewrite is provable here because `collect_set` output is
    * `containsNull = false`). PlanShapeSpec locks the kernel into this
    * query's optimized plan — the optimizer-rule tier is load-bearing
    * in the gate, not just unit-tested. q140/q98 call the kernel
    * directly because their sorted arrays cross a checkpoint + join and
    * arrive as bare attributes the rule cannot prove sorted; here the
    * `sort_array` sits syntactically inside the expression, which is
    * exactly the spelling a USER of the library would write.
    *
    * Scale shape: one tokenize+distinct pass over the corpus (the only
    * data-sized stage), then everything is #sources-bounded: the vocab
    * relation has one row per source, the pair join is
    * #sources·(#sources−1)/2 rows (sources are a catalog-sized
    * dimension — tens, not millions), and each per-pair merge is linear
    * in vocabulary size. Token hashes use the 60-bit md5 spelling
    * shared with q25 so the DuckDB oracle reproduces them bit-exactly
    * (collisions, if any, collapse identically in both engines). */
  def sourceVocabOverlap(s: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .select(col("source"),
        conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy(col("source"))
      .agg(collect_set(col("h")).as("vs"))
    val a = vocab.select(col("source").as("src_a"), col("vs").as("va"))
    val b = vocab.select(col("source").as("src_b"), col("vs").as("vb"))
    a.join(b, col("src_a") < col("src_b")) // #sources² nested loop: tiny
      .select(col("src_a"), col("src_b"),
        expr("size(array_intersect(sort_array(va), sort_array(vb)))")
          .cast("long").as("inter"),
        size(col("va")).cast("long").as("na"),
        size(col("vb")).cast("long").as("nb"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Same 60-bit md5 token hash; zero-overlap pairs kept via the size
    * cross join + left join (the Spark side emits them with inter=0). */
  val sourceVocabOverlapSql: String =
    """WITH words AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS t
      |  FROM documents WHERE text IS NOT NULL),
      |v AS (
      |  SELECT DISTINCT source,
      |    ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
      |  FROM words),
      |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
      |x AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    CAST(count(*) AS BIGINT) AS inter
      |  FROM v a JOIN v b ON a.h = b.h AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT na.source AS src_a, nb.source AS src_b,
      |  CAST(COALESCE(x.inter, 0) AS BIGINT) AS inter,
      |  na.n AS na, nb.n AS nb
      |FROM n na JOIN n nb ON na.source < nb.source
      |LEFT JOIN x ON x.src_a = na.source AND x.src_b = nb.source
      |ORDER BY src_a, src_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q258_vocab_overlap" -> (sourceVocabOverlap _),
    "q190_quality_survival" -> (qualitySurvival _),
    "q185_fold_leak_audit" -> (foldLeakAudit _),
    "q184_rebalance_quota" -> (rebalanceQuota _),
    "q182_survivorship" -> (survivorshipAudit _),
    "q178_cluster_decontam" -> (clusterDecontam _),
    "q140_minhash_calibration" -> (minhashCalibration _),
    "q113_minhash_gate" -> (minhashGate _),
    "q112_incremental_clusters" -> (incrementalClusters _),
    "q107_source_dup_matrix" -> (sourceDupMatrix _),
    "q98_prefix_filter_join" -> (prefixFilterJoin _),
    "q96_shard_similarity" -> (shardSimilarity _),
    "q86_link_prior" -> (linkPrior _),
    "q57_dedup_clusters" -> (dedupClusters _),
    "q231_dedup_weights" -> (dedupWeights _),
    "q212_positive_pairs" -> (positivePairs _),
    "q58_cc_distributed" -> (dedupClustersDistributed _),
    "q60_cluster_keep_best" -> (clusterKeepBest _),
    "q68_dup_triangles" -> (dupTriangles _),
    "q77_leakfree_split" -> (leakFreeSplit _),
    "q24_minhash_pairs" -> (minhashPairs _),
    "q25_simhash_pairs" -> (simhashPairs _),
    "q48_minhash_portable" -> (minhashPortable _))

  /** All three registered queries use the md5-portable hashing so the
    * DuckDB oracle verifies signatures, banding/chunking, candidate joins,
    * and thresholds value-exactly. The Spark-native-hash variants
    * (xxhash64 minhash, FNV SimHash) remain the cheap production
    * spellings, spec-verified in DedupSpec against planted dups. */
  val oracles: Map[String, String] = Map(
    "q258_vocab_overlap" -> sourceVocabOverlapSql,
    "q190_quality_survival" -> qualitySurvivalSql,
    "q185_fold_leak_audit" -> foldLeakAuditSql,
    "q184_rebalance_quota" -> rebalanceQuotaSql,
    "q182_survivorship" -> survivorshipAuditSql,
    "q178_cluster_decontam" -> clusterDecontamSql,
    "q140_minhash_calibration" -> minhashCalibrationSql,
    // q112's oracle is q57's FULL-recompute CC: incremental maintenance
    // must be value-invisible (the q109 pattern) — the merged labels are
    // only right if they equal clustering the whole corpus from scratch
    "q112_incremental_clusters" -> dedupClustersSql,
    "q113_minhash_gate" -> minhashGateSql,
    "q107_source_dup_matrix" -> sourceDupMatrixSql,
    "q98_prefix_filter_join" -> prefixFilterJoinSql,
    "q96_shard_similarity" -> shardSimilaritySql,
    "q86_link_prior"      -> linkPriorSql,
    "q57_dedup_clusters"  -> dedupClustersSql,
    "q231_dedup_weights"  -> dedupWeightsSql,
    "q212_positive_pairs" -> positivePairsSql,
    "q58_cc_distributed"  -> dedupClustersSql,
    "q60_cluster_keep_best" -> clusterKeepBestSql,
    "q68_dup_triangles"   -> dupTrianglesSql,
    "q77_leakfree_split"  -> leakFreeSplitSql,
    "q24_minhash_pairs"   -> minhashPairsSql,
    "q25_simhash_pairs"   -> simhashPairsSql,
    "q48_minhash_portable" -> minhashPortableSql)
}
