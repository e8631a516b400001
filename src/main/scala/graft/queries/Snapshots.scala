package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.SnapTable._
import graft.tables.Tables

/** The snapshot table format ([[graft.io.SnapTable]]) under the oracle
  * gate, q236–q274: each query reads a table derived from `documents`
  * by a few commits and reports stats the DuckDB oracle recomputes
  * from the raw parquet in closed form, so every commit kind must be
  * value-invisible.
  *
  * Each table is a named commit script in [[scripts]], built once per
  * (session, dir, name) by [[Tables.documentsFixture]] and rebuilt in a
  * new dir when `documents` is rewritten. Every name has its own dir:
  * no query commits to a table another query reads, so an answer never
  * depends on which queries ran before it in the session.
  */
object Snapshots {

  /** A fixture's commits: (session, documents, empty table dir). */
  private type Script = (SparkSession, DataFrame, String) => Unit

  private val scripts: Map[String, Script] = Map(
    // The documents corpus rebuilt as a 4-version snapshot table: v1 =
    // even doc_ids, v2 = append of the odd ones (full corpus), v3 =
    // copy-on-write delete of doc_id % 10 == 3, v4 = MERGE of every
    // doc_id % 7 == 0 re-labeled source='merged' (updates the surviving
    // ones, re-INSERTS the ones v3 deleted). All four predicates are
    // closed-form, so the DuckDB oracle recomputes any version from the
    // raw parquet.
    ("snap_docs", (s, docs, d) => {
      create(docs.filter(col("doc_id") % 2 === 0), d)
      append(docs.filter(col("doc_id") % 2 =!= 0), d)
      deleteWhere(s, d, col("doc_id") % 10 === 3)
      merge(docs.filter(col("doc_id") % 7 === 0)
        .withColumn("source", lit("merged")), d, "doc_id")
    }),
    // A stats-enabled snapshot of the corpus, range-partitioned on
    // doc_id so the per-file [min, max] ranges are disjoint and pruning
    // actually bites (hash-partitioned files all span the full range —
    // nothing would skip; real tables get this clustering from q94's
    // Z-order / q124's layout discipline).
    ("snap_stats", (_, docs, d) =>
      create(docs.repartitionByRange(8, col("doc_id")), d, Some("doc_id"))),
    // q241's own copy of the stats table, optimized once: q241 must
    // observe the POST-compaction state, and re-optimizing on every
    // call would grow the version chain per query run. Its own dir, so
    // q240/q271/q272 read the 8 range files whether or not q241 ran.
    ("snap_optimized", (s, docs, d) => {
      scripts("snap_stats")(s, docs, d)
      optimize(s, d, targetFiles = 2)
    }),
    // The documents corpus Z-ordered on (doc_id, n_chars): created
    // unclustered (8 hash files — every file spans both full value
    // ranges, the worst case), then OPTIMIZE ZORDER BY rewrites it into
    // 8 Morton tiles with 2-D bounding boxes in the manifest.
    ("snap_zorder", (s, docs, d) => {
      create(docs.repartition(8), d)
      optimizeZorder(s, d, targetFiles = 8, "doc_id", "n_chars")
    }),
    // The WAP-cycle fixture: v1 = even doc_ids; batch A (odds with
    // n_chars ≥ 100) stages, AUDITS clean (the q108 length floor as the
    // go/no-go rule), publishes as v2; batch B (odds with n_chars < 100)
    // stages, FAILS the same audit, discards — its rows must never
    // appear in any snapshot.
    ("snap_wap", (s, docs, d) => {
      create(docs.filter(col("doc_id") % 2 === 0), d)
      def audit(id: String): Boolean =
        readStaged(s, d, id)
          .agg(min(col("n_chars")).as("mn")).head().getLong(0) >= 100L
      val a = stage(docs.filter(col("doc_id") % 2 =!= 0 &&
        col("n_chars") >= 100), d)
      val b = stage(docs.filter(col("doc_id") % 2 =!= 0 &&
        col("n_chars") < 100), d)
      require(audit(a), "WAP fixture: batch A must pass the audit")
      publish(s, d, a)
      require(!audit(b), "WAP fixture: batch B must fail the audit")
      discard(s, d, b)
    }),
    // The deterministic OCC-interleave fixture: v1 = even doc_ids, v2 =
    // +odds (full corpus); then writer A PLANS a copy-on-write delete of
    // doc_id % 5 == 1 against v2, writer B commits an append of 'late'
    // rows (doc_id % 10 == 6, re-keyed +1,000,000) as v3, and A commits
    // LAST — occCommit rebases its delete over B's append as v4. Every
    // late row MATCHES the delete predicate (id % 10 == 6 ⇒ id % 5 == 1,
    // and +10⁶ ≡ 0 mod 5) yet must survive: write-serializable OCC
    // applies a predicate to the snapshot the writer READ, never to rows
    // that didn't exist then. An engine that re-ran the predicate at
    // commit time (or resurrected A's base) shows up as a wrong v4 row.
    ("snap_occ", (s, docs, d) => {
      create(docs.filter(col("doc_id") % 2 === 0), d)
      append(docs.filter(col("doc_id") % 2 =!= 0), d)
      val planBase = currentVersion(s, d) // = 2: writer A's stale base
      append(docs.filter(col("doc_id") % 10 === 6)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("source", lit("late")), d) // writer B wins: v3
      deleteWhereFrom(s, d, col("doc_id") % 5 === 1, planBase) // A: v4
    }),
    // The deterministic merge-rebase interleave fixture: v1 = even
    // doc_ids; writer A PLANS a MERGE against v1 — updates = the
    // doc_id % 10 == 0 rows re-labeled source='merged' with n_chars +
    // 1000 — writer B commits an append of every odd doc as v2 (keys
    // DISJOINT from A's update keys), and A commits LAST: the merge
    // rebases over B's append as v3, carrying B's files by reference
    // after the per-claim key-clash probe clears them. Under the former
    // refuse-any-interleave contract this merge threw; a key-CLASHING
    // interleave still does (SnapTableSpec).
    ("snap_mrebase", (_, docs, d) => {
      create(docs.filter(col("doc_id") % 2 === 0), d)
      val updates = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("source", lit("merged"))
        .withColumn("n_chars", col("n_chars") + 1000L)
      append(docs.filter(col("doc_id") % 2 =!= 0), d) // writer B wins: v2
      mergeFrom(updates, d, "doc_id", 1)              // A rebases: v3
    }),
    // The merge-on-read fixture: v1 = the full corpus; v2 = MoR delete
    // of doc_id % 10 == 3 (a deletion-vector sidecar, ZERO data files
    // rewritten); v3 = a second MoR delete (source='src4' ∧ doc_id % 7
    // == 2) stacking its own vector; v4 = an append of doc_id % 1000 ==
    // 7 re-labeled source='restated' — new files the vectors must NOT
    // touch (positions are per-file), while the carried vectors keep
    // applying to v1's files. All predicates are closed-form, so the
    // DuckDB oracle recomputes any version from the raw parquet.
    ("snap_mor", (s, docs, d) => {
      create(docs, d)
      deleteWhereMor(s, d, col("doc_id") % 10 === 3)
      deleteWhereMor(s, d,
        col("source") === "src4" && col("doc_id") % 7 === 2)
      append(docs.filter(col("doc_id") % 1000 === 7)
        .withColumn("source", lit("restated")), d)
    }),
    // The DV-compaction fixture: the q261 MoR chain (create → two
    // stacked MoR deletes → append) followed by compactDeletionVectors —
    // two sidecars fold into one, zero data files rewritten.
    ("snap_dvc", (s, docs, d) => {
      scripts("snap_mor")(s, docs, d)
      compactDeletionVectors(s, d)
    }),
    // The merge-on-read UPSERT fixture: v1 = the full corpus; v2 =
    // mergeMor of a batch with BOTH arms — doc_id % 9 == 4 re-labeled
    // source='upserted' with n_chars + 1000 (updates: their old rows
    // become deletion-vector positions) and doc_id % 1000 == 3 re-keyed
    // +2,000,000, source='inserted' (inserts) — zero data files
    // rewritten; v3 = a MoR DELETE of doc_id % 10 == 8 stacked on top,
    // whose positions land in BOTH vintages of files (the original
    // corpus AND the v2 upsert files — per-file positions are
    // file-agnostic). Closed-form predicates throughout, so the oracle
    // recomputes from raw parquet.
    ("snap_mormerge", (s, docs, d) => {
      create(docs, d)
      val updates = docs.filter(col("doc_id") % 9 === 4)
        .withColumn("source", lit("upserted"))
        .withColumn("n_chars", col("n_chars") + 1000L)
        .unionByName(docs.filter(col("doc_id") % 1000 === 3)
          .withColumn("doc_id", col("doc_id") + 2000000L)
          .withColumn("source", lit("inserted")))
      mergeMor(updates, d, "doc_id")
      deleteWhereMor(s, d, col("doc_id") % 10 === 8)
    }),
    // A bloom-enabled snapshot of the corpus, HASH-partitioned into 8
    // files deliberately (every file spans the full doc_id range — the
    // worst case for min/max skipping, and exactly where per-file bloom
    // bits still prune a point lookup to ~1 file).
    ("snap_bloom", (_, docs, d) =>
      create(docs.repartition(8), d, statsCol = None,
        bloomCol = Some("doc_id"))),
    // The column-mapping fixture: v1 = even doc_ids; v2 = RENAME n_chars
    // → char_count (pure meta, zero files); v3 = append of the odd docs
    // under the NEW logical name (written back to the stable physical
    // schema); v4 = a CoW delete whose predicate uses the new name,
    // rewriting files across both vintages through the map. Closed-form
    // predicates, so the oracle recomputes from raw parquet.
    ("snap_rename", (s, docs, d) => {
      create(docs.filter(col("doc_id") % 2 === 0), d)
      renameColumn(s, d, "n_chars", "char_count")
      append(docs.filter(col("doc_id") % 2 =!= 0)
        .withColumnRenamed("n_chars", "char_count"), d)
      deleteWhere(s, d, col("char_count") < 50)
    }),
    // The DV-IVM fixture: a 6-version history interleaving every commit
    // kind the fold must account — v1 create (evens), v2 append (odds),
    // v3 MoR delete (doc_id % 10 == 3, a pure sidecar commit: file delta
    // = ∅), v4 MoR MERGE (doc_id % 9 == 4 → source='upserted', n_chars +
    // 1000: sidecar over OLD files + new update files in one commit), v5
    // append (doc_id % 1000 == 7 → 'restated'), v6 a second MoR delete
    // (source='src2' ∧ doc_id % 5 == 0) whose sidecar stacks over
    // everything. Closed-form predicates throughout, so the DuckDB
    // oracle recomputes the final view from raw parquet.
    ("snap_ivmdv", (s, docs, d) => {
      create(docs.filter(col("doc_id") % 2 === 0), d)
      append(docs.filter(col("doc_id") % 2 =!= 0), d)
      deleteWhereMor(s, d, col("doc_id") % 10 === 3)
      mergeMor(docs.filter(col("doc_id") % 9 === 4)
        .withColumn("source", lit("upserted"))
        .withColumn("n_chars", col("n_chars") + 1000L), d, "doc_id")
      append(docs.filter(col("doc_id") % 1000 === 7)
        .withColumn("source", lit("restated")), d)
      deleteWhereMor(s, d,
        col("source") === "src2" && col("doc_id") % 5 === 0)
    }))

  /** The table dir of fixture `name` over the corpus at `dir`. */
  private[graft] def fixture(s: SparkSession, dir: String,
      name: String): String =
    Tables.documentsFixture(s, dir, name)(scripts(name)(s, _, _))

  /** Per-source (n_docs, total_chars[, max_doc_id]) ordered by source,
    * the report most queries here gate; `chars` is the char-count
    * column's name (the renamed fixture calls it `char_count`). */
  private def sourceStats(df: DataFrame, withMax: Boolean = true,
      chars: String = "n_chars"): DataFrame =
    df.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), (sum(col(chars)).as("total_chars") +:
        (if (withMax) Seq(max(col("doc_id")).as("max_doc_id")) else Nil)): _*)
      .orderBy(col("source"))

  /** One (version, aggs…) row per version, each aggregated over
    * `readAt(version)`, ordered by version. */
  private def versionAudit(versions: Range, readAt: Int => DataFrame)(
      aggs: Column*): DataFrame =
    versions.map(v => readAt(v).agg(aggs.head, aggs.tail: _*)
      .select(lit(v.toLong).as("version"), col("*")))
      .reduce(_ union _).orderBy(col("version"))

  /** The (n_docs, id_sum, char_sum) audit of q237, q262 and q268. */
  private def docSums: Seq[Column] = Seq(count(lit(1)).as("n_docs"),
    sum(col("doc_id")).as("id_sum"), sum(col("n_chars")).as("char_sum"))

  // ---- q236/q237: the format under the oracle gate -------------------------

  /** q236 — per-source stats from the POST-DELETE snapshot (as-of v3):
    * the create→append→CoW-delete chain, the manifest selection, and
    * the file-granular rewrite must all be value-invisible — the q124/
    * q222 storage discipline applied to a TABLE FORMAT. The oracle
    * recomputes the same stats from the raw parquet with the delete
    * predicate inlined. */
  def snapshotStats(s: SparkSession, dir: String): DataFrame =
    sourceStats(read(s, fixture(s, dir, "snap_docs"), Some(3)))

  val snapshotStatsSql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  max(doc_id) AS max_doc_id
      |FROM documents
      |WHERE doc_id % 10 <> 3
      |GROUP BY source ORDER BY source""".stripMargin

  /** q237 — TIME TRAVEL audit: per-version row count, id sum, and char
    * sum for all three snapshots, read as-of — v1 and v2 must still
    * serve their original data AFTER v3's copy-on-write delete rewrote
    * files. Integer-only output; the oracle recomputes each version
    * from the raw parquet via the closed-form predicates. */
  def timeTravelAudit(s: SparkSession, dir: String): DataFrame = {
    val d = fixture(s, dir, "snap_docs")
    versionAudit(1 to 3, v => read(s, d, Some(v)))(docSums: _*)
  }

  val timeTravelAuditSql: String =
    """SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |  CAST(sum(n_chars) AS BIGINT) AS char_sum
      |FROM documents WHERE doc_id % 2 = 0
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(doc_id) AS BIGINT),
      |  CAST(sum(n_chars) AS BIGINT)
      |FROM documents
      |UNION ALL
      |SELECT 3, count(*), CAST(sum(doc_id) AS BIGINT),
      |  CAST(sum(n_chars) AS BIGINT)
      |FROM documents WHERE doc_id % 10 <> 3
      |ORDER BY version""".stripMargin

  /** q238 — per-source stats from the CURRENT snapshot (post-merge):
    * the upsert's two arms gate together — updated keys must show the
    * new source label exactly once, keys the v3 delete removed must be
    * re-inserted, everything else must carry through untouched. Oracle:
    * the same closed form over raw parquet (id%7==0 → 'merged' rows for
    * ALL such ids; otherwise original rows where id%10<>3). */
  def snapshotMergeStats(s: SparkSession, dir: String): DataFrame =
    sourceStats(read(s, fixture(s, dir, "snap_docs")))

  val snapshotMergeStatsSql: String =
    """WITH merged AS (
      |  SELECT doc_id, text, lang, 'merged' AS source, n_chars
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id, text, lang, source, n_chars
      |  FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 10 <> 3)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  max(doc_id) AS max_doc_id
      |FROM merged GROUP BY source ORDER BY source""".stripMargin

  /** q251 — INCREMENTAL VIEW MAINTENANCE from manifest deltas: the
    * per-source aggregate at the CURRENT version computed by folding
    * each version transition's FILE-level delta into the v1 aggregate —
    * the manifest diff names exactly the files a commit added and
    * removed (copy-on-write: untouched files carry by reference), so
    * each fold step reads ONLY changed files, never the table. This is
    * the workflow the format exists for: at 100 TB, a downstream
    * aggregate tracks a snapshot table by reading per-commit deltas
    * (each drop-sized), where a rescan per version would read the
    * corpus × versions. Only INVERTIBLE aggregates fold (count, sum —
    * a removed row subtracts); max/min do not, which is why this
    * report deliberately omits q238's max_doc_id column. The oracle is
    * the full-rescan closed form, so the gate proves fold ≡ rescan
    * value-exactly across an append, a CoW delete (file rewrite), and
    * a MERGE (rewrite + re-insert). */
  def snapshotIvmStats(s: SparkSession, dir: String): DataFrame =
    snapshotIvmStatsOf(s, fixture(s, dir, "snap_docs"))

  /** Full-rescan closed form of the post-merge state (q238's oracle
    * without the non-invertible max column). */
  val snapshotIvmStatsSql: String =
    """WITH merged AS (
      |  SELECT doc_id, source, n_chars
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id, source, n_chars
      |  FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 10 <> 3)
      |SELECT CASE WHEN doc_id % 7 = 0 THEN 'merged' ELSE source END
      |    AS source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin

  /** q239 — CHANGE DATA CAPTURE between consecutive snapshot versions:
    * per (from_v, to_v) transition, how many keys were inserted,
    * deleted, and updated (same key, different row content) — the diff
    * feed a downstream consumer (an index maintainer, a replica)
    * subscribes to instead of re-reading the table. Exercises the
    * format's whole history: append (1→2: pure inserts), CoW delete
    * (2→3: pure deletes), and MERGE (3→4: updates + the re-inserts of
    * previously deleted keys). Oracle: each transition in closed form
    * from the raw parquet.
    *
    * Scale shape: each transition is two key anti-joins plus one
    * equi-join comparing row content — all on the snapshot's own key;
    * a real deployment diffs MANIFESTS first so only rewritten files
    * join, which this file-granular format enables (the query spells
    * the semantic contract the manifest diff must reproduce). */
  def snapshotCdc(s: SparkSession, dir: String): DataFrame = {
    val d = fixture(s, dir, "snap_docs")
    // ONE action, not nine: the round-11 spelling ran 3 blocking driver
    // counts per transition (anti-join ins, anti-join del, inner-join
    // upd) — 9 sequential jobs whose scheduling floor, not data, was
    // the measured cost (and whose round-over-round drift the bench
    // kept flagging). Each transition is now a single FULL OUTER join
    // on the key: an insert is a to-only row, a delete a from-only row,
    // an update a both-sides row whose content differs — the same three
    // sets by definition, counted in one aggregate over the union of
    // the three tagged transitions. Scale shape unchanged: one keyed
    // shuffle per transition (strictly fewer than the previous three).
    // the tagging, null-safe differs, and count aggregate are the
    // SHARED cdcSide/cdcDiffers/cdcCounts spellings q267's
    // manifest-scoped twin uses — the two CDC paths cannot fork
    val cols = Seq("text", "lang", "source", "n_chars")
    val transitions = (1 to 3).map { v =>
      cdcSide(read(s, d, Some(v)), "doc_id", cols, "a")
        .join(cdcSide(read(s, d, Some(v + 1)), "doc_id", cols, "b"),
          Seq("doc_id"), "full_outer")
        .select(lit(v.toLong).as("from_v"), lit(v + 1L).as("to_v"),
          col("a_present"), col("b_present"),
          cdcDiffers(cols).as("differs"))
    }
    cdcCounts(transitions.reduce(_ unionByName _))
  }

  val snapshotCdcSql: String =
    """SELECT CAST(1 AS BIGINT) AS from_v, CAST(2 AS BIGINT) AS to_v,
      |  (SELECT CAST(count(*) AS BIGINT) FROM documents
      |   WHERE doc_id % 2 <> 0) AS n_inserted,
      |  CAST(0 AS BIGINT) AS n_deleted, CAST(0 AS BIGINT) AS n_updated
      |UNION ALL
      |SELECT 2, 3, 0,
      |  (SELECT count(*) FROM documents WHERE doc_id % 10 = 3), 0
      |UNION ALL
      |SELECT 3, 4,
      |  (SELECT count(*) FROM documents
      |   WHERE doc_id % 7 = 0 AND doc_id % 10 = 3),
      |  0,
      |  (SELECT count(*) FROM documents
      |   WHERE doc_id % 7 = 0 AND doc_id % 10 <> 3
      |     AND source <> 'merged')
      |ORDER BY from_v""".stripMargin

  /** q240 — MANIFEST-LEVEL DATA SKIPPING under the value gate: a
    * doc_id range scan served through [[readPruned]] (only files whose
    * manifest [min, max] intersects [100, 299] are read; the rest are
    * skipped on the driver before any task schedules) must equal the
    * raw-parquet oracle's plain WHERE — pruning is pure layout, so it
    * has to be value-invisible. SnapTableSpec separately asserts the
    * file subset is strict (the skipping is real, not vacuous). */
  def snapshotSkipStats(s: SparkSession, dir: String): DataFrame =
    sourceStats(readPruned(s, fixture(s, dir, "snap_stats"), 100L, 299L),
      withMax = false)

  val snapshotSkipStatsSql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |WHERE doc_id BETWEEN 100 AND 299
      |GROUP BY source ORDER BY source""".stripMargin

  /** q241 — OPTIMIZE under the value gate: the full compact-and-
    * recluster rewrite (8 range files → 2, stats re-derived) must be
    * value-invisible — per-source stats from the post-optimize snapshot
    * equal the raw-parquet oracle with no predicate at all. The spec
    * separately asserts the file count dropped, the stats ranges stayed
    * disjoint, and pre-optimize versions still time-travel. */
  def snapshotOptimizeStats(s: SparkSession, dir: String): DataFrame =
    sourceStats(read(s, fixture(s, dir, "snap_optimized")))

  val snapshotOptimizeStatsSql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  max(doc_id) AS max_doc_id
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** q246 — Z-ORDER clustering under the value gate: a 2-D box scan
    * (doc_id ∈ [100, 299] ∧ n_chars ∈ [100, 400]) served through
    * [[readPrunedBox]] — only files whose manifest bounding box
    * intersects the query box are read — must equal the raw-parquet
    * oracle's plain conjunctive WHERE. The spec separately asserts the
    * pruning is real on EACH dimension alone (the property a 1-D sort
    * cannot give the second column). */
  def snapshotZorderStats(s: SparkSession, dir: String): DataFrame =
    sourceStats(readPrunedBox(s, fixture(s, dir, "snap_zorder"),
      100L, 299L, 100L, 400L), withMax = false)

  val snapshotZorderStatsSql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |WHERE doc_id BETWEEN 100 AND 299 AND n_chars BETWEEN 100 AND 400
      |GROUP BY source ORDER BY source""".stripMargin

  /** q250 — WRITE-AUDIT-PUBLISH under the value gate: per-source stats
    * from the post-cycle snapshot must equal the oracle's closed form
    * (evens ∪ long-enough odds) — the published batch is exactly
    * visible, the discarded one exactly invisible, and the staging
    * machinery itself value-invisible. */
  def snapshotWapStats(s: SparkSession, dir: String): DataFrame =
    sourceStats(read(s, fixture(s, dir, "snap_wap")))

  val snapshotWapStatsSql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  max(doc_id) AS max_doc_id
      |FROM documents
      |WHERE doc_id % 2 = 0 OR n_chars >= 100
      |GROUP BY source ORDER BY source""".stripMargin

  /** q245 — optimistic concurrency under the value gate: per-version
    * (rows, id sum, late-row count) across the interleaved history.
    * v3 proves B's append is intact; v4 proves A's rebased delete
    * removed exactly the v2 rows matching its predicate while every
    * (predicate-matching!) late row survived. */
  def snapshotOccAudit(s: SparkSession, dir: String): DataFrame = {
    val d = fixture(s, dir, "snap_occ")
    versionAudit(1 to 4, v => read(s, d, Some(v)))(
      count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
      sum(when(col("source") === "late", 1L).otherwise(0L)).as("n_late"))
  }

  val snapshotOccAuditSql: String =
    """WITH late AS (
      |  SELECT doc_id + 1000000 AS doc_id
      |  FROM documents WHERE doc_id % 10 = 6)
      |SELECT CAST(1 AS BIGINT) AS version,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |  CAST(0 AS BIGINT) AS n_late
      |FROM documents WHERE doc_id % 2 = 0
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(doc_id) AS BIGINT), 0 FROM documents
      |UNION ALL
      |SELECT 3,
      |  (SELECT count(*) FROM documents) + (SELECT count(*) FROM late),
      |  (SELECT CAST(sum(doc_id) AS BIGINT) FROM documents) +
      |    (SELECT CAST(sum(doc_id) AS BIGINT) FROM late),
      |  (SELECT count(*) FROM late)
      |UNION ALL
      |SELECT 4,
      |  (SELECT count(*) FROM documents WHERE doc_id % 5 <> 1) +
      |    (SELECT count(*) FROM late),
      |  (SELECT CAST(sum(doc_id) AS BIGINT) FROM documents
      |     WHERE doc_id % 5 <> 1) +
      |    (SELECT CAST(sum(doc_id) AS BIGINT) FROM late),
      |  (SELECT count(*) FROM late)
      |ORDER BY version""".stripMargin

  /** q252 — merge REBASING over a key-disjoint concurrent append, under
    * the value gate: per-version (rows, char sum, merged-row count)
    * across the interleaved history. v2 proves B's append is intact; v3
    * proves A's rebased merge replaced exactly its planned keys (+1000
    * chars each, NULLs staying NULL) while every appended key-disjoint
    * row survived by reference. */
  def snapshotMergeRebase(s: SparkSession, dir: String): DataFrame = {
    val d = fixture(s, dir, "snap_mrebase")
    versionAudit(1 to 3, v => read(s, d, Some(v)))(
      count(lit(1)).as("n_docs"), sum(col("n_chars")).as("char_sum"),
      sum(when(col("source") === "merged", 1L).otherwise(0L))
        .as("n_merged"))
  }

  val snapshotMergeRebaseSql: String =
    """SELECT CAST(1 AS BIGINT) AS version,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS char_sum,
      |  CAST(0 AS BIGINT) AS n_merged
      |FROM documents WHERE doc_id % 2 = 0
      |UNION ALL
      |SELECT 2, (SELECT count(*) FROM documents),
      |  (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents),
      |  0
      |UNION ALL
      |SELECT 3, (SELECT count(*) FROM documents),
      |  (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents)
      |    + 1000 * (SELECT count(n_chars) FROM documents
      |              WHERE doc_id % 10 = 0),
      |  (SELECT count(*) FROM documents WHERE doc_id % 10 = 0)
      |ORDER BY version""".stripMargin

  /** q261 — MERGE-ON-READ deletes under the value gate: per-source
    * stats from the current snapshot, where both deletes exist ONLY as
    * deletion-vector sidecars (SnapTableSpec asserts the data-file set
    * never changed) and an append rode over them. The whole MoR
    * machinery — position capture, vector stacking, the read-side
    * anti-join, carry-through-append — must be value-invisible: the
    * oracle recomputes from raw parquet with the predicates inlined. */
  def snapshotMorStats(s: SparkSession, dir: String): DataFrame =
    sourceStats(read(s, fixture(s, dir, "snap_mor")))

  val snapshotMorStatsSql: String =
    """WITH live AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |  WHERE doc_id % 10 <> 3
      |    AND NOT (source = 'src4' AND doc_id % 7 = 2)
      |  UNION ALL
      |  SELECT doc_id, 'restated' AS source, n_chars FROM documents
      |  WHERE doc_id % 1000 = 7)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  max(doc_id) AS max_doc_id
      |FROM live GROUP BY source ORDER BY source""".stripMargin

  /** q262 — TIME TRAVEL across deletion vectors: per-version (rows, id
    * sum, char sum) for all four snapshots. v1 must still serve the
    * FULL corpus after both vectors landed (a DV commit rewrites
    * nothing, so time travel is pure meta — the old manifest simply
    * carries no `delete_files`); v2/v3 apply exactly their own vector
    * stack; v4 proves the append carried the vectors forward. */
  def morTimeTravelAudit(s: SparkSession, dir: String): DataFrame = {
    val d = fixture(s, dir, "snap_mor")
    versionAudit(1 to 4, v => read(s, d, Some(v)))(docSums: _*)
  }

  val morTimeTravelAuditSql: String =
    """WITH v2 AS (SELECT * FROM documents WHERE doc_id % 10 <> 3),
      |v3 AS (SELECT * FROM v2
      |  WHERE NOT (source = 'src4' AND doc_id % 7 = 2)),
      |app AS (SELECT * FROM documents WHERE doc_id % 1000 = 7)
      |SELECT CAST(1 AS BIGINT) AS version,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |  CAST(sum(n_chars) AS BIGINT) AS char_sum
      |FROM documents
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(doc_id) AS BIGINT),
      |  CAST(sum(n_chars) AS BIGINT) FROM v2
      |UNION ALL
      |SELECT 3, count(*), CAST(sum(doc_id) AS BIGINT),
      |  CAST(sum(n_chars) AS BIGINT) FROM v3
      |UNION ALL
      |SELECT 4,
      |  (SELECT count(*) FROM v3) + (SELECT count(*) FROM app),
      |  (SELECT CAST(sum(doc_id) AS BIGINT) FROM v3) +
      |    (SELECT CAST(sum(doc_id) AS BIGINT) FROM app),
      |  (SELECT CAST(sum(n_chars) AS BIGINT) FROM v3) +
      |    (SELECT CAST(sum(n_chars) AS BIGINT) FROM app)
      |ORDER BY version""".stripMargin

  /** q263 — MERGE-ON-READ upsert under the value gate: per-source
    * stats from the current snapshot, where the merge's delete arm and
    * the follow-up delete exist ONLY as deletion-vector sidecars
    * (SnapTableSpec asserts zero rewrites) and the vectors hit both
    * file vintages. The oracle inlines the closed-form arms over raw
    * parquet — position capture, the vector stacking ACROSS a merge,
    * and the read-side anti-join must all be value-invisible. */
  def snapshotMorMergeStats(s: SparkSession, dir: String): DataFrame =
    sourceStats(read(s, fixture(s, dir, "snap_mormerge")))

  val snapshotMorMergeStatsSql: String =
    """WITH merged AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |  WHERE doc_id % 9 <> 4
      |  UNION ALL
      |  SELECT doc_id, 'upserted' AS source, n_chars + 1000 AS n_chars
      |  FROM documents WHERE doc_id % 9 = 4
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, 'inserted' AS source, n_chars
      |  FROM documents WHERE doc_id % 1000 = 3)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  max(doc_id) AS max_doc_id
      |FROM merged
      |WHERE doc_id % 10 <> 8
      |GROUP BY source ORDER BY source""".stripMargin

  /** q265 — BLOOM-BIT equality skipping under the value gate: three
    * doc_id point lookups served through [[readPrunedEq]] (only files
    * whose manifest bloom bits admit the probe are read; on the
    * hash-laid-out fixture min/max would prune NOTHING) must equal the
    * raw-parquet oracle's plain IN-list WHERE. SnapTableSpec separately
    * asserts the file subset is strict and that a miss probe returns
    * empty without wrong skips. */
  def snapshotBloomLookup(s: SparkSession, dir: String): DataFrame = {
    val d = fixture(s, dir, "snap_bloom")
    Seq(3L, 57L, 191L).map(id =>
      readPrunedEq(s, d, id)
        .select(col("doc_id"), col("source"), col("n_chars")))
      .reduce(_ unionByName _)
      .orderBy(col("doc_id"))
  }

  val snapshotBloomLookupSql: String =
    """SELECT doc_id, source, n_chars
      |FROM documents
      |WHERE doc_id IN (3, 57, 191)
      |ORDER BY doc_id""".stripMargin

  /** q266 — COLUMN MAPPING under the value gate: per-source stats over
    * the renamed column from the current snapshot — the rename itself
    * (pure meta), a post-rename append under the logical name, and a
    * CoW delete predicated on it must all be value-invisible and the
    * output must carry the NEW name. SnapTableSpec separately asserts
    * zero data files changed at the rename commit and that time travel
    * to v1 still serves `n_chars`. */
  def snapshotRenameStats(s: SparkSession, dir: String): DataFrame =
    sourceStats(read(s, fixture(s, dir, "snap_rename")),
      chars = "char_count")

  val snapshotRenameStatsSql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  max(doc_id) AS max_doc_id
      |FROM documents
      |WHERE NOT (n_chars < 50)
      |GROUP BY source ORDER BY source""".stripMargin

  /** q264 — DV-AWARE INCREMENTAL VIEW MAINTENANCE under the value gate:
    * the per-source aggregate at the current version computed by folding
    * each transition's DV-aware delta (`ivmDeltaFrames`) across a
    * history where two deletes and a merge's delete arm exist ONLY as
    * deletion-vector sidecars — the round-13 refusal (file-level folds
    * are blind to row-level deletes) closed by folding each sidecar's
    * (file, pos) rows as a NEGATIVE delta via a scoped read of only the
    * DV'd files. At 100 TB this is what makes MoR and IVM compose: a
    * GDPR delete costs the downstream view one sidecar-sized fold, not
    * the OPTIMIZE-then-rescan the refusal used to force. The oracle is
    * the full-rescan closed form, so the gate proves fold ≡ rescan
    * value-exactly across append, MoR delete, MoR merge, and a stacked
    * vector. */
  def snapshotIvmDvStats(s: SparkSession, dir: String): DataFrame =
    snapshotIvmStatsOf(s, fixture(s, dir, "snap_ivmdv"))

  val snapshotIvmDvStatsSql: String =
    """WITH live AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |  WHERE doc_id % 10 <> 3 AND doc_id % 9 <> 4
      |  UNION ALL
      |  SELECT doc_id, 'upserted' AS source, n_chars + 1000 AS n_chars
      |  FROM documents WHERE doc_id % 9 = 4
      |  UNION ALL
      |  SELECT doc_id, 'restated' AS source, n_chars FROM documents
      |  WHERE doc_id % 1000 = 7)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM live
      |WHERE NOT (source = 'src2' AND doc_id % 5 = 0)
      |GROUP BY source ORDER BY source""".stripMargin

  /** q267 — MANIFEST-SCOPED CDC under the value gate: the incremental
    * per-transition inserted/deleted/updated counts ([[cdcIncremental]]
    * — reads only each commit's delta, the feed a downstream consumer
    * subscribes to) over q236's append→CoW-delete→MERGE history must
    * equal q239's closed-form oracle — the SAME oracle SQL, so the two
    * spellings (full-snapshot semantic joins vs manifest-diff-scoped
    * reads) are proven interchangeable on this history; SnapTableSpec
    * additionally pins the incremental spelling on a deletion-vector
    * history against read()-level diffs. */
  def snapshotCdcIncremental(s: SparkSession, dir: String): DataFrame =
    cdcIncremental(s, fixture(s, dir, "snap_docs"), "doc_id",
      Seq("text", "lang", "source", "n_chars"), 1, 4)

  /** q268 — TIMESTAMP time travel under the value gate: q237's
    * per-version audit addressed by each commit's recorded wall-clock
    * stamp ([[readAsOfTimestamp]]) instead of its version number — the
    * monotonic `ts` meta, the descending resolution walk, and the
    * stamp-to-version mapping must reproduce exactly the
    * version-addressed reads, so the SAME oracle gates both. */
  def timeTravelTsAudit(s: SparkSession, dir: String): DataFrame = {
    val d = fixture(s, dir, "snap_docs")
    versionAudit(1 to 3, v =>
      readAsOfTimestamp(s, d, manifestMeta(s, d, v)("ts").toLong))(
      docSums: _*)
  }

  /** q269 — DV MINOR COMPACTION under the value gate: per-source stats
    * after folding q261's stacked sidecars into one — the compaction is
    * pure layout (one sidecar, zero data rewrites; the spec asserts
    * both), so the SAME closed-form oracle as q261 must gate it. */
  def snapshotDvCompactStats(s: SparkSession, dir: String): DataFrame =
    sourceStats(read(s, fixture(s, dir, "snap_dvc")))

  /** q270 — ROW-LEVEL CDC under the value gate: the full keyed change
    * feed ([[cdcRows]], reading only each commit's delta) over q236's
    * append→CoW-delete→MERGE history must equal the closed-form
    * per-transition rows from raw parquet — inserts/deletes carry the
    * changed rows, updates BOTH images, carried-identical rows (file
    * moves) nothing. */
  def snapshotCdcRows(s: SparkSession, dir: String): DataFrame =
    cdcRows(s, fixture(s, dir, "snap_docs"), "doc_id",
      Seq("text", "lang", "source", "n_chars"), 1, 4)
      .select(col("from_v"), col("to_v"), col("_change_type"),
        col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("from_v"), col("_change_type"), col("doc_id"))

  val snapshotCdcRowsSql: String =
    """WITH feed AS (
      |  SELECT CAST(1 AS BIGINT) AS from_v, CAST(2 AS BIGINT) AS to_v,
      |    'insert' AS _change_type, doc_id, source, n_chars
      |  FROM documents WHERE doc_id % 2 <> 0
      |  UNION ALL
      |  SELECT 2, 3, 'delete', doc_id, source, n_chars
      |  FROM documents WHERE doc_id % 10 = 3
      |  UNION ALL
      |  SELECT 3, 4, 'insert', doc_id, 'merged', n_chars
      |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 10 = 3
      |  UNION ALL
      |  SELECT 3, 4, 'update_preimage', doc_id, source, n_chars
      |  FROM documents
      |  WHERE doc_id % 7 = 0 AND doc_id % 10 <> 3 AND source <> 'merged'
      |  UNION ALL
      |  SELECT 3, 4, 'update_postimage', doc_id, 'merged', n_chars
      |  FROM documents
      |  WHERE doc_id % 7 = 0 AND doc_id % 10 <> 3 AND source <> 'merged')
      |SELECT * FROM feed
      |ORDER BY from_v, _change_type, doc_id""".stripMargin

  /** q271 — PLAN-DRIVEN manifest skipping under the value gate: the
    * SAME range scan as q240, spelled as a plain
    * `read(...).filter(between)` — no explicit pruning API — served
    * through the manifest-backed file index (`SnapTable.snapIndex`):
    * Catalyst pushes the filter to the scan, `listFiles` consults the
    * manifest stats, and the result must equal the raw-parquet oracle
    * (SnapTableSpec separately asserts the scan's file metric shrank). */
  def snapshotPlanPruned(s: SparkSession, dir: String): DataFrame =
    sourceStats(read(s, fixture(s, dir, "snap_stats"))
      .filter(col("doc_id").between(100L, 299L)), withMax = false)

  /** q272 — the REGISTERED SOURCE front door under the value gate:
    * `spark.read.format("graftsnap").load(dir)` over the same snapshot
    * and filter as q271 — the DataSource registration, relation build,
    * recorded-schema wiring, and pushdown-driven skipping must be
    * value-invisible against the same oracle. */
  def snapshotSourceFormat(s: SparkSession, dir: String): DataFrame =
    sourceStats(s.read.format("graftsnap").load(fixture(s, dir, "snap_stats"))
      .filter(col("doc_id").between(100L, 299L)), withMax = false)

  /** q273 — the front door's DELETION-VECTOR tier under the value
    * gate: `spark.read.format("graftsnap")` over the MoR fixture (two
    * stacked sidecars + an append) — the fallback relation's scoped
    * read and (file, pos) anti-join must reproduce q261's closed-form
    * oracle exactly, where this spelling previously REFUSED. */
  def snapshotSourceMor(s: SparkSession, dir: String): DataFrame =
    sourceStats(s.read.format("graftsnap").load(fixture(s, dir, "snap_mor")))

  /** q274 — the front door's COLUMN-MAP tier under the value gate:
    * the renamed fixture through the registered source must serve the
    * LOGICAL name (`char_count`) with filters applying to it, and
    * reproduce q266's oracle. */
  def snapshotSourceRename(s: SparkSession, dir: String): DataFrame =
    sourceStats(s.read.format("graftsnap")
      .load(fixture(s, dir, "snap_rename")), chars = "char_count")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q268_time_travel_ts" -> (timeTravelTsAudit _),
    "q269_dv_compact" -> (snapshotDvCompactStats _),
    "q270_cdc_rows" -> (snapshotCdcRows _),
    "q271_plan_pruned" -> (snapshotPlanPruned _),
    "q272_source_format" -> (snapshotSourceFormat _),
    "q273_source_mor" -> (snapshotSourceMor _),
    "q274_source_rename" -> (snapshotSourceRename _),
    "q267_cdc_incremental" -> (snapshotCdcIncremental _),
    "q265_bloom_lookup" -> (snapshotBloomLookup _),
    "q266_col_rename" -> (snapshotRenameStats _),
    "q264_ivm_dv" -> (snapshotIvmDvStats _),
    "q261_mor_delete" -> (snapshotMorStats _),
    "q262_mor_time_travel" -> (morTimeTravelAudit _),
    "q263_mor_merge" -> (snapshotMorMergeStats _),
    "q252_merge_rebase" -> (snapshotMergeRebase _),
    "q236_snapshot_stats" -> (snapshotStats _),
    "q237_time_travel" -> (timeTravelAudit _),
    "q238_snapshot_merge" -> (snapshotMergeStats _),
    "q239_snapshot_cdc" -> (snapshotCdc _),
    "q240_snapshot_skip" -> (snapshotSkipStats _),
    "q241_snapshot_optimize" -> (snapshotOptimizeStats _),
    "q245_snapshot_occ" -> (snapshotOccAudit _),
    "q246_snapshot_zorder" -> (snapshotZorderStats _),
    "q250_snapshot_wap" -> (snapshotWapStats _),
    "q251_snapshot_ivm" -> (snapshotIvmStats _))

  val oracles: Map[String, String] = Map(
    "q268_time_travel_ts" -> timeTravelAuditSql,
    "q269_dv_compact" -> snapshotMorStatsSql,
    "q270_cdc_rows" -> snapshotCdcRowsSql,
    "q271_plan_pruned" -> snapshotSkipStatsSql,
    "q272_source_format" -> snapshotSkipStatsSql,
    "q273_source_mor" -> snapshotMorStatsSql,
    "q274_source_rename" -> snapshotRenameStatsSql,
    "q267_cdc_incremental" -> snapshotCdcSql,
    "q265_bloom_lookup" -> snapshotBloomLookupSql,
    "q266_col_rename" -> snapshotRenameStatsSql,
    "q264_ivm_dv" -> snapshotIvmDvStatsSql,
    "q261_mor_delete" -> snapshotMorStatsSql,
    "q262_mor_time_travel" -> morTimeTravelAuditSql,
    "q263_mor_merge" -> snapshotMorMergeStatsSql,
    "q252_merge_rebase" -> snapshotMergeRebaseSql,
    "q236_snapshot_stats" -> snapshotStatsSql,
    "q237_time_travel" -> timeTravelAuditSql,
    "q238_snapshot_merge" -> snapshotMergeStatsSql,
    "q239_snapshot_cdc" -> snapshotCdcSql,
    "q240_snapshot_skip" -> snapshotSkipStatsSql,
    "q241_snapshot_optimize" -> snapshotOptimizeStatsSql,
    "q245_snapshot_occ" -> snapshotOccAuditSql,
    "q246_snapshot_zorder" -> snapshotZorderStatsSql,
    "q250_snapshot_wap" -> snapshotWapStatsSql,
    "q251_snapshot_ivm" -> snapshotIvmStatsSql)
}
