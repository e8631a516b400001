package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._

/** Snapshot-versioned parquet table with time travel and copy-on-write
  * deletes — the transactional-lakehouse CORE (what Delta/Iceberg do
  * under their jars) built on public Spark + Hadoop FS APIs only,
  * closing the table-format gap that is environment-blocked for the
  * real jars (COVERAGE.md "Environment-constrained formats"): the
  * offline classpath ships neither delta-spark nor iceberg-runtime,
  * but nothing in the SEMANTICS needs them.
  *
  * Layout:
  * {{{
  *   <dir>/data/w00001-<tok>/part-*.parquet   one write-dir per commit
  *   <dir>/_snapshots/v00001.manifest         HEAD: `# k=v` meta +
  *                                            `@<seg>` pointers
  *   <dir>/_snapshots/seg/s00001-<tok>.seg    immutable entry segments
  * }}}
  *
  * A snapshot's visible file set is the union of its head's SEGMENTS
  * (each an immutable newline list of entries, shared across commits
  * by reference — the Iceberg manifest-list/manifest split). Commit
  * protocol — the standard write-ahead rename dance:
  *  1. new data files land in a fresh write-dir (never referenced yet);
  *  2. the commit's new/changed entries land in ONE new segment file
  *     (also unreferenced yet); untouched segments carry by pointer;
  *  3. the head is written to `v<N>.manifest.<tok>.inprogress` and
  *     RENAMED into place — a reader either sees the whole manifest or
  *     none of it, so a killed writer leaves only unreferenced orphans;
  *  4. the current version is the highest committed manifest, so
  *     readers never coordinate with writers (snapshot isolation).
  *
  * Scale shape: a commit writes O(its own delta) manifest bytes — an
  * append or 1-row MoR delete on a ~1M-file table writes a drop-sized
  * segment (or none) plus a one-line-per-segment head, never the full
  * entry list; manifests list files, not rows, and all row work is
  * Spark jobs over exactly the listed files. Segments being immutable,
  * readers cache their parses JVM-wide and the version-delta walk
  * expands only segments that changed hands.
  * Copy-on-write `deleteWhere` touches ONLY the files that actually
  * contain matching rows (found with one `input_file_name()` distinct —
  * a real lakehouse prunes by column stats first; file granularity is
  * the same) and rewrites their survivors; untouched files carry over
  * by reference. Time travel (`read(asOf)`) is free: old manifests and
  * their files stay until [[vacuum]] retires them.
  *
  * MERGE-ON-READ deletes ([[deleteWhereMor]]) write NO data files at
  * all: a deletion-vector sidecar under `<dir>/_deletes/` records
  * (file, row-position) pairs, referenced by the manifest's
  * `delete_files` meta line (atomic with the file list) and anti-joined
  * away by every reader — Delta's deletion vectors / Iceberg v2
  * positional deletes, on the same commit protocol. [[optimize]] folds
  * the vectors into a clean rewrite; time travel, vacuum, and OCC all
  * compose (a rewrite racing a DV change conflicts — the vector's
  * positions refer to files the rewrite replaces).
  */
object SnapTable {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(dir: String) = new Path(dir, "_snapshots")
  private def manifestPath(dir: String, v: Int) =
    new Path(manifestDir(dir), f"v$v%05d.manifest")

  /** Highest committed snapshot version, 0 if none. Accepts 5-or-more
    * digit names: `f"v$v%05d"` widens past v99999 and both sides must
    * keep matching, or the table wedges at version 100000. */
  /** One directory listing → every retained version number. The name
    * regex lives HERE ONCE: it must stay in lockstep with
    * [[manifestPath]]'s `f"v$v%05d"` format or version discovery
    * silently wedges (see the widening note above). */
  private def listVersions(spark: SparkSession, dir: String): Seq[Int] = {
    val f = fs(spark, dir)
    if (!f.exists(manifestDir(dir))) Seq.empty
    else f.listStatus(manifestDir(dir)).map(_.getPath.getName)
      .collect { case n if n.matches("v\\d{5,}\\.manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toInt }.toSeq
  }

  def currentVersion(spark: SparkSession, dir: String): Int =
    listVersions(spark, dir).foldLeft(0)(math.max)

  /** Lowest RETAINED snapshot version, 0 if none — one directory
    * listing, never a per-version exists() probe (on a heavily-vacuumed
    * table that would be O(versions) NameNode round-trips). */
  private[graft] def oldestRetainedVersion(spark: SparkSession,
      dir: String): Int = {
    val vs = listVersions(spark, dir)
    if (vs.isEmpty) 0 else vs.min
  }

  private def readText(spark: SparkSession, dir: String, v: Int): String = {
    val f = fs(spark, dir)
    val p = manifestPath(dir, v)
    require(f.exists(p), s"SnapTable: no snapshot v$v under $dir")
    val in = f.open(p)
    try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
  }

  /** The INLINE entry lines of a manifest/segment text — THE entry
    * parse, shared by every reader of a fetched manifest (readEntries,
    * the delta walk) so no caller can drift on comment/blank handling.
    * `#` lines are meta, `@` lines are segment pointers (resolved by
    * [[manifestAt]]); everything else is an entry. */
  private def entriesOfText(text: String): Seq[String] =
    text.split("\n").map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && !l.startsWith("@"))
      .toSeq

  /** The `@<relpath>` SEGMENT pointers of a manifest's head text — the
    * manifest-list half of the Iceberg-style split: the head is small
    * (meta + one line per segment), the entry lists live in immutable,
    * commit-shared segment files. */
  private def segRefsOfText(text: String): Seq[String] =
    text.split("\n").map(_.trim)
      .filter(_.startsWith("@")).map(_.drop(1)).toSeq

  /** The `# key=value` header map of a manifest's text — THE meta
    * parse, shared by manifestMeta and the delta walk (a literal-prefix
    * string match would silently diverge on any formatting change). */
  private def metaOfText(text: String): Map[String, String] =
    text.split("\n").map(_.trim)
      .filter(_.startsWith("#"))
      .flatMap { l =>
        l.drop(1).trim.split("=", 2) match {
          case Array(k, v2) => Some(k -> v2)
          case _ => None
        }
      }.toMap

  // ---- manifest segments ---------------------------------------------------

  /** Relative directory of the immutable entry-list segments. */
  private val SegDirRel = "_snapshots/seg"

  /** JVM-wide parsed-segment cache, LRU-bounded. Segments are IMMUTABLE
    * once committed (a commit only ever writes NEW segment files), so a
    * cache hit can never serve stale entries; vacuum-deleted segments
    * simply stop being requested. This is what makes repeated manifest
    * expansion O(changed segments) in FS round-trips: a deep delta walk
    * or a hot read path re-fetches only segments it has never seen. */
  private val segCache: java.util.Map[String, Seq[String]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Seq[String]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Seq[String]]): Boolean =
          size() > 1024
      })

  /** Test hook: drop the segment cache, simulating a fresh JVM or an
    * LRU eviction under concurrent load. Correctness must never depend
    * on a cache hit — the vacuum-retry spec exercises exactly that. */
  private[graft] def dropSegCacheForTest(): Unit = segCache.clear()

  /** The entry lines of one segment file (cached — see [[segCache]]). */
  private def readSegment(spark: SparkSession, dir: String,
      rel: String): Seq[String] = {
    val k = s"$dir/$rel"
    val hit = segCache.get(k)
    if (hit != null) return hit
    val f = fs(spark, dir)
    val in = f.open(new Path(dir, rel))
    val text = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    val es = entriesOfText(text)
    segCache.put(k, es)
    es
  }

  /** The head manifest's segment pointers — exposed for the
    * segmentation specs (commit-bytes and carry-by-reference gates). */
  private[graft] def segmentRefs(spark: SparkSession, dir: String,
      v: Int): Seq[String] =
    segRefsOfText(readText(spark, dir, v))

  /** Raw manifest entries: `path` or `path\tmin\tmax` when the table
    * carries per-file column stats (the data-skipping metadata). */
  private[graft] def readEntries(spark: SparkSession, dir: String,
      v: Int): Seq[String] =
    manifestAt(spark, dir, v).entries

  private def entryPath(e: String): String = e.split('\t').head

  private[graft] def readManifest(spark: SparkSession, dir: String,
      v: Int): Seq[String] =
    readEntries(spark, dir, v).map(entryPath)

  /** `# key=value` header lines of a snapshot's manifest — commit
    * metadata (e.g. the streaming batch id), atomic WITH the file list
    * because it rides the same rename. */
  private[graft] def manifestMeta(spark: SparkSession, dir: String,
      v: Int): Map[String, String] =
    metaOfText(readText(spark, dir, v))

  /** One-fetch parse of a snapshot's manifest: the entry list, the
    * meta map, and every layout declaration derived from the SAME
    * text. The per-aspect helpers (readEntries/statsColsOf/bloomDeclOf/
    * colMapOf/deleteFilesOf) delegate here for single-aspect callers,
    * but every multi-aspect path (commits, scoped reads, rewrites)
    * holds ONE Manifest per version — on HDFS/object stores each
    * manifest fetch is a NameNode/HEAD round-trip, and a commit that
    * re-fetched per aspect would pay ~10 where 1-2 suffice. */
  private[graft] case class Manifest(segs: Seq[(String, Seq[String])],
      inline: Seq[String], meta: Map[String, String]) {
    /** Full entry list: segment expansion + legacy inline entries. */
    lazy val entries: Seq[String] = segs.flatMap(_._2) ++ inline
    def paths: Seq[String] = entries.map(entryPath)
    def statsCols: Seq[String] =
      meta.get("stats_col").toSeq ++ meta.get("stats_col2")
    def bloomDecl: Option[(String, Int, String)] =
      meta.get("bloom_col").map(c => (c,
        meta.getOrElse("bloom_bits", BloomBitsDefault.toString).toInt,
        meta.getOrElse("bloom_type", "bigint")))
    def colMap: Map[String, String] = colMapOfMeta(meta)
    def delFiles: Seq[String] = delFilesOfMeta(meta)
    /** The declaration carry every commit re-passes. The recorded
      * physical schema and commit timestamp are NOT part of it:
      * [[occCommit]] re-derives both per claim (schema unions with the
      * current snapshot's, the timestamp stays monotonic), so a writer
      * passing a stale carried copy could never clobber an
      * interloper's evolution. */
    def layoutMeta: Map[String, String] =
      statsMetaFor(statsCols) ++ bloomMetaFor(bloomDecl) ++
        colMapMetaFor(colMap)
    /** Wall-clock commit timestamp (ms), 0 for pre-feature manifests. */
    def ts: Long = meta.get("ts").map(_.toLong).getOrElse(0L)
  }

  private[graft] def manifestAt(spark: SparkSession, dir: String,
      v: Int): Manifest =
    if (v <= 0) Manifest(Seq.empty, Seq.empty, Map.empty)
    else {
      val t = readText(spark, dir, v)
      Manifest(
        segRefsOfText(t).map(r => r -> readSegment(spark, dir, r)),
        entriesOfText(t), metaOfText(t))
    }

  /** The manifest-relative two-component key of a data file
    * ("wNNNNN-token/part-....parquet") — how absolute/URI paths from
    * `input_file_name()` are matched back to manifest entries. */
  private def pathKey(p: String): String =
    p.split('/').takeRight(2).mkString("/")

  // ---- merge-on-read deletion vectors ------------------------------------

  /** The snapshot's DELETION-VECTOR files (manifest-relative parquet
    * paths under `_deletes/`, comma-listed in the manifest's
    * `delete_files` meta — atomic with the file list because it rides
    * the same rename). Each DV file holds (file_key, pos) rows: row
    * `pos` of data file `file_key` is deleted in this snapshot. Empty
    * for a table no merge-on-read delete ever touched — every reader
    * keeps its original plan then. */
  private def delFilesOfMeta(meta: Map[String, String]): Seq[String] =
    meta.get("delete_files").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** THE col_map meta parse (physical → logical), shared by Manifest
    * and the delta walk so the spellings cannot drift. */
  private def colMapOfMeta(meta: Map[String, String]): Map[String, String] =
    meta.get("col_map").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      .map { pair =>
        val Array(ph, lo) = pair.split(":", 2)
        ph -> lo
      }.toMap

  private[graft] def deleteFilesOf(spark: SparkSession, dir: String,
      v: Int): Seq[String] = manifestAt(spark, dir, v).delFiles

  /** [[pathKey]] as a codegen'd column over the hidden `_metadata`
    * file-source column — the join key that matches scanned rows back
    * to deletion-vector entries (absolute/URI `file_path` forms reduce
    * to the same two trailing components the manifests store). */
  private def fileKeyCol: Column = {
    val parts = split(col("_metadata.file_path"), "/")
    concat_ws("/", element_at(parts, -2), element_at(parts, -1))
  }

  /** DV-aware scoped read of manifest-relative data paths: the rows of
    * `rels` minus any (file, pos) the deletion vectors cover, KEEPING
    * the row identity columns `__fk` (file key) and `__pos` (row
    * position in its file — parquet `_metadata.row_index`, stable
    * across split planning). The anti-join is keyed on (file, pos) —
    * well-distributed at any scale — and Spark auto-broadcasts the DV
    * side whenever it is small (the selective-delete case the format
    * exists for); no hint is forced, so a pathological
    * most-of-the-table DV degrades to a shuffle join instead of an
    * executor OOM. */
  /** Scoped scan of manifest-relative data paths KEEPING the row
    * identity columns `__fk`/`__pos`, before any deletion vector is
    * applied — the shared base of [[readKeyed]] and the DV-aware IVM
    * terms (which need an INNER join against vector positions, not the
    * anti-join). */
  private def rawKeyed(spark: SparkSession, dir: String,
      rels: Seq[String]): DataFrame =
    rawKeyedOver(spark.read.option("mergeSchema", "true")
      .parquet(rels.map(r => s"$dir/$r"): _*), dir)

  /** The row-identity projection over any parquet-backed scan (the
    * mergeSchema rewrite-path read, or the index-backed front-door
    * scan — both resolve `_metadata`). */
  private def rawKeyedOver(raw: DataFrame, dir: String): DataFrame = {
    // the row-identity columns are internal; a user column of the same
    // name would be silently OVERWRITTEN here and then dropped by every
    // caller — refuse loudly instead of corrupting reads/rewrites
    Seq("__fk", "__pos").foreach(c => require(!raw.columns.contains(c),
      s"SnapTable: column name '$c' is reserved for the row-identity " +
        s"machinery (deletion vectors / rewrite paths) — rename it in $dir"))
    raw
      .withColumn("__fk", fileKeyCol)
      .withColumn("__pos", col("_metadata.row_index"))
  }

  /** A deletion-vector file set as its (`__fk`, `__pos`) pair relation —
    * the join key shape both the read-side anti-join and the IVM's
    * covered-row lookup consume. */
  private def dvPairs(spark: SparkSession, dir: String,
      delFiles: Seq[String]): DataFrame =
    spark.read.parquet(delFiles.map(r => s"$dir/$r"): _*)
      .select(col("file_key").as("__fk"), col("pos").as("__pos"))

  private[graft] def readKeyed(spark: SparkSession, dir: String,
      rels: Seq[String], delFiles: Seq[String],
      colMap: Map[String, String] = Map.empty): DataFrame = {
    val base = rawKeyed(spark, dir, rels)
    val scoped = if (delFiles.isEmpty) base
    else base.join(dvPairs(spark, dir, delFiles),
      Seq("__fk", "__pos"), "left_anti")
    toLogical(scoped, colMap) // logical view; __fk/__pos names reserved
  }

  /** The manifest-backed [[org.apache.spark.sql.graft.SnapFileIndex]]
    * over a snapshot scope — the front door's planning core: Catalyst
    * pushes the query's data filters into `listFiles`, which consults
    * the manifest stats/bloom via the SAME `prunedPathsOfEntries` /
    * `bloomPrunedPathsOfEntries` spellings the explicit `readPruned*`
    * APIs use, so plan-driven and driver-side skipping cannot drift. */
  private def snapIndex(spark: SparkSession, dir: String,
      rels: Seq[String], mf: Manifest)
      : org.apache.spark.sql.graft.SnapFileIndex = {
    val byPath = mf.entries.iterator.map(e => entryPath(e) -> e).toMap
    val chosen = rels.map(r => byPath.getOrElse(r, r))
    val files = sizesOf(spark, dir, chosen)
    val decl = mf.bloomDecl
    new org.apache.spark.sql.graft.SnapFileIndex(
      dir, files, mf.statsCols, decl.map(_._1),
      ranges => prunedPathsOfEntries(chosen, ranges).toSet,
      v => decl.map(d =>
        bloomPrunedPathsOfEntries(spark, chosen, d, v).toSet)
        .getOrElse(files.map(_._1).toSet))
  }

  /** Plan-driven scoped scan: Spark's NATIVE parquet relation
    * (vectorized reader, codegen, `_metadata` columns) over
    * [[snapIndex]] — so a plain `read(...).filter(...)` skips files
    * from the manifest automatically, no explicit pruning API needed. */
  private def indexedScan(spark: SparkSession, dir: String,
      rels: Seq[String], mf: Manifest): DataFrame =
    org.apache.spark.sql.graft.SnapRelation.dataFrame(spark,
      snapIndex(spark, dir, rels, mf), physicalSchemaOf(spark, dir, mf))

  /** Scoped table read under snapshot `v`'s deletion vectors; the plan
    * is a plain (index-backed) parquet scan when the snapshot carries
    * no DVs (no metadata projection, no join — DV support costs
    * existing tables nothing). Data filters above either shape push
    * into the scan and drive manifest skipping ([[snapIndex]]); on the
    * DV shape they push through the anti-join's left side. */
  private def readScoped(spark: SparkSession, dir: String,
      rels: Seq[String], mf: Manifest): DataFrame = {
    val base = if (mf.delFiles.isEmpty) indexedScan(spark, dir, rels, mf)
    else rawKeyedOver(indexedScan(spark, dir, rels, mf), dir)
      .join(dvPairs(spark, dir, mf.delFiles),
        Seq("__fk", "__pos"), "left_anti")
      .drop("__fk", "__pos")
    toLogical(base, mf.colMap) // renamed columns read back
  }

  /** A writer lost an optimistic-concurrency race it cannot rebase
    * over: the caller should re-plan against the new current snapshot
    * and retry the whole operation. */
  final class ConcurrentWriteException(msg: String,
      cause: Throwable = null)
    extends RuntimeException(msg, cause)

  /** Rebase attempts before an optimistic writer gives up — livelock
    * insurance, not a correctness bound (each loss means some OTHER
    * writer committed, so the system as a whole makes progress). */
  private val OccMaxRetries = 8

  /** Head-manifest growth bound: when a commit would carry this many
    * segments, the smallest ones fold into its new segment down to
    * [[SegmentFoldTarget]] — Iceberg's manifest-merge idea. The head
    * stays O(SegmentFoldThreshold) lines regardless of commit count,
    * and the fold cost is amortized: small segments merge early (cheap),
    * big merged segments are re-folded rarely. */
  private val SegmentFoldThreshold = 48
  private val SegmentFoldTarget = 24

  /** JVM commit locks, STRIPED by table-dir hash: the exists-check +
    * rename claim below is atomic cross-process only where the FS's
    * no-overwrite rename is (HDFS — the deployment target); POSIX
    * rename(2) silently REPLACES an existing destination, so same-JVM
    * racers (the local[32] test surface, and any multi-threaded driver)
    * serialize here instead. Striping keeps the structure O(1) for the
    * life of the JVM — a per-dir map would grow one entry per table
    * ever touched (the leak class SessionMemo bounds with an LRU); two
    * tables sharing a stripe merely serialize their claims. */
  private val commitLocks = Array.fill(64)(new Object)

  /** Try to claim snapshot `v`: write this commit's NEW entries into
    * one immutable segment file, then write the small HEAD manifest
    * (meta + pointers to `carrySegs` ++ the new segment) aside and
    * rename it into place — a reader either sees the whole manifest or
    * none of it. Returns false if some other writer committed `v`
    * first — the OCC loss signal (the orphaned segment is deleted with
    * the tmp head).
    *
    * This is the Iceberg manifest-list/manifest split, and THE property
    * that keeps commits O(delta) at 100 TB: carried segments ride by
    * reference exactly like data files, so an append or a 1-row MoR
    * delete on a ~1M-file table writes a drop-sized segment (or none)
    * plus a head of one line per segment — never the full entry list
    * (~100 MB) the pre-split format serialized per commit. */
  private def tryCommitManifest(spark: SparkSession, dir: String, v: Int,
      carrySegs: Seq[String], newEntries: Seq[String],
      meta: Map[String, String] = Map.empty): Boolean = {
    val f = fs(spark, dir)
    f.mkdirs(manifestDir(dir))
    val fin = manifestPath(dir, v)
    // token-unique tmp/segment names: two racers writing the SAME
    // path would interleave bytes before either renames
    val token = java.util.UUID.randomUUID().toString.take(8)
    val sortedNew = newEntries.sorted
    val segRel: Option[String] =
      if (sortedNew.isEmpty) None
      else {
        val rel = f"$SegDirRel/s$v%05d-$token.seg"
        f.mkdirs(new Path(dir, SegDirRel))
        val out = f.create(new Path(dir, rel), true)
        try out.write((sortedNew.mkString("\n") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        Some(rel)
      }
    val tmp = new Path(manifestDir(dir),
      f"v$v%05d.manifest.$token.inprogress")
    val out = f.create(tmp, true)
    val header = meta.toSeq.sortBy(_._1)
      .map { case (k, v2) => s"# $k=$v2\n" }.mkString
    try out.write((header +
      (carrySegs ++ segRel).sorted.map("@" + _).mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val lock = commitLocks(
      math.floorMod(manifestDir(dir).toString.hashCode, commitLocks.length))
    lock.synchronized {
      if (f.exists(fin) || !f.rename(tmp, fin)) {
        f.delete(tmp, false)
        segRel.foreach(r => f.delete(new Path(dir, r), false))
        false
      } else {
        // a committed segment is immutable from here — warm the cache
        // with exactly what a re-parse of its file would yield
        segRel.foreach(r => segCache.put(s"$dir/$r", sortedNew))
        true
      }
    }
  }

  private def commitManifest(spark: SparkSession, dir: String, v: Int,
      files: Seq[String], meta: Map[String, String] = Map.empty): Unit =
    if (!tryCommitManifest(spark, dir, v, Seq.empty, files, meta))
      throw new ConcurrentWriteException(
        s"SnapTable: lost the commit race for v$v under $dir")

  /** Optimistic commit of a transformation computed against snapshot
    * `baseV`: the new snapshot is (current live entries − `removed`) +
    * `added`. If other writers committed after `baseV`, their changes
    * are REBASED over when they were pure appends — every entry of
    * `readSet` (the base files this writer's computation scanned) must
    * still be live; a missing one means a concurrent rewrite
    * (delete/merge/optimize) invalidated what this writer read, and the
    * commit throws [[ConcurrentWriteException]] instead of silently
    * resurrecting or double-counting rows. `strict` refuses ANY
    * interleaved commit — the opt-in fully-serializable mode for
    * writers whose invariants no per-entry check can validate. [[merge]]
    * formerly ran strict; it now uses `interloperGuard` to validate
    * interleaved appends for key-disjointness and rebase over the safe
    * ones.
    *
    * Stats annotations are column-POSITIONAL (`path\tlo\thi[\tlo2\thi2]`
    * under the meta's declared columns), so a rebase must also keep the
    * DECLARATION coherent: if an interloper switched the table's stats
    * columns (a concurrent [[optimizeZorder]]), this writer's
    * annotations and meta would be misread as bounds of the NEW columns
    * — silent wrong skipping — so that drift conflicts too. Conversely,
    * a writer that itself changes the declaration strips carried
    * interloper entries down to bare paths (conservative: those files
    * are always read until the next optimize re-annotates them).
    *
    * `skipIf` is re-evaluated on every claim attempt, strictly AFTER
    * that attempt's `currentVersion` read: any interloper commit
    * landing after the read occupies cur+1 and fails this writer's
    * rename, forcing a retry that re-runs skipIf — so a commit skipIf
    * should have seen can never be silently claimed over. When it
    * fires, the commit returns None without claiming (the appendOnce
    * batch-stamp recheck — the commit this writer lost to may have
    * BEEN its batch).
    *
    * This is write-serializable OCC — the Delta/Iceberg commit
    * protocol's conflict rule — on the same rename-claimed manifests:
    * appends never conflict (empty read set), maintenance rebases over
    * appends, rewrites conflict with rewrites. */
  private[graft] def occCommit(spark: SparkSession, dir: String, baseV: Int,
      readSet: Set[String], removed: Set[String], added: Seq[String],
      meta: Map[String, String], strict: Boolean = false,
      skipIf: () => Boolean = () => false,
      interloperGuard: Seq[String] => Unit = _ => (),
      addDeleteFiles: Seq[String] = Seq.empty,
      dropDeleteFiles: Set[String] = Set.empty): Option[Int] = {
    val baseMf = manifestAt(spark, dir, baseV) // ONE fetch for all aspects
    val baseCols = baseMf.statsCols
    val declared = Seq(meta.get("stats_col"), meta.get("stats_col2")).flatten
    val readPaths = readSet.map(entryPath)
    val baseDel = baseMf.delFiles
    var attempt = 0
    var lastSeen = -1
    while (true) {
      // ORDER MATTERS: read the version FIRST, then skipIf. A commit
      // landing after this read occupies cur+1, so our claim below
      // FAILS and the loop re-runs skipIf — whereas a commit landing
      // between a skipIf-first check and the read would be invisible
      // to skipIf yet leave cur+1 free for us to claim over it
      // (double-commit: the lost interloper may have BEEN our batch).
      val cur = currentVersion(spark, dir)
      if (skipIf()) return None
      // the cap bounds LIVELOCK, not contention: losing to a MOVING
      // version means some other writer committed (system-wide
      // progress), so the counter resets; only repeated losses at the
      // same version — a stuck claim — exhaust it
      if (cur != lastSeen) { attempt = 0; lastSeen = cur }
      val curMf = manifestAt(spark, dir, cur) // ONE fetch per claim
      val curEntries = curMf.entries
      if (cur != baseV) {
        if (strict) throw new ConcurrentWriteException(
          s"SnapTable: $dir moved v$baseV→v$cur under a strict writer — " +
            "re-plan against the current snapshot and retry")
        val lost = readSet -- curEntries.toSet
        if (lost.nonEmpty) throw new ConcurrentWriteException(
          s"SnapTable: concurrent commit rewrote ${lost.size} file(s) " +
            s"this writer read under $dir (v$baseV→v$cur) — re-plan " +
            "against the current snapshot and retry")
        if (curMf.statsCols != baseCols ||
            curMf.bloomDecl != baseMf.bloomDecl ||
            curMf.colMap != baseMf.colMap)
          throw new ConcurrentWriteException(
            s"SnapTable: a layout declaration (stats/bloom/column-map) " +
              s"changed (v$baseV→v$cur) under $dir — this writer's " +
              "annotations or schema mapping would be misread; " +
              "re-plan and retry")
        // per-claim SEMANTIC validation of the interloper-added entries
        // (merge's key-disjointness): throws ConcurrentWriteException
        // when carrying them by reference would break this writer's
        // contract. Re-evaluated on every claim — each retry may face
        // new interlopers.
        interloperGuard(curEntries.filterNot(e =>
          readPaths.contains(entryPath(e))))
      }
      // DELETE-VECTOR carry/merge: every commit must re-reference the
      // CURRENT snapshot's DV set (an append whose meta dropped it
      // would resurrect deleted rows), minus this writer's explicit
      // drops (optimize folding DVs away), plus its additions (a new
      // merge-on-read delete). Two DV-only writers therefore compose —
      // each carries the other's file by reference — but a writer that
      // REWRITES or DROPS anything conflicts with a concurrent DV
      // change: the interloper's row positions refer to files this
      // writer replaces (a rebase would silently strand that delete),
      // and symmetrically this writer's drops were planned against
      // baseV's vectors, not the interloper's.
      val curDel = curMf.delFiles
      if (cur != baseV && curDel != baseDel &&
          (removed.nonEmpty || dropDeleteFiles.nonEmpty))
        throw new ConcurrentWriteException(
          s"SnapTable: the delete-vector set changed (v$baseV→v$cur) " +
            s"under a rewriting commit on $dir — its row positions " +
            "refer to files this writer replaces; re-plan against the " +
            "current snapshot and retry")
      val newDel = (curDel.filterNot(dropDeleteFiles) ++ addDeleteFiles)
        .distinct.sorted
      val delMeta =
        if (newDel.isEmpty) Map.empty[String, String]
        else Map("delete_files" -> newDel.mkString(","))
      // SEGMENT-AWARE carry: a segment none of whose entries this
      // commit removes rides by reference (one head line); a touched
      // segment spills its survivors into this commit's new segment —
      // so a CoW delete's manifest cost tracks the segments it touched,
      // and an append/DV-only commit writes O(delta) bytes total. A
      // declaration-changing commit (optimizeZorder) spills EVERYTHING
      // stripped to bare paths: carried entries were annotated under
      // the OLD columns and would be misread as the new columns' bounds.
      val declChanged = declared != baseCols
      val (carriedSegs, spilledSegs) = curMf.segs.partition {
        case (_, es) => !declChanged && !es.exists(removed.contains)
      }
      // head-growth bound: past the threshold, fold the SMALLEST
      // carried segments into this commit's new segment (pure
      // relocation — same entries, so readers and the delta walk see
      // no file change). Without this an append-per-micro-batch ingest
      // grows one head line per commit forever.
      val (keptSegs, foldedSegs) =
        if (carriedSegs.size < SegmentFoldThreshold) (carriedSegs, Seq.empty)
        else {
          val bySize = carriedSegs.sortBy { case (rel, es) => (es.size, rel) }
          val nFold = carriedSegs.size - SegmentFoldTarget
          (bySize.drop(nFold), bySize.take(nFold))
        }
      val spilled = (spilledSegs ++ foldedSegs).flatMap(_._2) ++ curMf.inline
      val carried = spilled.filterNot(removed.contains)
      val carriedSafe =
        if (declChanged) carried.map(stripStats) else carried
      // recorded-schema carry, re-derived per claim against the CURRENT
      // snapshot: a data-adding writer contributes its batch schema
      // (unioned in), every other writer carries cur's unchanged — so a
      // rebase can never clobber an interloper's schema evolution. A
      // legacy table (no recorded schema) STAYS legacy: emitting only
      // the batch's schema would record an incomplete union and every
      // later reader would silently drop the missing columns.
      val schemaMeta: Map[String, String] =
        (if (cur == 0) meta.get("schema")
         else curMf.meta.get("schema")
           .map(cs => unionSchemaJson(cs, meta.get("schema"))))
          .map("schema" -> _).toMap
      // monotonic commit timestamp: wall clock, bumped past the current
      // snapshot's stamp so `asOfTimestamp` resolution is total even
      // across clock skew between writers
      val tsMeta = Map("ts" ->
        math.max(System.currentTimeMillis(), curMf.ts + 1L).toString)
      if (tryCommitManifest(spark, dir, cur + 1, keptSegs.map(_._1),
          carriedSafe ++ added, meta ++ delMeta ++ schemaMeta ++ tsMeta))
        return Some(cur + 1)
      attempt += 1
      if (attempt > OccMaxRetries) throw new ConcurrentWriteException(
        s"SnapTable: $OccMaxRetries claims lost at v$cur under $dir " +
          "without the version advancing — claim path stuck")
    }
    None // unreachable
  }

  /** Write `df`'s rows into a fresh ATTEMPT-UNIQUE write-dir; return
    * the new files' relative paths. The random token is what makes a
    * crashed writer harmless: a deterministic `w{v+1}` target would
    * collide with the orphan dir a previous attempt left behind (a
    * crash between data write and manifest rename), turning every
    * retry into "path already exists" and wedging the table. Orphan
    * dirs are unreferenced by any manifest and invisible to readers;
    * they cost disk until manually swept. */
  private[graft] def writeData(df: DataFrame, dir: String, v: Int,
      statsCols: Seq[String] = Seq.empty,
      bloom: Option[(String, Int, String)] = None): Seq[String] = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val rel = f"data/w$v%05d-$token"
    val target = s"$dir/$rel"
    df.write.mode("errorifexists").parquet(target)
    val f = fs(df.sparkSession, dir)
    // byte sizes ride the manifest as `sz:` tags: scan PLANNING (split
    // computation) then needs zero per-file FS round-trips — at 1M
    // files the getFileStatus storm is the planning bottleneck
    val parts = f.listStatus(new Path(target))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName).toSeq
    val sizes = parts.map(s0 => s0.getPath.getName -> s0.getLen).toMap
    val rels = parts.map(s0 => s"$rel/${s0.getPath.getName}")
    def szTag(r: String): String = s"sz:${sizes(r.split('/').last)}"
    if (statsCols.isEmpty && bloom.isEmpty)
      return rels.map(r => s"$r\t${szTag(r)}")
    // SCHEMA-EVOLVED batches may lack a declared layout column
    // (mergeSchema admits narrower appends): annotating would crash the
    // scan below AFTER the files landed (orphan litter + an unhelpful
    // unresolved-column error), so absent-column annotation kinds are
    // SKIPPED instead — the files stay unannotated (always read, never
    // wrongly skipped). Stats skip all-or-nothing: the manifest fields
    // are positional under the declaration, so a partial annotation
    // would be misread as the wrong column's bounds.
    val writtenCols = df.columns.toSet // == the written file schema
    val statsCols2 =
      if (statsCols.forall(writtenCols.contains)) statsCols else Seq.empty
    val bloom2 = bloom.filter { case (c, _, _) => writtenCols.contains(c) }
    return writeAnnotations(df.sparkSession, target, rels,
      statsCols2, bloom2).map(e => s"$e\t${szTag(entryPath(e))}")
  }

  /** The per-file annotation pass of [[writeData]], over columns known
    * to exist in the written files. */
  private def writeAnnotations(s: SparkSession, target: String,
      rels: Seq[String], statsCols: Seq[String],
      bloom: Option[(String, Int, String)]): Seq[String] = {
    if (statsCols.isEmpty && bloom.isEmpty) return rels
    // ONE grouped scan of the just-written files computes BOTH
    // annotation kinds: per-file [min, max] of each stats column (a
    // file where any stats column is all-NULL stays stats-unannotated —
    // always read, never wrongly skipped) AND, when a bloom column is
    // declared, the per-file bloom words — each word w as
    // bit_or(per-row OR of shiftleft(1, p % 64) over the row's k
    // positions falling in word w). A NULL value hashes to seed-only
    // positions (spurious bits: extra reads possible, wrong skips
    // impossible — an equality probe never matches NULL rows anyway).
    val statAggs = statsCols.flatMap(c => Seq(
      min(col(c)).cast("long"), max(col(c)).cast("long")))
    val words = bloom.map(_._2 / 64).getOrElse(0)
    val wordAggs = bloom.toSeq.flatMap { case (c, bits, tp) =>
      val posArr = array(bloomPositions(col(c).cast(tp), bits): _*)
      (0 until words).map { w =>
        bit_or(aggregate(posArr, lit(0L), (acc, pc) =>
          acc.bitwiseOR(when((pc / 64).cast("int") === lit(w),
            call_function("shiftleft", lit(1L),
              pmod(pc, lit(64L)).cast("int")))
            .otherwise(lit(0L)))))
      }
    }
    val aggs = statAggs ++ wordAggs
    val rows = s.read.parquet(target)
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val nStat = 2 * statsCols.size
    val stats = rows
      .filterNot(r => (1 to nStat).exists(r.isNullAt))
      .map(r => pathKey(r.getString(0)) ->
        (1 to nStat).map(r.getLong).mkString("\t"))
      .toMap
    val blooms = rows.map { r =>
      pathKey(r.getString(0)) ->
        (1 + nStat until 1 + nStat + words)
          .map(i => f"${r.getLong(i)}%016x").mkString
    }.toMap
    rels.map { r =>
      val k = pathKey(r)
      val withStats = stats.get(k) match {
        case Some(pairs) => s"$r\t$pairs"
        case None => r
      }
      blooms.get(k) match {
        case Some(hex) if words > 0 => s"$withStats\tbf:$hex"
        case _ => withStats // e.g. a 0-row file: unannotated, always read
      }
    }
  }

  /** The table's declared stats columns (set at [[create]] or switched
    * by [[optimizeZorder]], carried in every commit's meta): empty when
    * the table keeps no file stats, one column for range layouts, two
    * after a Z-order optimize. */
  private[graft] def statsColsOf(spark: SparkSession, dir: String,
      v: Int): Seq[String] = manifestAt(spark, dir, v).statsCols

  private[graft] def statsColOf(spark: SparkSession, dir: String,
      v: Int): Option[String] =
    statsColsOf(spark, dir, v).headOption

  private[graft] def statsMeta(spark: SparkSession, dir: String,
      v: Int): Map[String, String] =
    statsMetaFor(statsColsOf(spark, dir, v))

  private def statsMetaFor(cols: Seq[String]): Map[String, String] =
    cols.take(1).map("stats_col" -> _).toMap ++
      cols.drop(1).take(1).map("stats_col2" -> _).toMap

  // ---- per-file bloom bits (equality skipping) ---------------------------

  /** Hash count k of the per-file bloom filters. With m/n ≈ 10+ bits
    * per distinct value (the default 1024 bits vs the ~100-2000 rows a
    * well-sized file holds per high-cardinality key), k = 4 keeps the
    * false-positive rate under ~2% — and a false positive only costs
    * reading one extra file, never a wrong result (the residual
    * equality filter stays). */
  private[graft] final val BloomHashes = 4

  /** Default bloom width in bits (must be a multiple of 64; 1024 bits
    * = 16 manifest-hex longs = 256 chars per file entry). */
  private[graft] final val BloomBitsDefault = 1024

  /** The table's bloom declaration (column, bits, Spark type name) —
    * set at [[create]], carried in every commit's meta like the stats
    * declaration. The TYPE is recorded because the probe must hash a
    * literal of the same Spark type the writer hashed (xxhash64 of an
    * int and of the equal long differ). */
  private[graft] def bloomDeclOf(spark: SparkSession, dir: String,
      v: Int): Option[(String, Int, String)] =
    manifestAt(spark, dir, v).bloomDecl

  private def bloomMetaFor(
      decl: Option[(String, Int, String)]): Map[String, String] =
    decl.map { case (c, bits, tp) =>
      Map("bloom_col" -> c, "bloom_bits" -> bits.toString,
        "bloom_type" -> tp)
    }.getOrElse(Map.empty)

  /** Stats + bloom declaration carry — what every appending/rewriting
    * commit re-passes so both layout declarations survive any writer. */
  private[graft] def layoutMeta(spark: SparkSession, dir: String,
      v: Int): Map[String, String] = manifestAt(spark, dir, v).layoutMeta

  /** The k bloom bit positions of a value expression — ONE spelling
    * shared by the write-side per-file aggregation and the probe (the
    * probe runs it through a 1-row job, so there is no driver-side
    * hash reimplementation to drift). */
  private def bloomPositions(value: Column, bits: Int): Seq[Column] =
    (0 until BloomHashes).map(i =>
      pmod(xxhash64(value, lit(i)), lit(bits.toLong)))

  /** The numeric stat fields of a manifest entry — everything between
    * the path and the first TAGGED field (`bf:<hex>` bloom bits carry a
    * ':' that no stats long can). */
  private def statFields(e: String): Array[String] =
    e.split('\t').drop(1).takeWhile(f => !f.contains(':'))

  private def bloomHexOf(e: String): Option[String] =
    e.split('\t').find(_.startsWith("bf:")).map(_.stripPrefix("bf:"))

  /** Each entry's byte size from its `sz:` tag; entries written before
    * the tag existed are resolved with ONE `listStatus` per write dir —
    * never one `getFileStatus` per file, which on a legacy ~1M-file
    * table would turn every read's planning into ~1M serial driver
    * RPCs. */
  private def sizesOf(spark: SparkSession, dir: String,
      es: Seq[String]): Seq[(String, Long)] = {
    val tagged = es.map(e => entryPath(e) -> e.split('\t')
      .find(_.startsWith("sz:")).map(_.stripPrefix("sz:").toLong))
    if (tagged.forall(_._2.isDefined)) tagged.map { case (p, s) => p -> s.get }
    else {
      val f = fs(spark, dir)
      val listed: Map[Path, Long] = tagged
        .collect { case (p, None) => f.makeQualified(new Path(dir, p)) }
        .map(_.getParent).distinct
        .flatMap(par => f.listStatus(par).map(st => st.getPath -> st.getLen))
        .toMap
      tagged.map {
        case (p, Some(s)) => p -> s
        case (p, None) =>
          val q = f.makeQualified(new Path(dir, p))
          p -> listed.getOrElse(q, f.getFileStatus(q).getLen)
      }
    }
  }

  /** Entry stripped of POSITIONAL stats (a declaration change makes
    * them misreadable) but keeping declaration-independent tags (`sz:`
    * byte size — losing it would re-introduce planning RPCs). The
    * bloom tag is dropped with the stats: a declaration change may
    * have switched the bloom column too. */
  private def stripStats(e: String): String = {
    val p = entryPath(e)
    e.split('\t').find(_.startsWith("sz:")) match {
      case Some(t) => s"$p\t$t"
      case None => p
    }
  }

  // ---- column mapping (rename without rewrite) ---------------------------

  /** The snapshot's COLUMN MAP (physical file-schema name → current
    * logical name), from the manifest's `col_map` meta — Iceberg's
    * column-mapping idea: a rename is one metadata commit, ZERO data
    * rewritten; files keep their physical names forever and every
    * reader applies the map at the boundary. Empty for never-renamed
    * tables (readers keep their original plans). */
  private[graft] def colMapOf(spark: SparkSession, dir: String,
      v: Int): Map[String, String] = manifestAt(spark, dir, v).colMap

  private def colMapMetaFor(m: Map[String, String]): Map[String, String] =
    if (m.isEmpty) Map.empty
    else Map("col_map" -> m.toSeq.sorted
      .map { case (ph, lo) => s"$ph:$lo" }.mkString(","))

  /** Physical file schema → the logical view callers see. */
  private def toLogical(df: DataFrame, m: Map[String, String]): DataFrame =
    m.foldLeft(df) { case (d, (ph, lo)) => d.withColumnRenamed(ph, lo) }

  /** Logical caller schema → the physical names files store — what
    * every writer applies before writing, so the PHYSICAL schema stays
    * stable across renames and old/new files never fork. Refuses a
    * batch that carries a column literally named like a MAPPED-AWAY
    * physical name: after rename x→score, a batch with a fresh column
    * 'x' would silently merge into the renamed column's physical
    * storage and read back under 'score' — the write-side twin of
    * renameColumn's logical-shadows-physical refusal. */
  private def toPhysical(df: DataFrame, m: Map[String, String]): DataFrame = {
    m.foreach { case (ph, lo) =>
      require(!df.columns.contains(ph),
        s"SnapTable: batch column '$ph' is the PHYSICAL storage name " +
          s"of the renamed column '$lo' — write those values under " +
          s"'$lo' (or rename the table column back first)")
    }
    m.foldLeft(df) { case (d, (ph, lo)) => d.withColumnRenamed(lo, ph) }
  }

  // ---- recorded physical schema ------------------------------------------

  private def structFromJson(j: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(j)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** The `schema` meta a data-adding writer contributes: its batch's
    * PHYSICAL schema as one-line JSON. [[occCommit]] unions it with the
    * current snapshot's recorded schema per claim, so the manifest
    * always records the full union-by-name physical schema — what a
    * mergeSchema footer scan would infer, without reading any footer
    * (at 1M files the footer scan is the most expensive "metadata"
    * operation in the format). */
  private def schemaMetaFor(df: DataFrame): Map[String, String] =
    Map("schema" -> df.schema.json)

  /** Union-by-name of two recorded schemas (base fields win on a name
    * clash — schema evolution adds columns, never retypes them). */
  private def unionSchemaJson(base: String, add: Option[String]): String =
    add match {
      case None => base
      case Some(a) =>
        val bf = structFromJson(base).fields
        val have = bf.map(_.name).toSet
        org.apache.spark.sql.types.StructType(
          bf.toSeq ++ structFromJson(a).fields.filterNot(f => have(f.name))).json
    }

  /** The snapshot's PHYSICAL file schema: the manifest-recorded union
    * schema when present (one meta lookup, zero file reads), else the
    * legacy mergeSchema footer scan over every live file. */
  private[graft] def physicalSchemaOf(spark: SparkSession, dir: String,
      mf: Manifest): org.apache.spark.sql.types.StructType =
    mf.meta.get("schema").map(structFromJson).getOrElse {
      require(mf.paths.nonEmpty,
        s"SnapTable: snapshot under $dir lists no data files and " +
          "records no schema — nothing to derive a physical schema from")
      spark.read.option("mergeSchema", "true")
        .parquet(mf.paths.map(r => s"$dir/$r"): _*).schema
    }

  /** Create snapshot v1 from `df` (dir must hold no table yet).
    * `statsCol` (an integral column) turns on per-file min/max stats in
    * every manifest from here on — the metadata [[readPruned]] skips
    * files with. `bloomCol` turns on per-file bloom bits for EQUALITY
    * probes on a high-cardinality key ([[readPrunedEq]]) — the skipping
    * min/max cannot give a point lookup (every hash-laid-out file spans
    * the full range; even perfect clustering bounds, not identifies). */
  def create(df: DataFrame, dir: String,
      statsCol: Option[String] = None,
      bloomCol: Option[String] = None,
      bloomBits: Int = BloomBitsDefault): Unit = {
    require(currentVersion(df.sparkSession, dir) == 0,
      s"SnapTable: $dir already holds a table — use append/deleteWhere")
    require(bloomBits > 0 && bloomBits % 64 == 0,
      s"SnapTable: bloomBits must be a positive multiple of 64, got $bloomBits")
    statsCol.foreach(c => require(df.columns.contains(c),
      s"SnapTable: stats column '$c' is not in ${df.columns.toSeq} — " +
        "a misdeclared column would commit a declaration nothing can " +
        "ever annotate"))
    val decl = bloomCol.map { c =>
      require(df.columns.contains(c),
        s"SnapTable: bloom column '$c' is not in ${df.columns.toSeq}")
      (c, bloomBits, df.schema(c).dataType.catalogString)
    }
    commitManifest(df.sparkSession, dir, 1,
      writeData(df, dir, 1, statsCol.toSeq, decl),
      statsMetaFor(statsCol.toSeq) ++ bloomMetaFor(decl) ++
        schemaMetaFor(df) ++
        Map("ts" -> System.currentTimeMillis().toString))
  }

  /** Append `df`'s rows as a new snapshot: previous files carry over by
    * reference (stats annotations included), only the new rows are
    * written. */
  def append(df: DataFrame, dir: String): Unit = {
    val s = df.sparkSession
    val v = currentVersion(s, dir)
    require(v > 0, s"SnapTable: $dir holds no table — create first")
    // data lands once; only the manifest claim retries on a lost race
    // (an append reads nothing, so it rebases over ANY interleaved
    // commit — the write-dir name carries the PLANNED version, which
    // may trail the committed one after a rebase; the token keeps it
    // unique and manifests reference it either way)
    val mf = manifestAt(s, dir, v) // ONE fetch for every aspect below
    val phys = toPhysical(df, mf.colMap)
    val added = writeData(phys, dir, v + 1, mf.statsCols, mf.bloomDecl)
    occCommit(s, dir, v, Set.empty, Set.empty, added,
      mf.layoutMeta ++ schemaMetaFor(phys))
  }

  /** Copy-on-write delete: rows matching `pred` disappear in the new
    * snapshot. Only files CONTAINING matches are rewritten (their
    * surviving rows move to the new write-dir); untouched files carry
    * over by reference, and every previous snapshot still reads its
    * original data. */
  def deleteWhere(spark: SparkSession, dir: String, pred: Column): Unit =
    deleteWhereFrom(spark, dir, pred, currentVersion(spark, dir))

  /** [[deleteWhere]] planned against an EXPLICIT base version — the OCC
    * seam (and its deterministic test hook): the predicate scan and the
    * file partition run on snapshot `v`, and [[occCommit]] rebases the
    * result over any commits that landed after `v`, provided they were
    * pure appends (whose rows this delete deliberately does NOT see —
    * write-serializable semantics: a predicate applies to the snapshot
    * it read, never to rows that didn't exist then). */
  private[graft] def deleteWhereFrom(spark: SparkSession, dir: String,
      pred: Column, v: Int): Unit = {
    require(v > 0, s"SnapTable: $dir holds no table — create first")
    val mf = manifestAt(spark, dir, v)
    val entries = mf.entries
    val delFiles = mf.delFiles
    // DV-AWARE rewrite-path reads (readKeyed): on a table with
    // merge-on-read vectors, a raw file scan would see rows the
    // vectors already deleted — the touched probe would rewrite files
    // for them, and the survivor rewrite would RESURRECT them.
    // mergeSchema (inside readKeyed) on BOTH reads: after schema
    // evolution a plain read infers from one arbitrary file —
    // survivors rewritten through the narrower schema would silently
    // lose the evolved column (or the predicate would fail to resolve)
    // bounded driver action: one distinct over ≤#files values
    val cmap = mf.colMap
    val touchedKeys = readKeyed(spark, dir, entries.map(entryPath),
        delFiles, cmap)
      .filter(pred).select(col("__fk"))
      .distinct().collect().map(_.getString(0)).toSet
    val touched =
      entries.filter(e => touchedKeys.contains(pathKey(entryPath(e))))
    // no row matched: committing would write an IDENTICAL manifest —
    // pure version churn that shrinks the vacuum window and lengthens
    // every descending manifest scan. Return without a commit (Delta's
    // no-op DELETE behavior).
    if (touched.isEmpty) return
    // delete ⇔ pred is TRUE: survivors keep rows where pred is false
    // OR NULL (plain !pred filters NULL-predicate rows out — silent
    // data loss for rows the predicate never matched). DV entries for
    // the rewritten files dangle harmlessly (their keys match nothing);
    // untouched files keep their vectors, carried by occCommit.
    val newFiles = writeData(
      toPhysical(readKeyed(spark, dir, touched.map(entryPath), delFiles,
          cmap)
        .filter(!coalesce(pred, lit(false))).drop("__fk", "__pos"), cmap),
      dir, v + 1, mf.statsCols, mf.bloomDecl)
    occCommit(spark, dir, v, entries.toSet, touched.toSet, newFiles,
      mf.layoutMeta)
  }

  /** MERGE-ON-READ delete: rows matching `pred` disappear in the new
    * snapshot WITHOUT rewriting any data file — the delete writes only
    * a deletion-vector sidecar of (file, row-position) pairs, applied
    * at read time by every reader ([[read]], [[readPruned]], the CoW
    * rewrite paths). This is the selective-delete path at 100 TB: a
    * 1-row GDPR delete costs one corpus scan + a KB-sized sidecar,
    * where [[deleteWhere]]'s copy-on-write rewrites every file the row
    * touches. The trade: every subsequent read pays the (file, pos)
    * anti-join until [[optimize]] folds the vectors into a clean
    * rewrite. Vectors compose: a second MoR delete adds its own
    * sidecar, and positions are recorded against the DV-APPLIED view,
    * so re-deleting an already-deleted row is impossible and sidecar
    * sizes track the marginal delete, not the table. */
  def deleteWhereMor(spark: SparkSession, dir: String,
      pred: Column): Unit =
    deleteWhereMorFrom(spark, dir, pred, currentVersion(spark, dir))

  /** [[deleteWhereMor]] planned against an EXPLICIT base version — the
    * OCC seam (mirrors [[deleteWhereFrom]]). The commit's read set is
    * exactly the files whose positions the vector records: a
    * concurrent REWRITE of one of them strands those positions (the
    * rewritten file carries the rows under a new name), so it
    * conflicts via the read-set rule; concurrent appends and other
    * MoR deletes rebase — DV-only commits compose by meta merge. */
  private[graft] def deleteWhereMorFrom(spark: SparkSession, dir: String,
      pred: Column, v: Int): Unit = {
    require(v > 0, s"SnapTable: $dir holds no table — create first")
    val mf = manifestAt(spark, dir, v)
    val entries = mf.entries
    val delFiles = mf.delFiles
    // delete ⇔ pred is TRUE (NULL keeps the row), same as the CoW path.
    // repartition(1): ONE sidecar file per delete commit — the scan
    // stays fully parallel (only the matched positions shuffle, and a
    // selective delete's positions are small by definition); a delete
    // so broad that single-writer sidecar output hurts should be the
    // copy-on-write [[deleteWhere]] anyway — it is rewriting the table
    val matches = readKeyed(spark, dir, entries.map(entryPath), delFiles,
        mf.colMap)
      .filter(coalesce(pred, lit(false)))
      .select(col("__fk").as("file_key"), col("__pos").as("pos"))
      .repartition(1)
    val token = java.util.UUID.randomUUID().toString.take(8)
    val rel = f"_deletes/d${v + 1}%05d-$token"
    matches.write.mode("errorifexists").parquet(s"$dir/$rel")
    val f = fs(spark, dir)
    val parts = f.listStatus(new Path(s"$dir/$rel")).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).sorted.map(n => s"$rel/$n").toSeq
    // the touched keys come from reading the just-written sidecar back
    // (tiny), not a second corpus scan; no match → no-op delete (the
    // CoW path's no-version-churn rule), sidecar litter removed
    val touchedKeys =
      if (parts.isEmpty) Set.empty[String]
      else spark.read.parquet(parts.map(r => s"$dir/$r"): _*)
        .select(col("file_key")).distinct()
        .collect().map(_.getString(0)).toSet
    if (touchedKeys.isEmpty) {
      f.delete(new Path(s"$dir/$rel"), true)
      return
    }
    val touched =
      entries.filter(e => touchedKeys.contains(pathKey(entryPath(e))))
    // a conflicted commit (e.g. a concurrent rewrite of a touched file)
    // leaves the just-written sidecar referenced by NOTHING — vacuum
    // only retires files listed in retired manifests, so without this
    // cleanup every conflicted/retried delete leaks its sidecar forever
    try occCommit(spark, dir, v, touched.toSet, Set.empty, Seq.empty,
      mf.layoutMeta, addDeleteFiles = parts)
    catch {
      case scala.util.control.NonFatal(e) =>
        f.delete(new Path(s"$dir/$rel"), true)
        throw e
    }
  }

  /** DV MINOR COMPACTION: merge every live deletion-vector sidecar
    * into ONE, rewriting ZERO data files — a pure layout commit. A
    * delete-heavy MoR table otherwise stacks one sidecar per commit and
    * every read anti-joins their UNION until a full [[optimize]]
    * rewrite folds them; this caps the read-side cost at one sidecar
    * scan for the price of re-writing only the vectors (KBs, not the
    * table). Sound because vectors never overlap — positions are
    * recorded against the DV-APPLIED view, so their union is a plain
    * concatenation and the merged sidecar anti-joins to exactly the
    * same rows (the spec asserts value identity and that the plan still
    * carries exactly one anti-join). Time travel is untouched: old
    * manifests keep referencing the original sidecars, which vacuum
    * retires with them. Concurrency: the OCC read set is the files the
    * vectors cover (a concurrent rewrite of one strands positions), and
    * the rewrite-vs-DV rule refuses a concurrent vector change (this
    * writer's drop set was planned against the base's vectors). */
  def compactDeletionVectors(spark: SparkSession, dir: String): Unit = {
    val v = currentVersion(spark, dir)
    require(v > 0, s"SnapTable: $dir holds no table — create first")
    val mf = manifestAt(spark, dir, v)
    if (mf.delFiles.size <= 1) return // nothing to fold — no version churn
    val merged = dvPairs(spark, dir, mf.delFiles)
      .select(col("__fk").as("file_key"), col("__pos").as("pos"))
      .repartition(1)
    val token = java.util.UUID.randomUUID().toString.take(8)
    val rel = f"_deletes/c${v + 1}%05d-$token"
    merged.write.mode("errorifexists").parquet(s"$dir/$rel")
    val f = fs(spark, dir)
    val parts = f.listStatus(new Path(s"$dir/$rel")).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).sorted.map(n => s"$rel/$n").toSeq
    val touchedKeys = spark.read.parquet(parts.map(r => s"$dir/$r"): _*)
      .select(col("file_key")).distinct()
      .collect().map(_.getString(0)).toSet
    val touched =
      entriesTouchedBy(mf, touchedKeys)
    // conflicted commit: the merged sidecar is referenced by nothing —
    // delete it (the deleteWhereMor litter rule)
    try occCommit(spark, dir, v, touched, Set.empty, Seq.empty,
      mf.layoutMeta, addDeleteFiles = parts,
      dropDeleteFiles = mf.delFiles.toSet)
    catch {
      case scala.util.control.NonFatal(e) =>
        f.delete(new Path(s"$dir/$rel"), true)
        throw e
    }
  }

  /** The manifest entries whose file keys appear in `keys`. */
  private def entriesTouchedBy(mf: Manifest,
      keys: Set[String]): Set[String] =
    mf.entries.filter(e => keys.contains(pathKey(entryPath(e)))).toSet

  /** MERGE (upsert) by key: rows of `updates` whose `key` exists in the
    * current snapshot REPLACE the old rows; new keys insert. One atomic
    * commit — the copy-on-write delete of matched keys and the append
    * of `updates` land in the same manifest, so readers see either the
    * whole merge or none of it.
    *
    * Concurrency contract: a merge REBASES over an interleaved commit
    * iff it is a pure append whose files contain NONE of the merge's
    * update keys (checked per claim via [[occCommit]]'s interloper
    * guard — carrying a key-bearing file by reference would leave a
    * duplicate key the merge promised to replace). Everything else —
    * a key-clashing append, and ANY rewrite of files this merge read
    * (compaction / delete / another merge: the read-set rule fires
    * because a merge reads every file for its probe) — throws
    * [[ConcurrentWriteException]] for a caller-level re-plan + retry.
    * Merge-vs-compaction is therefore REFUSE-AND-RETRY by design:
    * survivors were computed from files the compaction unreferenced,
    * so no commit-time patch-up short of re-planning is sound.
    *
    * Scale shape: update batches are small next to the table (the CDC
    * case), so the update KEY SET broadcasts into the file probe and
    * the survivor anti-join; only files containing matched keys
    * rewrite. */
  def merge(updates: DataFrame, dir: String, key: String): Unit =
    mergeFrom(updates, dir, key,
      currentVersion(updates.sparkSession, dir))

  /** [[merge]] planned against an EXPLICIT base version — the OCC seam
    * (mirrors [[deleteWhereFrom]]); deterministic interleave fixtures
    * (q252) and concurrency specs drive this directly.
    *
    * CONCURRENT-MERGE CONTRACT: a merge's OCC read set is exactly the
    * files it REWRITES (the ones carrying its update keys). Two merges
    * racing from the same base therefore compose when they touch
    * DISJOINT FILES: the loser rebases over the winner's commit after
    * its interloper guard verifies every file added since its base
    * carries none of its own keys (the winner's rewrite output, like
    * any concurrent append, rides into the rebased manifest by
    * reference). Two merges touching the SAME file cannot both apply —
    * the loser's rebase would resurrect rows the winner rewrote — so
    * the loser's read-set check throws [[ConcurrentWriteException]]
    * for a caller-level re-plan against the new snapshot. Key-disjoint
    * is NECESSARY but not sufficient: file-granular CoW makes the FILE
    * the conflict unit (two key-disjoint merges interleaved in one
    * file still conflict — re-planning then serializes them). */
  /** Shared MERGE-batch validation (both the CoW and merge-on-read
    * spellings): the batch must carry the table's FULL schema (the
    * survivor rewrite / upsert projects to updates' columns — a
    * narrower batch would silently strip columns) and UNIQUE keys (a
    * duplicate would land both copies next to each other). Returns the
    * distinct update-key relation. */
  private def mergeValidate(updates: DataFrame, dir: String,
      mf: Manifest, key: String): DataFrame = {
    val s = updates.sparkSession
    // batches carry the LOGICAL schema: the recorded physical schema
    // (one meta lookup on schema-recording tables; the legacy footer
    // scan otherwise) maps through the column map before the comparison
    val curCols = physicalSchemaOf(s, dir, mf)
      .map(f => mf.colMap.getOrElse(f.name, f.name))
    require(updates.columns.toSet == curCols.toSet,
      s"SnapTable: merge batch columns ${updates.columns.toSeq.sorted}" +
        s" must equal the table's ${curCols.sorted}")
    val (updN, updDistinct) = {
      val r = updates.agg(count(lit(1)), count_distinct(col(key))).head()
      (r.getLong(0), r.getLong(1))
    }
    require(updN == updDistinct,
      s"SnapTable: merge batch carries duplicate '$key' values " +
        s"($updN rows, $updDistinct distinct keys) — a merge upserts " +
        "each key exactly once; dedupe the batch first")
    updates.select(col(key)).distinct()
  }

  /** Shared per-claim interloper guard for both merge spellings: a
    * rebase is sound only when every file ADDED since the base carries
    * none of this merge's keys — otherwise a duplicate of a merged key
    * rides into the rebased manifest by reference. Probe failures
    * (e.g. an interloper append lacking the key column) also abort:
    * either way the rebase is unverifiable. */
  private def mergeKeyGuard(s: SparkSession, dir: String,
      basePaths: Set[String], updKeys: DataFrame, key: String,
      colMap: Map[String, String] = Map.empty)
      : Seq[String] => Unit = { interlopers =>
    val newEntries = interlopers.filterNot(e =>
      basePaths.contains(entryPath(e)))
    if (newEntries.nonEmpty) {
      val clash = try {
        toLogical(s.read.option("mergeSchema", "true")
          .parquet(newEntries.map(e => s"$dir/${entryPath(e)}"): _*),
          colMap)
          .join(broadcast(updKeys), Seq(key), "left_semi")
          .limit(1).count()
      } catch {
        case scala.util.control.NonFatal(t) =>
          throw new ConcurrentWriteException(
            s"SnapTable: could not verify a concurrent append under " +
              s"$dir is disjoint from this merge's keys " +
              s"(${t.getMessage}) — re-plan against the current " +
              "snapshot and retry", t)
      }
      if (clash > 0) throw new ConcurrentWriteException(
        s"SnapTable: a concurrent append under $dir carries a key " +
          "this merge replaces — rebasing would admit a duplicate " +
          "key; re-plan against the current snapshot and retry")
    }
  }

  private[graft] def mergeFrom(updates: DataFrame, dir: String,
      key: String, v: Int): Unit = {
    val s = updates.sparkSession
    require(v > 0, s"SnapTable: $dir holds no table — create first")
    val mf = manifestAt(s, dir, v)
    val entries = mf.entries
    val files = mf.paths
    val cmap = mf.colMap
    val updKeys = mergeValidate(updates, dir, mf, key)
    // DV-AWARE probe and survivor reads (readKeyed): on a table with
    // merge-on-read vectors a raw scan would probe/rewrite rows the
    // vectors already deleted — a merge of an already-MoR-deleted key
    // must INSERT it, not resurrect the old row next to it
    val delFiles = mf.delFiles
    val cur = readKeyed(s, dir, files, delFiles, cmap)
    val touchedKeys = cur.join(broadcast(updKeys), Seq(key))
      .select(col("__fk"))
      .distinct().collect().map(_.getString(0)).toSet
    val touched =
      entries.filter(e => touchedKeys.contains(pathKey(entryPath(e))))
    val survivors =
      if (touched.isEmpty) updates
      else readKeyed(s, dir, touched.map(entryPath), delFiles, cmap)
        .join(broadcast(updKeys), Seq(key), "left_anti")
        .select(updates.columns.map(col): _*)
        .unionByName(updates)
    // the merge's contract is key uniqueness: rebasing over a blind
    // append OR a file-disjoint concurrent merge is sound ONLY when
    // the files added since this merge's base carry none of its update
    // keys — otherwise a duplicate of a merged key would ride in by
    // reference. The guard re-reads only those added files (small:
    // whatever landed since the plan) per claim; a clash aborts for a
    // caller-level re-plan + retry. The OCC read set is the TOUCHED
    // files only (see the contract above): an untouched base file
    // provably carries no update key (touched-set completeness over
    // the base read), so a concurrent rewrite of it conflicts exactly
    // when its REPLACEMENT files clash — which the guard checks.
    occCommit(s, dir, v, touched.toSet, touched.toSet,
      writeData(toPhysical(survivors, cmap), dir, v + 1,
        mf.statsCols, mf.bloomDecl),
      mf.layoutMeta,
      interloperGuard =
        mergeKeyGuard(s, dir, files.toSet, updKeys, key, cmap))
  }

  /** MERGE-ON-READ upsert: matched keys' OLD rows are deleted via a
    * deletion-vector sidecar (their (file, position) pairs, captured
    * against the DV-applied view) and the whole update batch appends
    * as new files — one atomic commit, ZERO data files rewritten.
    * This is Iceberg v2's positional-delete upsert, the CDC path at
    * 100 TB: a small update batch costs one keyed probe plus its own
    * write, where [[merge]]'s copy-on-write rewrites every file any
    * matched key lives in. Same contract as [[merge]]: full-schema
    * batches, unique keys, key-clashing interleaves refused; reads pay
    * the vector anti-join until [[optimize]] folds it away. */
  def mergeMor(updates: DataFrame, dir: String, key: String): Unit =
    mergeMorFrom(updates, dir, key,
      currentVersion(updates.sparkSession, dir))

  /** [[mergeMor]] planned against an EXPLICIT base version — the OCC
    * seam. Read set = the files whose positions the new vector records
    * (a concurrent rewrite of one strands the delete — refused by the
    * read-set rule); concurrent appends rebase through the same
    * key-disjointness guard as [[mergeFrom]], and concurrent DV-only
    * commits compose by meta merge. */
  private[graft] def mergeMorFrom(updates: DataFrame, dir: String,
      key: String, v: Int): Unit = {
    val s = updates.sparkSession
    require(v > 0, s"SnapTable: $dir holds no table — create first")
    val mf = manifestAt(s, dir, v)
    val entries = mf.entries
    val files = mf.paths
    val cmap = mf.colMap
    val updKeys = mergeValidate(updates, dir, mf, key)
    val delFiles = mf.delFiles
    // the old rows of matched keys, as (file, position) — the DV rows
    val matches = readKeyed(s, dir, files, delFiles, cmap)
      .join(broadcast(updKeys), Seq(key))
      .select(col("__fk").as("file_key"), col("__pos").as("pos"))
      .repartition(1)
    val token = java.util.UUID.randomUUID().toString.take(8)
    val rel = f"_deletes/d${v + 1}%05d-$token"
    matches.write.mode("errorifexists").parquet(s"$dir/$rel")
    val f = fs(s, dir)
    val parts = f.listStatus(new Path(s"$dir/$rel")).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).sorted.map(n => s"$rel/$n").toSeq
    val touchedKeys =
      if (parts.isEmpty) Set.empty[String]
      else s.read.parquet(parts.map(r => s"$dir/$r"): _*)
        .select(col("file_key")).distinct()
        .collect().map(_.getString(0)).toSet
    // pure-insert batch (no key matched): drop the empty sidecar, the
    // commit is a plain guarded append
    if (touchedKeys.isEmpty) f.delete(new Path(s"$dir/$rel"), true)
    val touched =
      entries.filter(e => touchedKeys.contains(pathKey(entryPath(e))))
    val newFiles = writeData(toPhysical(updates, cmap), dir, v + 1,
      mf.statsCols, mf.bloomDecl)
    // same sidecar-leak rule as deleteWhereMorFrom: a conflicted commit
    // leaves the vector AND the just-written update files unreferenced
    // (vacuum only retires files listed in retired manifests, so both
    // would leak forever); both paths are known here — delete both
    try occCommit(s, dir, v, touched.toSet, Set.empty, newFiles,
      mf.layoutMeta,
      addDeleteFiles = (if (touchedKeys.isEmpty) Seq.empty else parts),
      interloperGuard =
        mergeKeyGuard(s, dir, files.toSet, updKeys, key, cmap))
    catch {
      case scala.util.control.NonFatal(e) =>
        if (touchedKeys.nonEmpty) f.delete(new Path(s"$dir/$rel"), true)
        newFiles.map(p =>
          entryPath(p).split('/').dropRight(1).mkString("/")).distinct
          .foreach(d0 => f.delete(new Path(s"$dir/$d0"), true))
        throw e
    }
  }

  /** Highest streaming batch id any snapshot has committed, -1 if none.
    * Scans versions DESCENDING and stops at the first stamped manifest
    * (batch ids commit in order, so the newest stamp is the max) — an
    * ascending full scan would be O(versions) manifest reads per batch
    * AND would throw on versions [[vacuum]] already retired; missing
    * manifests are skipped for the same reason. */
  private[graft] def lastAppliedBatch(spark: SparkSession,
      dir: String): Long = {
    val f = fs(spark, dir)
    var v = currentVersion(spark, dir)
    while (v >= 1) {
      if (f.exists(manifestPath(dir, v))) {
        manifestMeta(spark, dir, v).get("batch_id") match {
          case Some(b) => return b.toLong
          case None => () // a non-stream commit interleaved; keep looking
        }
      }
      v -= 1
    }
    -1L
  }

  /** EXACTLY-ONCE streaming append: commit `df` as a new snapshot
    * stamped with `batchId`, or do NOTHING if a snapshot already
    * carries this or a later batch id — the foreachBatch sink contract
    * (a restarted stream redelivers its last uncommitted batch; the
    * stamp makes the redelivery a no-op instead of a duplicate). The
    * stamp rides the manifest's atomic rename, so there is no window
    * where data committed but the stamp did not. Creates the table on
    * the first batch. Returns true if a commit happened. */
  def appendOnce(df: DataFrame, dir: String, batchId: Long): Boolean = {
    val s = df.sparkSession
    if (lastAppliedBatch(s, dir) >= batchId) return false
    val v0 = currentVersion(s, dir)
    val mf0 = manifestAt(s, dir, v0)
    val phys = toPhysical(df, mf0.colMap)
    val added = writeData(phys, dir, v0 + 1, mf0.statsCols, mf0.bloomDecl)
    // a pure-append occCommit whose skipIf rechecks the stamp before
    // every claim: the commit this writer lost to may have BEEN this
    // very batch (two racing sink instances)
    occCommit(s, dir, v0, Set.empty, Set.empty, added,
      Map("batch_id" -> batchId.toString) ++ mf0.layoutMeta ++
        schemaMetaFor(phys),
      skipIf = () => lastAppliedBatch(s, dir) >= batchId).isDefined
  }

  /** Read a snapshot: the current one, or `asOf` for time travel.
    * `mergeSchema` makes SCHEMA EVOLUTION work: an append that added a
    * column reads as the union schema, with nulls for rows written
    * before the column existed (time travel to a pre-evolution version
    * still returns the old schema — its manifest lists only old files). */
  def read(spark: SparkSession, dir: String,
      asOf: Option[Int] = None): DataFrame = {
    val v = asOf.getOrElse(currentVersion(spark, dir))
    require(v > 0, s"SnapTable: no snapshot to read under $dir")
    val mf = manifestAt(spark, dir, v)
    readScoped(spark, dir, mf.paths, mf)
  }

  /** Resolve a wall-clock timestamp to the newest RETAINED snapshot
    * committed at or before it — what "as of yesterday 14:00" audits
    * ask for, where version numbers are an internal detail. Every
    * commit stamps a MONOTONIC `ts` (wall clock bumped past the
    * previous commit's stamp, so writer clock skew cannot make
    * resolution ambiguous). Refuses a timestamp older than the oldest
    * retained commit — silently serving the oldest snapshot would
    * misrepresent pre-history (or a vacuumed window) as table state.
    * Pre-feature manifests carry no stamp and are skipped (they are
    * unreachable by timestamp, exactly like vacuumed versions). */
  def versionAtTimestamp(spark: SparkSession, dir: String,
      ts: Long): Int = {
    val f = fs(spark, dir)
    var v = currentVersion(spark, dir)
    require(v > 0, s"SnapTable: no snapshot to read under $dir")
    // descending walk, head-manifest meta only: the newest stamped
    // version ≤ ts wins, so the scan stops at the first hit (on a
    // current read that is O(1) manifests, not O(history))
    while (v >= 1) {
      if (f.exists(manifestPath(dir, v))) {
        val t = manifestMeta(spark, dir, v).get("ts").map(_.toLong)
        if (t.exists(_ <= ts)) return v
      }
      v -= 1
    }
    throw new IllegalArgumentException(
      s"requirement failed: SnapTable: no retained snapshot of $dir " +
        s"was committed at or before ts=$ts — the timestamp predates " +
        "the table (or its retained window after a vacuum); oldest " +
        s"retained version: v${oldestRetainedVersion(spark, dir)}")
  }

  /** [[read]] addressed by wall-clock time instead of version. */
  def readAsOfTimestamp(spark: SparkSession, dir: String,
      ts: Long): DataFrame =
    read(spark, dir, Some(versionAtTimestamp(spark, dir, ts)))

  /** The `spark.read.format("graftsnap")` relation (see
    * [[org.apache.spark.sql.graft.GraftSnapSource]]): the snapshot's
    * manifest-backed file index wrapped in Spark's native parquet
    * relation, so pushed-down filters drive manifest skipping with no
    * SnapTable API in sight. Options: `versionAsOf`, `timestampAsOf`.
    * DV-carrying and column-mapped snapshots serve through the
    * [[org.apache.spark.sql.graft.SnapScopedRelation]] fallback tier
    * (scoped read under the relation, logical names, filters
    * re-applied inside so skipping still fires); clean snapshots keep
    * the native codegen path. */
  def baseRelation(spark: SparkSession,
      parameters: Map[String, String])
      : org.apache.spark.sql.sources.BaseRelation = {
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("graftsnap: a table path is " +
        "required — spark.read.format(\"graftsnap\").load(<dir>)"))
    val v = parameters.get("versionAsOf").map(_.toInt)
      .orElse(parameters.get("timestampAsOf")
        .map(t => versionAtTimestamp(spark, dir, t.toLong)))
      .getOrElse(currentVersion(spark, dir))
    require(v > 0, s"SnapTable: no snapshot to read under $dir")
    val mf = manifestAt(spark, dir, v)
    if (mf.delFiles.isEmpty && mf.colMap.isEmpty)
      // clean tier: Spark's native parquet relation over the manifest
      // index — vectorized reader + end-to-end codegen
      org.apache.spark.sql.graft.SnapRelation.relation(spark,
        snapIndex(spark, dir, mf.paths, mf), physicalSchemaOf(spark, dir, mf))
    else {
      // DV / column-mapped tier: the relation delegates to the scoped
      // read (anti-join + rename projection), re-applying the pushed
      // filters there so manifest skipping still fires in the inner
      // plan. The schema serves LOGICAL names, like [[read]].
      val logical =
        logicalSchemaOf(physicalSchemaOf(spark, dir, mf), mf.colMap)
      new org.apache.spark.sql.graft.SnapScopedRelation(spark,
        logical, sizesOf(spark, dir, mf.entries).map(_._2).sum,
        filters => {
          val base = readScoped(spark, dir, mf.paths, mf)
          filters.flatMap(org.apache.spark.sql.graft.SnapFilters.toColumn)
            .foldLeft(base)(_.filter(_))
        })
    }
  }

  // ---- streaming source (readStream.format("graftsnap")) -----------------

  /** Physical file schema + column map → the LOGICAL schema readers
    * see — THE one spelling of the rule (the batch front door and the
    * streaming source both call it, so they cannot drift). */
  private def logicalSchemaOf(
      phys: org.apache.spark.sql.types.StructType,
      colMap: Map[String, String])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(phys.fields.map(f =>
      f.copy(name = colMap.getOrElse(f.name, f.name))))

  /** The logical schema the snapshot STREAM serves — fixed at stream
    * start: the current snapshot's column-mapped schema (renames
    * mid-stream refuse in [[streamBatch]], like every schema change). */
  def streamLogicalSchema(spark: SparkSession, dir: String)
      : org.apache.spark.sql.types.StructType = {
    val v = currentVersion(spark, dir)
    require(v > 0, s"SnapTable: no snapshot to stream under $dir")
    val mf = manifestAt(spark, dir, v)
    logicalSchemaOf(physicalSchemaOf(spark, dir, mf), mf.colMap)
  }

  /** Project `df` onto `schema`'s columns in order, null-filling any
    * the frame lacks (schema-evolved old files) — the streaming
    * source's fixed-schema contract. Names are backtick-quoted: a
    * top-level column named `a.b` must not resolve as a struct path. */
  private def alignTo(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(schema.fields.toSeq.map { f =>
      if (df.columns.contains(f.name))
        col(org.apache.spark.sql.graft.SnapFilters.quote(f.name))
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)

  /** Refuse a frame carrying columns OUTSIDE the stream's fixed
    * schema: the table's schema moved mid-stream (a rename's new
    * logical name, or an additive evolution) and [[alignTo]] would
    * silently drop the data — fail like Delta does and make the
    * consumer restart onto the new schema. */
  private def refuseSchemaDrift(df: DataFrame, dir: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val extra = df.columns.filterNot(schema.fieldNames.contains)
    if (extra.nonEmpty) throw new IllegalStateException(
      s"SnapTable stream: the table's schema changed mid-stream " +
        s"(column(s) ${extra.mkString(", ")} of $dir are not in the " +
        "stream's fixed schema) — restart the stream from the current " +
        "snapshot to pick up the new schema")
  }

  /** One micro-batch of the snapshot STREAM (versions as offsets).
    * `fromV = 0` serves the FULL snapshot at `toV` — the bootstrap
    * batch, Delta's readStream initial-snapshot semantics; every later
    * window serves ONLY the rows its transitions appended (each
    * commit's drop-sized files, never a rescan — the scale shape that
    * lets a 100 TB table stream its ingest). A NON-append transition
    * in the window (delete / update / compaction / rename) REFUSES
    * loudly by default: silently serving rewritten files would
    * duplicate rows, and silently skipping them would hide changes —
    * the consumer must choose: `skipChangeCommits = true` to skip
    * change transitions wholesale (appends keep flowing), or the
    * row-level CDC APIs ([[cdcRows]] / the replica maintainer) to
    * consume the changes themselves. A vacuumed recovery window
    * refuses with the re-bootstrap remedy (the retired transitions are
    * unreconstructible). Deterministic for a fixed (fromV, toV]:
    * manifests are immutable, so the engine's restart re-execution of
    * a committed batch reads identical rows — the exactly-once leg. */
  def streamBatch(spark: SparkSession, dir: String, fromV: Int, toV: Int,
      schema: org.apache.spark.sql.types.StructType,
      skipChangeCommits: Boolean = false): DataFrame = {
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    if (fromV >= toV) return empty
    if (fromV == 0) {
      // the bootstrap needs the drift refusal too: an evolution commit
      // between stream start and the first trigger would otherwise
      // silently drop the new column from rows served exactly once
      val out = read(spark, dir, Some(toV))
      refuseSchemaDrift(out, dir, schema)
      return alignTo(out, schema)
    }
    // a retired manifest surfaces as readText's "no snapshot v" require
    // (FileNotFoundException only in a narrow mid-read race) — match
    // the full vacuum signature, not one exception class
    val deltas = try versionDeltas(spark, dir, fromV, toV) catch {
      case scala.util.control.NonFatal(e) if vacuumRaceSignature(e) =>
        throw new IllegalStateException(
          s"SnapTable stream: versions < " +
            s"${oldestRetainedVersion(spark, dir)} of $dir were vacuumed " +
            s"inside the stream's recovery window (v$fromV, v$toV] — the " +
            "retired transitions are unreconstructible; re-bootstrap the " +
            "stream from a fresh checkpoint")
    }
    val served = deltas.zipWithIndex.filter { case (d, i) =>
      val appendOnly = d.removedFiles.isEmpty && d.sidecarsAdded.isEmpty &&
        d.sidecarsDropped.isEmpty && d.colMapFrom == d.colMapTo
      if (!appendOnly && !skipChangeCommits)
        throw new IllegalStateException(
          s"SnapTable stream: transition v${fromV + i}->v${fromV + i + 1} " +
            s"of $dir is not append-only (a delete/update/compaction/" +
            "rename landed mid-stream) — serving it would duplicate or " +
            "hide rows. Set skipChangeCommits=true to skip change " +
            "transitions, or consume row-level changes via cdcRows / " +
            "maintainSnapshotReplica")
      appendOnly
    }.map(_._1)
    val files = served.flatMap(_.addedFiles.toSeq.sorted)
    if (files.isEmpty) empty
    else {
      val out = toLogical(spark.read.option("mergeSchema", "true")
        .parquet(files.map(r => s"$dir/$r"): _*), served.last.colMapTo)
      refuseSchemaDrift(out, dir, schema)
      alignTo(out, schema)
    }
  }

  /** The manifest entries a conjunction of per-stats-column [lo, hi]
    * range predicates CANNOT skip: annotated files where EVERY given
    * range intersects its column's [min, max], plus any unannotated
    * file (no stats → must read). `ranges(i)` = None means no
    * constraint on stats column i. Exposed so the spec can assert real
    * pruning happened. */
  private[graft] def prunedPathsBox(spark: SparkSession, dir: String,
      ranges: Seq[Option[(Long, Long)]],
      asOf: Option[Int] = None): Seq[String] = {
    val v = asOf.getOrElse(currentVersion(spark, dir))
    require(v > 0, s"SnapTable: no snapshot to read under $dir")
    prunedPathsOf(manifestAt(spark, dir, v), ranges)
  }

  private def prunedPathsOf(mf: Manifest,
      ranges: Seq[Option[(Long, Long)]]): Seq[String] =
    prunedPathsOfEntries(mf.entries, ranges)

  private def prunedPathsOfEntries(entries: Seq[String],
      ranges: Seq[Option[(Long, Long)]]): Seq[String] =
    entries.filter { e =>
      val st = statFields(e) // numeric stats only (bloom tags excluded)
      val nPairs = st.length / 2
      if (nPairs == 0) true // unannotated: must read
      else ranges.zipWithIndex.forall {
        case (Some((lo, hi)), i) if i < nPairs =>
          val mn = st(2 * i).toLong
          val mx = st(2 * i + 1).toLong
          !(mx < lo || mn > hi)
        case _ => true // unconstrained dim, or stats missing for it
      }
    }.map(entryPath)

  private[graft] def prunedPaths(spark: SparkSession, dir: String,
      lo: Long, hi: Long, asOf: Option[Int] = None): Seq[String] =
    prunedPathsBox(spark, dir, Seq(Some((lo, hi))), asOf)

  /** STATS-PRUNED range scan: rows with statsCol ∈ [lo, hi], reading
    * ONLY the files whose manifest [min, max] intersects the range —
    * manifest-level data skipping, the mechanism that makes a selective
    * scan over a 100 TB table touch gigabytes (files that cannot
    * contain a match are skipped from the DRIVER, before any task is
    * scheduled). The residual filter still applies row-level, so the
    * result is exactly `read(...).filter(between)` — q240 gates that
    * equality against the raw-parquet oracle. */
  def readPruned(spark: SparkSession, dir: String, lo: Long, hi: Long,
      asOf: Option[Int] = None): DataFrame = {
    val v = asOf.getOrElse(currentVersion(spark, dir))
    val mf = manifestAt(spark, dir, v)
    require(mf.statsCols.nonEmpty,
      s"SnapTable: $dir carries no stats column — readPruned needs " +
        "a table created with statsCol")
    readPrunedRanges(spark, dir, Seq(Some((lo, hi))), v, mf)
  }

  /** Shared pruned-scan core: skip by [[prunedPathsBox]], then apply
    * the residual row-level range filters, so the result is exactly
    * `read(...).filter(<ranges>)` regardless of dimension count. */
  private def readPrunedRanges(spark: SparkSession, dir: String,
      ranges: Seq[Option[(Long, Long)]], v: Int,
      mf: Manifest): DataFrame = {
    val chosen = prunedPathsOf(mf, ranges)
    val residual = mf.statsCols.zip(ranges).collect {
      case (c, Some((lo, hi))) => col(c).between(lo, hi)
    }.reduce(_ && _)
    if (chosen.isEmpty) read(spark, dir, Some(v)).filter(lit(false))
    else readScoped(spark, dir, chosen, mf) // DV-aware, like read()
      .filter(residual)
  }

  /** The manifest entries a bloom EQUALITY probe on `value` cannot
    * skip: bloom-annotated files where every one of the probe's k bit
    * positions is set, plus any unannotated file (no bits → must
    * read). The probe's positions come from the SAME expression the
    * writer hashed with, run through one 1-row job — no driver-side
    * hash reimplementation to drift. Exposed so the spec can assert
    * the skipping is real (strict subset). */
  /** The bloom declaration, or THE refusal (shared by every bloom
    * entry point so the wording cannot drift). */
  private def bloomDeclRequired(mf: Manifest,
      dir: String): (String, Int, String) =
    mf.bloomDecl.getOrElse(throw new IllegalArgumentException(
      s"requirement failed: SnapTable: $dir carries no bloom column " +
        "— readPrunedEq needs a table created with bloomCol"))

  private[graft] def bloomPrunedPaths(spark: SparkSession, dir: String,
      value: Any, v: Int): Seq[String] = {
    val mf = manifestAt(spark, dir, v)
    bloomPrunedPathsOf(spark, dir, mf, bloomDeclRequired(mf, dir), value)
  }

  private def bloomPrunedPathsOf(spark: SparkSession, dir: String,
      mf: Manifest, decl: (String, Int, String), value: Any): Seq[String] =
    bloomPrunedPathsOfEntries(spark, mf.entries, decl, value)

  private def bloomPrunedPathsOfEntries(spark: SparkSession,
      entries: Seq[String], decl: (String, Int, String),
      value: Any): Seq[String] = {
    val (_, bits, tp) = decl
    val pos = spark.range(1)
      .select(array(bloomPositions(lit(value).cast(tp), bits): _*).as("ps"))
      .head().getSeq[Long](0)
    entries.filter { e =>
      bloomHexOf(e) match {
        case None => true // unannotated: must read
        case Some(hex) => pos.forall { p =>
          val w = (p / 64).toInt
          val word = java.lang.Long.parseUnsignedLong(
            hex.substring(w * 16, w * 16 + 16), 16)
          (word & (1L << (p % 64).toInt)) != 0L
        }
      }
    }.map(entryPath)
  }

  /** BLOOM-PRUNED equality scan: rows with bloomCol = `value`, reading
    * only the files whose per-file bloom bits admit the probe — the
    * point-lookup complement of [[readPruned]]'s min/max ranges (a
    * doc_id equality probe over a hash-laid-out or even perfectly
    * range-clustered 100 TB table prunes little by min/max; bloom bits
    * identify the handful of candidate files from the DRIVER, before
    * any task schedules). False positives cost extra file reads only;
    * the residual row-level filter keeps the result exactly
    * `read(...).filter(col === value)` — q265 gates that equality. */
  def readPrunedEq(spark: SparkSession, dir: String, value: Any,
      asOf: Option[Int] = None): DataFrame = {
    val v = asOf.getOrElse(currentVersion(spark, dir))
    require(v > 0, s"SnapTable: no snapshot to read under $dir")
    val mf = manifestAt(spark, dir, v)
    val decl @ (c, _, tp) = bloomDeclRequired(mf, dir)
    val chosen = bloomPrunedPathsOf(spark, dir, mf, decl, value)
    if (chosen.isEmpty) read(spark, dir, Some(v)).filter(lit(false))
    else readScoped(spark, dir, chosen, mf) // DV-aware, like read()
      .filter(col(c) === lit(value).cast(tp))
  }

  /** RENAME a column — ONE metadata commit, zero data rewritten (the
    * Iceberg column-mapping move): the manifest's `col_map` meta gains
    * a physical→logical entry, every reader applies it at the scan
    * boundary, every writer maps logical batches back to the stable
    * physical file schema, and time travel to a pre-rename version
    * shows the old name (its manifest carries the old map). Declared
    * stats/bloom columns refuse to rename — their declarations name
    * physical columns that annotation scans must keep resolving —
    * and concurrent renames/writers serialize through the layout-drift
    * OCC conflict (a rebase would silently revert the rename via the
    * interloper's carried meta). */
  def renameColumn(spark: SparkSession, dir: String, from: String,
      to: String): Unit = {
    val v = currentVersion(spark, dir)
    require(v > 0, s"SnapTable: $dir holds no table — create first")
    require(from != to, "SnapTable: rename to the same name is a no-op")
    // the new name rides the manifest header's `phys:logical` CSV — a
    // ',' ':' or newline in it would corrupt the col_map parse (or the
    // manifest line structure) for EVERY later operation, with no API
    // path to repair; restrict to identifier characters up front
    require(to.matches("[A-Za-z0-9_]+"),
      s"SnapTable: rename target '$to' must match [A-Za-z0-9_]+ — the " +
        "name is serialized into the manifest's col_map metadata")
    Seq("__fk", "__pos").foreach(c => require(to != c,
      s"SnapTable: '$c' is reserved for the row-identity machinery"))
    val mf = manifestAt(spark, dir, v)
    val m = mf.colMap
    // the recorded union schema (one meta lookup) replaces the legacy
    // per-file footer scan — at 1M files that scan made a "zero-data"
    // rename the most expensive metadata op in the format; an
    // everything-deleted SCHEMA-RECORDING snapshot still renames fine
    // (pure meta), while a legacy one refuses inside physicalSchemaOf
    val phys = physicalSchemaOf(spark, dir, mf).map(_.name).toSeq
    val logical = phys.map(p => m.getOrElse(p, p))
    require(logical.contains(from),
      s"SnapTable: no column '$from' in $dir (columns: $logical)")
    require(!logical.contains(to),
      s"SnapTable: column '$to' already exists in $dir")
    val ph = m.find(_._2 == from).map(_._1).getOrElse(from)
    // the PHYSICAL name rides the same phys:logical CSV (parquet allows
    // ':' in field names) — an unvalidated ph would corrupt the parse
    // just like an unvalidated target
    require(ph.matches("[A-Za-z0-9_]+"),
      s"SnapTable: physical column name '$ph' cannot be serialized " +
        "into col_map metadata — it must match [A-Za-z0-9_]+")
    // the rename folds (toLogical/toPhysical) apply entry-by-entry, so
    // logical names must stay DISJOINT from every other physical name:
    // renaming b→c while physical c exists (mapped away as c→x) would
    // make withColumnRenamed("b","c") produce a duplicate 'c' that the
    // c→x rename then captures — two 'x' columns, every read ambiguous
    require(!phys.contains(to) || to == ph,
      s"SnapTable: '$to' is the PHYSICAL name of another column in " +
        s"$dir — a logical name may not shadow a physical one")
    val shielded = mf.statsCols ++ mf.bloomDecl.map(_._1)
    require(!shielded.contains(from),
      s"SnapTable: '$from' is a declared stats/bloom column — its " +
        "annotations name the physical column; drop/redeclare the " +
        "layout before renaming")
    val m2 = if (ph == to) m - ph else m.updated(ph, to)
    occCommit(spark, dir, v, Set.empty, Set.empty, Seq.empty,
      statsMetaFor(mf.statsCols) ++ bloomMetaFor(mf.bloomDecl) ++
        colMapMetaFor(m2))
  }

  /** OPTIMIZE — compact and re-cluster the current snapshot: rewrite
    * ALL live data into `targetFiles` files, range-clustered on the
    * stats column when the table has one (tight disjoint [min, max]
    * ranges are what make [[readPruned]] effective). Pure maintenance:
    * a new version with identical rows (q241 gates that), fixing the
    * small-file problem an append-per-micro-batch ingest accumulates —
    * thousands of tiny files mean thousands of tasks and useless
    * per-file stats. Old versions still time-travel to the original
    * files until [[vacuum]] retires them. */
  def optimize(spark: SparkSession, dir: String, targetFiles: Int): Unit = {
    require(targetFiles >= 1, "SnapTable: targetFiles must be >= 1")
    val v = currentVersion(spark, dir)
    require(v > 0, s"SnapTable: $dir holds no table — create first")
    val mf = manifestAt(spark, dir, v)
    val cs = mf.statsCols
    // pin the snapshot being compacted: read(..., Some(v)) — reading
    // "current" again at job time could see a concurrent commit and
    // compact rows the OCC read-set below doesn't cover
    val snap = readScoped(spark, dir, mf.paths, mf)
    val clustered = cs.headOption match {
      case Some(sc) => snap.repartitionByRange(targetFiles, col(sc))
      case None => snap.repartition(targetFiles)
    }
    // the compaction read DV-applied rows (read() above), so the new
    // files carry no deleted rows — the vectors FOLD AWAY here: drop
    // them all, and every subsequent read is a plain scan again
    occCommit(spark, dir, v, mf.entries.toSet, mf.entries.toSet,
      writeData(toPhysical(clustered, mf.colMap), dir,
        v + 1, cs, mf.bloomDecl),
      mf.layoutMeta,
      dropDeleteFiles = mf.delFiles.toSet)
  }

  /** Morton bit-spread: the 16 low bits of `x` spaced out to even bit
    * positions (…b2·4, b1·2, b0·0) — plain integer arithmetic on long
    * columns, all codegen'd built-ins. */
  private def spreadBits16(x: Column): Column = {
    var c = x.bitwiseAND(lit(0xFFFFL))
    c = (c.bitwiseOR(shiftleft(c, 8))).bitwiseAND(lit(0x00FF00FFL))
    c = (c.bitwiseOR(shiftleft(c, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    c = (c.bitwiseOR(shiftleft(c, 2))).bitwiseAND(lit(0x33333333L))
    (c.bitwiseOR(shiftleft(c, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** OPTIMIZE ZORDER BY (c1, c2) — rewrite the current snapshot
    * range-clustered on the two columns' interleaved Morton code, and
    * switch the table's stats columns to (c1, c2) so every file gets a
    * 2-D bounding box in the manifest. Z-ordering is what makes
    * MULTI-column skipping work: a 1-D sort gives tight ranges on the
    * sort column and useless full-range stats on everything else; the
    * space-filling curve keeps each file a small tile in BOTH
    * dimensions, so a 2-D box scan ([[readPrunedBox]]) skips on either
    * predicate alone or both together. Each value is rank-normalized
    * to 16 bits via its [min, max] span (one bounded 4-value agg), the
    * codes interleave to 32 bits, and the rewrite is a single
    * repartitionByRange on the code — the same shuffle shape as the
    * 1-D optimize, so the cost at 100 TB is one full rewrite pass
    * either way. NULLs in either column z-map as 0 (they sort first;
    * their files stay unannotated and are never wrongly skipped). */
  def optimizeZorder(spark: SparkSession, dir: String, targetFiles: Int,
      c1: String, c2: String): Unit =
    optimizeZorderFrom(spark, dir, targetFiles, c1, c2,
      currentVersion(spark, dir))

  /** [[optimizeZorder]] planned against an EXPLICIT base version — the
    * OCC seam (mirrors [[deleteWhereFrom]]): rebasing over an
    * interleaved append strips the carried entry's OLD-column
    * annotations (the declaration is changing under it). */
  private[graft] def optimizeZorderFrom(spark: SparkSession, dir: String,
      targetFiles: Int, c1: String, c2: String, v: Int): Unit = {
    require(targetFiles >= 1, "SnapTable: targetFiles must be >= 1")
    require(v > 0, s"SnapTable: $dir holds no table — create first")
    val mf = manifestAt(spark, dir, v)
    // the stats declaration records names writeData reads from PHYSICAL
    // files, so Z-ordering on a column the map touches (either side of
    // any rename) would declare stats nothing can compute — refuse with
    // the remedy named
    Seq(c1, c2).foreach(c => require(
      !mf.colMap.exists { case (ph, lo) => ph == c || lo == c },
      s"SnapTable: cannot Z-order $dir on '$c' — the column map " +
        "touches it; rename it back to its physical name first"))
    val snap = readScoped(spark, dir, mf.paths, mf)
    val mm = snap.agg(
      min(col(c1)).cast("long"), max(col(c1)).cast("long"),
      min(col(c2)).cast("long"), max(col(c2)).cast("long")).head()
    // an all-NULL or non-castable column yields NULL bounds; getLong
    // below would NPE with a bare "value at index N is null" — name
    // the actual problem instead (e.g. a column added by schema
    // evolution that no row has populated yet)
    Seq(c1 -> 0, c2 -> 2).foreach { case (c, i) =>
      require(!mm.isNullAt(i),
        s"SnapTable: cannot Z-order $dir on '$c' — the column has no " +
          "non-NULL long-castable values in the current snapshot")
    }
    def norm(c: String, lo: Long, hi: Long): Column = {
      // rank-normalize in DOUBLE: the long spelling's (value − lo)·65535
      // product overflows int64 once the column span reaches ~2^47,
      // silently scrambling the Morton codes (results stay correct —
      // file stats are measured post-write — but clustering, and with
      // it pruning, degrades to full scans). A double mantissa loses
      // only low-order rank bits instead, and 16-bit codes only need
      // the high ones. Clamped to [0, 65535]; NULL → 0.
      val span = math.max(hi.toDouble - lo.toDouble, 1.0)
      coalesce(least(greatest(
        ((col(c).cast("double") - lit(lo.toDouble)) * lit(65535.0) /
          lit(span)).cast("long"), lit(0L)), lit(65535L)), lit(0L))
    }
    val z = spreadBits16(norm(c1, mm.getLong(0), mm.getLong(1)))
      .bitwiseOR(shiftleft(spreadBits16(
        norm(c2, mm.getLong(2), mm.getLong(3))), 1))
    val clustered = snap.withColumn("__z", z)
      .repartitionByRange(targetFiles, col("__z"))
      .drop("__z")
    // full DV-applied rewrite, same as optimize: vectors fold away
    occCommit(spark, dir, v, mf.entries.toSet, mf.entries.toSet,
      writeData(toPhysical(clustered, mf.colMap), dir,
        v + 1, Seq(c1, c2), mf.bloomDecl),
      statsMetaFor(Seq(c1, c2)) ++ bloomMetaFor(mf.bloomDecl) ++
        colMapMetaFor(mf.colMap),
      dropDeleteFiles = mf.delFiles.toSet)
  }

  /** 2-D STATS-PRUNED box scan: rows with c1 ∈ [lo1, hi1] AND c2 ∈
    * [lo2, hi2], reading only files whose manifest bounding box
    * intersects the query box — the payoff of [[optimizeZorder]]. The
    * residual row-level filter makes the result exactly
    * `read(...).filter(box)`; q246 gates that equality. */
  def readPrunedBox(spark: SparkSession, dir: String,
      lo1: Long, hi1: Long, lo2: Long, hi2: Long,
      asOf: Option[Int] = None): DataFrame = {
    val v = asOf.getOrElse(currentVersion(spark, dir))
    val mf = manifestAt(spark, dir, v)
    require(mf.statsCols.size == 2,
      s"SnapTable: $dir carries ${mf.statsCols.size} stats column(s) — " +
        "readPrunedBox needs a Z-ordered table (optimizeZorder)")
    readPrunedRanges(spark, dir,
      Seq(Some((lo1, hi1)), Some((lo2, hi2))), v, mf)
  }

  // ---- write-audit-publish ---------------------------------------------

  private def stagedPath(dir: String, id: String) =
    new Path(new Path(dir, "_staged"), s"$id.list")

  /** WRITE-AUDIT-PUBLISH, stage 1: write `df`'s rows into the table's
    * data area and record them in a STAGED manifest aside — no snapshot
    * references them, so readers see nothing. Returns the stage id.
    * The staged list records the base version (for [[publish]]'s OCC
    * read point) and the stats annotations under the CURRENT
    * declaration; a declaration change between stage and publish is
    * caught by occCommit's drift conflict. This is the Iceberg/Delta
    * WAP workflow: land data, run quality audits against the staged
    * rows only, then make one atomic go/no-go call — a bad drop never
    * becomes visible, not even transiently. */
  def stage(df: DataFrame, dir: String, tag: String = ""): String = {
    val s = df.sparkSession
    val v = currentVersion(s, dir) // v == 0 is fine: publish creates v1
    val mf = manifestAt(s, dir, v)
    val phys = toPhysical(df, mf.colMap)
    val files = writeData(phys, dir, v + 1, mf.statsCols, mf.bloomDecl)
    val id = java.util.UUID.randomUUID().toString.take(12)
    val f = fs(s, dir)
    f.mkdirs(new Path(dir, "_staged"))
    val out = f.create(stagedPath(dir, id), true)
    val tagLine = if (tag.nonEmpty) s"# tag=$tag\n" else ""
    // the batch's physical schema rides the staged list so publish can
    // contribute it to the manifest's recorded union schema (a staged
    // batch may be schema-evolved wider than the table)
    try out.write((s"# base=$v\n" + tagLine +
      s"# schema=${phys.schema.json}\n" +
      files.sorted.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    id
  }

  /** Every staged-but-unresolved batch as (id, tag) — the sweep surface
    * for crashed WAP cycles: a crash between [[stage]] and
    * publish/discard leaves the staging behind (it is referenced by no
    * manifest, so vacuum never touches it); callers that tag their
    * stagings (the audited ingest tags with the batch id) discard a
    * redelivered batch's leftovers before re-staging. */
  private[graft] def stagedIds(spark: SparkSession,
      dir: String): Seq[(String, String)] = {
    val f = fs(spark, dir)
    val sd = new Path(dir, "_staged")
    if (!f.exists(sd)) Seq.empty
    else f.listStatus(sd).map(_.getPath.getName)
      .collect { case n if n.endsWith(".list") => n.stripSuffix(".list") }
      .flatMap { id =>
        // a twin's cleanup can delete a list between listStatus and
        // open — a vanished staging is RESOLVED, not an error
        try {
          val in = f.open(stagedPath(dir, id))
          val text = try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8) finally in.close()
          val tag = text.split("\n").map(_.trim)
            .find(_.startsWith("# tag="))
            .map(_.stripPrefix("# tag=")).getOrElse("")
          Some((id, tag))
        } catch { case _: java.io.FileNotFoundException => None }
      }.toSeq
  }

  /** True iff some retained snapshot in (downTo, current] records `id`
    * as its staged source — the publish-idempotence backstop that
    * survives an OPTIMIZE rewriting the published files (the path-based
    * check then no longer recognizes them). The walk stops at `downTo`
    * (a staged id can only be stamped in a version GREATER than its
    * recorded base), so a publish is O(versions since stage), not
    * O(table lifetime) — the difference between constant and quadratic
    * total manifest reads for a long-lived WAP-ingested table.
    * Vacuumed-away manifests bound the lookback, so a leftover staged
    * list older than the retention window must be swept manually rather
    * than re-published. */
  private[graft] def stagedIdPublished(spark: SparkSession, dir: String,
      id: String, downTo: Int = 0): Boolean = {
    val f = fs(spark, dir)
    var v = currentVersion(spark, dir)
    while (v >= math.max(downTo + 1, 1)) {
      if (f.exists(manifestPath(dir, v)) &&
          manifestMeta(spark, dir, v).get("staged_id").contains(id))
        return true
      v -= 1
    }
    false
  }

  private def stagedEntries(spark: SparkSession, dir: String,
      id: String): (Int, Seq[String], Option[String]) =
    stagedEntriesOpt(spark, dir, id).getOrElse(
      throw new IllegalArgumentException(
        s"requirement failed: SnapTable: no staged batch $id under $dir"))

  /** [[stagedEntries]] that answers None for a missing list — the
    * cleanup paths (discard, the abandoned sweep) read through this so
    * a twin racing the same cleanup cannot turn idempotent no-op into a
    * stream-killing exception (the exists-then-read TOCTOU window). A
    * list deleted between exists() and open() lands here too. */
  private def stagedEntriesOpt(spark: SparkSession, dir: String,
      id: String): Option[(Int, Seq[String], Option[String])] = {
    val f = fs(spark, dir)
    val p = stagedPath(dir, id)
    val text = try {
      val in = f.open(p)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    } catch { case _: java.io.FileNotFoundException => return None }
    val lines = text.split("\n").map(_.trim).filter(_.nonEmpty)
    val base = lines.find(_.startsWith("# base="))
      .map(_.stripPrefix("# base=").toInt)
      .getOrElse(throw new IllegalStateException(
        s"SnapTable: staged list $id carries no base version"))
    val schema = lines.find(_.startsWith("# schema="))
      .map(_.stripPrefix("# schema="))
    Some((base, lines.filterNot(_.startsWith("#")).toSeq, schema))
  }

  /** The staged rows, for the AUDIT step — exactly the batch's files,
    * never the table. */
  def readStaged(spark: SparkSession, dir: String, id: String): DataFrame = {
    val (_, entries, _) = stagedEntries(spark, dir, id)
    require(entries.nonEmpty,
      s"SnapTable: staging '$id' is EMPTY (a 0-row stage writes no " +
        "files, so there is no schema to read) — check stagedIsEmpty " +
        "and skip the read; publish still works and stamps its meta")
    toLogical(spark.read.option("mergeSchema", "true")
      .parquet(entries.map(e => s"$dir/${entryPath(e)}"): _*),
      colMapOf(spark, dir, currentVersion(spark, dir)))
  }

  /** Does this staging hold zero files? A 0-row batch stages an empty
    * list: [[readStaged]] cannot serve it (no schema), but [[publish]]
    * handles it fine (an empty-add commit that still stamps its meta) —
    * auditing callers check this to pass an empty drop through. */
  def stagedIsEmpty(spark: SparkSession, dir: String, id: String): Boolean =
    stagedEntries(spark, dir, id)._2.isEmpty

  /** WAP stage 3a — PUBLISH: append the staged files to the current
    * snapshot in one atomic commit (pure-append OCC: rebases over
    * anything except a stats-declaration change), stamping the staged
    * id into the commit meta. Returns None without committing when the
    * staging turns out to be ALREADY PUBLISHED — its files live in the
    * current snapshot, or some retained snapshot carries its staged-id
    * stamp (the post-OPTIMIZE case, where the files were compacted
    * away) — in which case the stale list is also swept; the check
    * re-runs before every claim, so two racers publishing the same id
    * cannot both append (the loser's re-check sees the winner's
    * commit). `skipIf` is the caller's own per-claim no-op test (the
    * audited ingest rechecks its batch stamp); a caller-skip leaves the
    * staging in place for the caller to [[discard]].
    *
    * SWEEP INTERACTION: a staging whose numeric tag falls under a
    * concurrent [[sweepAbandonedStagings]] can have its DATA FILES
    * deleted between this publish's staged-list read and its claim.
    * Every claim therefore re-verifies the staged list still exists
    * (the sweeper removes the list before/with the files) and returns
    * None when it is gone — committing would reference deleted files.
    * The re-check shrinks the race to a single claim window; closing
    * it entirely is the caller's supersession `skipIf` (the audited
    * ingest's batch stamp — a sweep only targets stagings whose batch
    * PROVABLY landed, so the stamp recheck skips first). Callers that
    * tag stagings numerically AND run a sweeper MUST pass such a
    * skipIf; untagged/non-numeric stagings are never swept. */
  def publish(spark: SparkSession, dir: String, id: String,
      extraMeta: Map[String, String] = Map.empty,
      skipIf: () => Boolean = () => false): Option[Int] = {
    val (base, entries, stagedSchema) = stagedEntries(spark, dir, id)
    // a vacuum that retired the staging's base manifest leaves nothing
    // to anchor the stats-declaration continuity check on (statsMeta
    // and occCommit both read it); failing HERE with the remedy named
    // beats the raw "no snapshot v<base>" require they'd hit
    if (base > 0 && !fs(spark, dir).exists(manifestPath(dir, base)))
      throw new IllegalStateException(
        s"SnapTable: staging '$id' was staged against v$base, which a " +
          s"vacuum has since retired from $dir — discard() and re-stage " +
          "against the current snapshot")
    val paths = entries.map(entryPath).toSet
    def alreadyLive(): Boolean = {
      val cur = currentVersion(spark, dir)
      cur > 0 && readEntries(spark, dir, cur)
        .exists(e => paths.contains(entryPath(e)))
    }
    // incremental cache across this publish's claims: versions ≤
    // scannedTo were already checked id-free, so each retry scans only
    // manifests committed since the previous claim (a racer may stamp
    // the id at any time — only NEW versions can change the answer)
    var scannedTo = base
    def idPublished(): Boolean = {
      val cur = currentVersion(spark, dir)
      val hit = stagedIdPublished(spark, dir, id, downTo = scannedTo)
      if (!hit) scannedTo = math.max(scannedTo, cur)
      hit
    }
    var stale = false
    var swept = false
    val committed = occCommit(spark, dir, base, Set.empty, Set.empty,
      entries,
      extraMeta ++ Map("staged_id" -> id) ++ layoutMeta(spark, dir, base) ++
        stagedSchema.map("schema" -> _).toMap,
      skipIf = () => {
        if (alreadyLive() || idPublished()) {
          stale = true; true
        } else if (stagedEntriesOpt(spark, dir, id).isEmpty) {
          // a sweeper discarded this staging (list AND data files gone)
          // after our read above — committing now would publish a
          // manifest of deleted files. Nothing live, nothing to clean.
          swept = true; true
        } else skipIf()
      })
    if (!swept && (committed.isDefined || stale))
      fs(spark, dir).delete(stagedPath(dir, id), false)
    committed
  }

  /** WAP stage 3b — DISCARD: drop the staged list and its data files;
    * the audit said no, and nothing was ever visible. IDEMPOTENT: a
    * no-op when the staged list is already gone (e.g. publish's stale
    * path swept it, or a twin discarded first) — cleanup must never be
    * the call that kills a stream. Data files go by deleting their
    * attempt-unique write-dir(s) RECURSIVELY, so the `_SUCCESS` marker
    * and the empty dir don't accumulate (each [[writeData]] call gets
    * its own random-token dir, so no other writer shares it). */
  def discard(spark: SparkSession, dir: String, id: String): Unit = {
    val f = fs(spark, dir)
    stagedEntriesOpt(spark, dir, id) match {
      case None => // already swept (publish's stale path, or a twin)
      case Some((_, entries, _)) =>
        entries.map(e => entryPath(e).split('/').dropRight(1).mkString("/"))
          .distinct
          .foreach(d0 => f.delete(new Path(s"$dir/$d0"), true))
        f.delete(stagedPath(dir, id), false)
    }
  }

  /** Sweep PROVABLY-ABANDONED stagings: every staged batch whose
    * numeric tag is ≤ `upToBatch` (the caller's last-applied batch id).
    * Such a staging can never publish — its batch already landed (or
    * was superseded), and a publish attempt's own stamp recheck would
    * skip. It is USUALLY crash litter; it can also be a zombie twin
    * still mid-cycle on the already-applied batch, which is why the
    * audited-ingest loop wraps its cycle in a supersession guard (any
    * failure once the stamp covers the batch reports "not published",
    * never a stream death) and why discard/publish tolerate a missing
    * list. A staging tagged with a batch GREATER than `upToBatch` is
    * left alone: it may belong to a LIVE twin whose batch has NOT
    * landed, and discarding it would forfeit data, not just work.
    *
    * A swept staging whose files turn out to be LIVE (its publish
    * committed but the crash hit before the list cleanup) loses only
    * its stale LIST — the data files stay, exactly like publish's own
    * stale path. Returns the number of stagings resolved. */
  def sweepAbandonedStagings(spark: SparkSession, dir: String,
      upToBatch: Long): Int = {
    val f = fs(spark, dir)
    var swept = 0
    stagedIds(spark, dir).foreach { case (id, tag) =>
      val abandoned = scala.util.Try(tag.toLong).toOption.exists(_ <= upToBatch)
      if (abandoned) stagedEntriesOpt(spark, dir, id).foreach {
        case (base, entries, _) => // None = a racing twin swept it first
          val paths = entries.map(entryPath).toSet
          val cur = currentVersion(spark, dir)
          val live = cur > 0 && readEntries(spark, dir, cur)
            .exists(e => paths.contains(entryPath(e)))
          if (live || stagedIdPublished(spark, dir, id, downTo = base))
            f.delete(stagedPath(dir, id), false) // files live; list stale
          else discard(spark, dir, id)
          swept += 1
      }
    }
    swept
  }

  /** Retire history: keep the newest `retain` snapshots, delete older
    * manifests and every data file referenced ONLY by them. Time travel
    * reaches the retained versions; anything older is gone — the
    * explicit trade a real lakehouse's VACUUM makes. */
  def vacuum(spark: SparkSession, dir: String, retain: Int): Unit = {
    require(retain >= 1, "SnapTable: must retain at least the current snapshot")
    val f = fs(spark, dir)
    val cur = currentVersion(spark, dir)
    val cutoff = cur - retain + 1
    if (cutoff <= 1) return
    val keepVs = (cutoff to cur).toSeq
    // exists-guarded like the deletion loop below: a PREVIOUS deeper
    // vacuum may already have retired the older end of this window
    // (vacuum(3) then vacuum(10) must not crash reading v11..v17).
    // Deletion-vector sidecars follow the same rule as data files:
    // retained while any kept manifest's delete_files references them,
    // retired with the last snapshot that did.
    // SEGMENTS retire exactly like data files: kept while any retained
    // manifest's head references them, deleted with the last snapshot
    // that did (they are carried by reference across commits the same
    // way)
    def filesOfVersion(v: Int): Seq[String] = {
      val m = manifestAt(spark, dir, v) // ONE fetch: paths AND sidecars
      m.paths ++ m.delFiles ++ m.segs.map(_._1)
    }
    val keepFiles = keepVs
      .filter(v => f.exists(manifestPath(dir, v)))
      .flatMap(filesOfVersion).toSet
    // Materialize every retired version's file list BEFORE deleting
    // anything: retired versions share segment files by reference, so
    // deleting v1's segments and then calling manifestAt(v2) — which
    // must READ those shared segments — would throw mid-loop. A retired
    // version whose segments a PREVIOUS crashed vacuum already removed
    // is unreadable; treat its files as unknown (they leak, bounded by
    // that crash window) rather than wedging every later vacuum.
    val retired = (1 until cutoff)
      .filter(v => f.exists(manifestPath(dir, v)))
      .map(v => v -> scala.util.Try(filesOfVersion(v)).getOrElse(Nil))
    // Manifests first, then files: a crash mid-run then leaves orphaned
    // data/segment files (harmless, skipped above on retry) instead of
    // live manifests pointing at deleted segments.
    retired.foreach { case (v, _) => f.delete(manifestPath(dir, v), false) }
    retired.foreach { case (_, files) =>
      files
        .filterNot(keepFiles.contains)
        .foreach(r => f.delete(new Path(s"$dir/$r"), false))
    }
  }

  /** ORPHAN-FILE cleanup (Iceberg's `remove_orphan_files`): delete
    * files under the table dir that NO retained manifest, referenced
    * segment, or staged WAP batch references. Orphans accrue from the
    * crash windows the protocols deliberately leak rather than wedge
    * on — a writer that died between writing data and claiming its
    * manifest, a commit-race loser killed before its cleanup, a
    * `.inprogress` head tmp, a [[vacuum]] interrupted after deleting
    * manifests but before files. They are invisible to every reader;
    * this reclaims their storage.
    *
    * The `olderThanMs` horizon (default 24 h) is the safety rail for
    * IN-FLIGHT writers: a just-written, not-yet-committed file is
    * younger than it and never touched. It must exceed the longest
    * plausible write-to-commit gap — shrink it only in tests. A
    * racing VACUUM is benign: a manifest vanishing mid-walk is
    * skipped (its files are either retired or referenced elsewhere),
    * and a directory vanishing mid-LISTING ends the sweep early with
    * what was reclaimed so far (idempotent — re-run for the rest). A
    * racing PUBLISH is closed out by ordering: staged lists are read
    * BEFORE the manifest walk, so a batch published in between is
    * covered by whichever side the race lands on. Any OTHER read
    * failure on a retained manifest aborts the sweep — guessing at a
    * live set it could not fully read would turn a transient IO error
    * into deleted live data. Cost: one recursive listing plus the
    * retained-manifest walk — O(files on disk), the floor for any
    * orphan scan. Returns the deleted relative paths. */
  def removeOrphanFiles(spark: SparkSession, dir: String,
      olderThanMs: Long = 24L * 3600 * 1000): Seq[String] = {
    require(olderThanMs >= 0,
      "SnapTable: the orphan horizon cannot be negative")
    val f = fs(spark, dir)
    val root = f.makeQualified(new Path(dir))
    if (!f.exists(root)) return Seq.empty
    val horizon = System.currentTimeMillis() - olderThanMs
    val live = scala.collection.mutable.Set.empty[String]
    // staged lists FIRST: publish commits the manifest and THEN deletes
    // its staged list, so a publish racing this sweep either leaves the
    // list (files live via the staged walk) or has already committed a
    // manifest the LATER version walk will see — never neither
    stagedIds(spark, dir).foreach { case (id, _) =>
      live += s"_staged/$id.list"
      stagedEntriesOpt(spark, dir, id).foreach { case (_, es, _) =>
        live ++= es.map(entryPath)
      }
    }
    listVersions(spark, dir).foreach { v =>
      live += f"_snapshots/v$v%05d.manifest"
      // recover ONLY a concurrently-vacuumed manifest (FNFE); any other
      // failure must abort — silently dropping a retained snapshot from
      // the live set would delete its live files
      try {
        val m = manifestAt(spark, dir, v)
        live ++= m.paths
        live ++= m.delFiles
        live ++= m.segs.map(_._1)
      } catch { case _: java.io.FileNotFoundException => () }
    }
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val it = f.listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        val rel = root.toUri.relativize(st.getPath.toUri).getPath
        if (!live.contains(rel) && st.getModificationTime < horizon &&
            f.delete(st.getPath, false))
          deleted += rel
      }
    } catch {
      // a racing vacuum deleted a directory mid-listing: end the sweep
      // with what was reclaimed — the next run picks up the rest
      case _: java.io.FileNotFoundException => ()
    }
    deleted.toSeq
  }

  // ---- IVM and CDC over manifest deltas ---------------------------------

  /** History depth past which the batch IVM stops building one united
    * plan and delegates to the incremental fold: the union spelling
    * stacks 2 aggregates per version into a single DAG, which is the
    * right shape for a shallow history (one job, full pipeline
    * parallelism) but grows the PLAN linearly with versions — at
    * thousands of snapshots the driver pays analysis/codegen on a
    * multi-thousand-node tree before any task runs. */
  final val IvmUnionMaxVersions = 16

  private[graft] def snapshotIvmStatsOf(s: SparkSession,
      d: String): DataFrame = {
    val vmax = currentVersion(s, d)
    if (vmax > IvmUnionMaxVersions) {
      // deep history: walk the SAME manifest-delta rule and per-delta
      // aggregate through the streaming fold (value-equality with the
      // union spelling is by construction — shared primitives; the
      // SnapTableSpec ≥32-version case asserts it anyway), carrying a
      // bounded ≤#sources driver state instead of a 2·V-branch plan
      val st = ivmFoldSourceStats(s, d, 0, vmax, Map.empty)
      import s.implicits._
      st.toSeq.sortBy(_._1).map { case (src, (n, c)) => (src, n, c) }
        .toDF("source", "n_docs", "total_chars")
        .orderBy(col("source"))
    } else {
      // the per-transition signed frames (ivmDeltaFrames) are the shared
      // primitive the streaming fold uses too — neither spelling can
      // drift from the other
      val deltas = ivmDeltaFramesBetween(s, d, 0, vmax)
      require(deltas.nonEmpty, s"SnapTable: $d holds no foldable deltas")
      deltas
        .reduce(_ unionByName _)
        .groupBy(col("source"))
        .agg(sum(col("dn")).as("n_docs"),
          sum(col("dchars")).as("total_chars"))
        .filter(col("n_docs") > 0) // a fully-deleted source vanishes, as
        .orderBy(col("source"))    // it does from a rescan
    }
  }

  /** One version transition's DV-AWARE delta: the data files the commit
    * added/removed/carried, plus both endpoints' deletion-vector sets —
    * everything the IVM/CDC fold needs to account row-level (sidecar)
    * deletes alongside file-level changes. */
  private[graft] final class VersionDelta(
      val addedFiles: Set[String], val removedFiles: Set[String],
      carriedF: () => Set[String],
      val dvFrom: Seq[String], val dvTo: Seq[String],
      val colMapFrom: Map[String, String] = Map.empty,
      val colMapTo: Map[String, String] = Map.empty) {
    /** LAZY: the carried set is the near-whole table on every
      * transition, but only the DV-fold terms (a sidecar landing over
      * carried files) ever need it — the common append/rewrite delta is
      * computed from changed segments alone. */
    lazy val carriedFiles: Set[String] = carriedF()
    def sidecarsAdded: Seq[String] = dvTo.filterNot(dvFrom.toSet)
    def sidecarsDropped: Seq[String] = dvFrom.filterNot(dvTo.toSet)
  }

  /** The DV-aware delta of each version transition in (fromV, toV] —
    * THE delta rule, shared by the q251/q264 batch IVM and the streaming
    * fold so the spellings cannot drift. Each manifest is read exactly
    * once (entries AND delete_files parse from the same fetched text,
    * via the same metaOfText/entriesOfText logic every other reader
    * uses), so a walk over V versions costs V+1 manifest reads — on
    * HDFS that is NameNode round-trips on a stream's recovery path.
    * `fromV = 0` starts from the empty table (v1's delta = its whole
    * file set). */
  private[graft] def versionDeltas(s: SparkSession, dir: String,
      fromV: Int, toV: Int): Seq[VersionDelta] = {
    if (fromV >= toV) return Seq.empty // no-op walk reads no manifest
    // SEGMENT-IDENTITY delta: a segment referenced by both endpoints
    // contributed no file change (segments are immutable), so each
    // transition expands ONLY the segments that changed hands — the
    // walk's cost tracks commit sizes, not the table. Survivor spills
    // (a touched segment's entries relocating into the new segment)
    // cancel out of added/removed via the candidate intersection, and
    // land in the carried set instead.
    def parse(v: Int)
        : (Seq[String], Seq[String], Seq[String], Map[String, String]) =
      if (v <= 0) (Seq.empty, Seq.empty, Seq.empty, Map.empty)
      else {
        val text = readText(s, dir, v)
        val meta = metaOfText(text)
        (segRefsOfText(text), entriesOfText(text).map(entryPath),
          delFilesOfMeta(meta), colMapOfMeta(meta))
      }
    var (prevRefs, prevInline, prevDv, prevCm) = parse(fromV)
    (fromV + 1 to toV).map { v =>
      val (curRefs, curInline, curDv, curCm) = parse(v)
      val prevSet = prevRefs.toSet
      val curSet = curRefs.toSet
      def expand(refs: Seq[String]): Seq[String] =
        refs.flatMap(readSegment(s, dir, _)).map(entryPath)
      val addedCand =
        (expand(curRefs.filterNot(prevSet)) ++ curInline).toSet
      val removedCand =
        (expand(prevRefs.filterNot(curSet)) ++ prevInline).toSet
      val shared = curRefs.filter(prevSet)
      val d = new VersionDelta(addedCand -- removedCand,
        removedCand -- addedCand,
        () => expand(shared).toSet ++ (addedCand intersect removedCand),
        prevDv, curDv, prevCm, curCm)
      prevRefs = curRefs; prevInline = curInline
      prevDv = curDv; prevCm = curCm
      d
    }
  }

  /** Signed per-source (source, dn, dchars) aggregate of a row relation
    * — the IVM aggregate spelling, shared by every delta term. */
  private def ivmSignedAgg(rows: DataFrame, sign: Long): DataFrame =
    rows.groupBy(col("source"))
      .agg((count(lit(1)) * sign).as("dn"),
        (sum(col("n_chars")) * sign).as("dchars"))

  /** The rows a sidecar set covers WITHIN `scope` files: a scoped read
    * of ONLY the data files the sidecars actually touch (one bounded
    * ≤#files distinct over the sidecar rows picks them), inner-joined
    * back on (file, pos) — how a deletion-vector commit folds as a
    * NEGATIVE delta without rescanning the table. None when the
    * sidecars touch nothing in scope. */
  private def dvCoveredRows(s: SparkSession, dir: String,
      sidecars: Seq[String], scope: Set[String]): Option[DataFrame] = {
    if (sidecars.isEmpty || scope.isEmpty) return None
    val dv = dvPairs(s, dir, sidecars)
    val scopeKeys = scope.map(pathKey)
    val touchedKeys = dv.select(col("__fk")).distinct()
      .collect().map(_.getString(0)).filter(scopeKeys.contains).toSet
    if (touchedKeys.isEmpty) return None
    val touched = scope.filter(p => touchedKeys.contains(pathKey(p)))
    Some(rawKeyed(s, dir, touched.toSeq.sorted)
      .join(dv, Seq("__fk", "__pos")).drop("__fk", "__pos"))
  }

  /** The signed per-source aggregate frames of ONE transition — the
    * DV-AWARE IVM delta rule (round 13's file-level refusal, closed):
    *
    *  - files ADDED contribute their rows NET of the destination
    *    version's vectors (a mergeMor's own update files are clean, but
    *    a stacked later vector may already cover an added file);
    *  - files REMOVED subtract what was VISIBLE of them at the source
    *    version — their content net of the source's vectors (a CoW
    *    rewrite of a DV-covered file must not subtract rows the view
    *    never held);
    *  - sidecars ADDED over carried files subtract exactly the rows
    *    their (file, pos) entries cover — a scoped read of only the
    *    DV'd files, never the table (positions are recorded against the
    *    DV-applied view, so they never overlap an earlier vector);
    *  - sidecars DROPPED over carried files add those rows back (no
    *    current writer produces this — optimize removes every file it
    *    un-vectors — but the algebra is kept total for soundness).
    *
    * Each term reads only changed/covered files, so a transition's fold
    * cost tracks the commit size, not the table — the property that
    * makes incremental maintenance worth having at 100 TB. */
  private def ivmDeltaFrames(s: SparkSession, dir: String,
      d: VersionDelta): Seq[DataFrame] = {
    val added =
      if (d.addedFiles.isEmpty) None
      else Some(ivmSignedAgg(
        readKeyed(s, dir, d.addedFiles.toSeq.sorted, d.dvTo)
          .drop("__fk", "__pos"), 1L))
    val removed =
      if (d.removedFiles.isEmpty) None
      else Some(ivmSignedAgg(
        readKeyed(s, dir, d.removedFiles.toSeq.sorted, d.dvFrom)
          .drop("__fk", "__pos"), -1L))
    val vectored = dvCoveredRows(s, dir, d.sidecarsAdded, d.carriedFiles)
      .map(ivmSignedAgg(_, -1L))
    val unvectored = dvCoveredRows(s, dir, d.sidecarsDropped, d.carriedFiles)
      .map(ivmSignedAgg(_, 1L))
    (added ++ removed ++ vectored ++ unvectored).toSeq
  }

  /** Every transition's signed frames across (fromV, toV] — the shared
    * feed of the union-spelling batch IVM (q251/q264) and the chunked
    * streaming fold. */
  private[graft] def ivmDeltaFramesBetween(s: SparkSession, dir: String,
      fromV: Int, toV: Int): Seq[DataFrame] =
    versionDeltas(s, dir, fromV, toV).flatMap(ivmDeltaFrames(s, dir, _))

  /** One transition's (+rows, −rows) as ROW relations — the same four
    * DV-aware terms as [[ivmDeltaFrames]], kept un-aggregated for
    * key-level consumers (the incremental CDC): + = added files net of
    * the destination's vectors plus dropped-sidecar resurrections; − =
    * removed files net of the source's vectors plus newly-vectored
    * rows on carried files. None = the transition touched nothing on
    * that side. */
  private def deltaRows(s: SparkSession, dir: String, d: VersionDelta)
      : (Option[DataFrame], Option[DataFrame]) = {
    // each side serves its endpoint's LOGICAL view (the names read()
    // serves there) — a physical-name side on a renamed table would
    // silently NULL every mapped column through cdcSide's evolution
    // fallback (differs=false, updates undercounted). A single commit
    // cannot rename AND change data, so within one transition the two
    // maps only differ when the transition IS the (row-less) rename.
    def scan(files: Set[String], dv: Seq[String],
        cm: Map[String, String]): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(toLogical(readKeyed(s, dir, files.toSeq.sorted, dv)
        .drop("__fk", "__pos"), cm))
    def opt(dfs: Seq[DataFrame]) = dfs.reduceOption(_ unionByName _)
    val plus = opt(scan(d.addedFiles, d.dvTo, d.colMapTo).toSeq ++
      dvCoveredRows(s, dir, d.sidecarsDropped, d.carriedFiles)
        .map(toLogical(_, d.colMapTo)))
    val minus = opt(scan(d.removedFiles, d.dvFrom, d.colMapFrom).toSeq ++
      dvCoveredRows(s, dir, d.sidecarsAdded, d.carriedFiles)
        .map(toLogical(_, d.colMapFrom)))
    (plus, minus)
  }

  /** Tag one CDC side: (key, <tag>_present = 1, <tag>_<col>…). A
    * column ABSENT from the relation (schema-evolved narrow delta
    * files) reads as NULL — matching what a mergeSchema full-snapshot
    * read serves, so the incremental and semantic spellings stay
    * interchangeable on evolved histories. */
  private[graft] def cdcSide(df: DataFrame, key: String,
      cols: Seq[String], tag: String,
      types: Map[String, org.apache.spark.sql.types.DataType] = Map.empty)
      : DataFrame =
    df.select(col(key) +: lit(1L).as(s"${tag}_present") +:
      cols.map { c =>
        val base =
          if (df.columns.contains(c)) col(c)
          // typed NULL when the consumer needs union-compatible sides
          // (the row-level feed's event structs); bare NULL otherwise
          else types.get(c).map(t => lit(null).cast(t)).getOrElse(lit(null))
        base.as(s"${tag}_$c")
      }: _*)

  /** Null-safe any-column-differs predicate over tagged sides (a
    * column transitioning NULL↔value is an update); an EMPTY cols list
    * means presence-only CDC — updates are always 0 then. */
  private[graft] def cdcDiffers(cols: Seq[String]): Column =
    cols.map(c => !(col(s"a_$c") <=> col(s"b_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))

  /** Refuse CDC column requests that match NOTHING in the table: the
    * absent-as-NULL fallback in [[cdcSide]] exists for schema-EVOLVED
    * delta files (a column the table has that an old file lacks), not
    * for typos or physical names of renamed columns — both of which
    * would silently read as NULL on both sides (differs=false,
    * n_updated undercounts) instead of failing. Validated against the
    * window END's logical schema, what read() serves there. */
  private def validateCdcColumns(s: SparkSession, dir: String,
      key: String, cols: Seq[String], toV: Int): Unit = {
    val mf = manifestAt(s, dir, toV)
    val logical = physicalSchemaOf(s, dir, mf)
      .map(f => mf.colMap.getOrElse(f.name, f.name))
    val missing = (key +: cols).filterNot(logical.contains)
    require(missing.isEmpty,
      s"SnapTable: CDC column(s) ${missing.mkString(", ")} are not in " +
        s"$dir's schema at v$toV (columns: ${logical.sorted.mkString(", ")})" +
        " — on a renamed table pass the LOGICAL name")
  }

  /** THE CDC count aggregate over the tagged transition union —
    * shared by the semantic (q239) and manifest-scoped (q267)
    * spellings so the insert/delete/update rule cannot fork. */
  private[graft] def cdcCounts(tagged: DataFrame): DataFrame =
    tagged
      .groupBy(col("from_v"), col("to_v"))
      .agg(
        sum(when(col("a_present").isNull, 1L).otherwise(0L))
          .as("n_inserted"),
        sum(when(col("b_present").isNull, 1L).otherwise(0L))
          .as("n_deleted"),
        sum(when(col("a_present").isNotNull && col("b_present").isNotNull
          && col("differs"), 1L).otherwise(0L)).as("n_updated"))
      .orderBy(col("from_v"))

  /** MANIFEST-SCOPED incremental CDC: per version transition in
    * (fromV, toV], key-level (n_inserted, n_deleted, n_updated)
    * computed from ONLY the files/sidecar rows each commit touched —
    * the delta ROW relations full-outer-joined on the key, where a key
    * present on both sides with IDENTICAL content is a pure file move
    * (a compaction/rewrite carrying the row) and counts as nothing.
    * This is the feed the semantic spelling
    * ([[graft.queries.Snapshots.snapshotCdc]], q239) specifies by
    * joining FULL snapshots per transition; at 100 TB the semantic
    * spelling reads corpus × versions where this reads each commit's
    * drop-sized delta. CAVEAT — an OPTIMIZE transition's delta IS the
    * table (every file removed + rewritten), so such a window pays one
    * full scan + self-join and reports one all-zero event row; budget
    * compactions accordingly. DV transitions diff exactly: a MoR
    * delete's sidecar rows surface as deletes, a MoR merge's as
    * updates/inserts. One action for a drip-fed window (transitions
    * union before the single aggregate); a DEEP catch-up window past
    * [[IvmUnionMaxVersions]] transitions chunks instead — one bounded
    * job per chunk, the q264 fold's grouping, so neither the plan nor
    * the driver pays O(window) at once (per-chunk results are count
    * rows, ≤ the output itself). File-level-unchanged transitions
    * (pure metadata) emit no row, and an all-metadata
    * window returns an EMPTY frame. Keys are assumed unique per
    * snapshot (the format's merge contract). q267 gates value-equality
    * with the semantic spelling's closed-form oracle. */
  def cdcIncremental(s: SparkSession, dir: String, key: String,
      cols: Seq[String], fromV: Int, toV: Int): DataFrame = {
    validateCdcColumns(s, dir, key, cols, toV)
    val transitions = versionDeltas(s, dir, fromV, toV).zipWithIndex
      .flatMap { case (d, i) =>
        val fv = fromV + i
        val (plus, minus) = deltaRows(s, dir, d)
        val joined = (plus, minus) match {
          case (None, None) => None
          case (Some(p), None) => Some(cdcSide(p, key, cols, "b").select(
            col(key), lit(null).cast("long").as("a_present"),
            col("b_present"), lit(false).as("differs")))
          case (None, Some(m)) => Some(cdcSide(m, key, cols, "a").select(
            col(key), col("a_present"),
            lit(null).cast("long").as("b_present"),
            lit(false).as("differs")))
          case (Some(p), Some(m)) =>
            Some(cdcSide(m, key, cols, "a")
              .join(cdcSide(p, key, cols, "b"), Seq(key), "full_outer")
              .select(col(key), col("a_present"), col("b_present"),
                cdcDiffers(cols).as("differs")))
        }
        joined.map(_.select(lit(fv.toLong).as("from_v"),
          lit(fv + 1L).as("to_v"), col("a_present"), col("b_present"),
          col("differs")))
      }
    // an all-metadata window (e.g. a lone rename) has NO changed
    // transitions — that is an EMPTY feed, not an error (a require here
    // would kill a streaming consumer whose window happened to cover
    // only maintenance commits)
    if (transitions.isEmpty)
      s.range(0).select(col("id").as("from_v"), col("id").as("to_v"),
        col("id").as("n_inserted"), col("id").as("n_deleted"),
        col("id").as("n_updated"))
    else if (transitions.size <= IvmUnionMaxVersions)
      cdcCounts(transitions.reduce(_ unionByName _))
    else {
      // DEEP catch-up window: a single plan unioning hundreds of
      // per-transition joins is a planning/driver cost that tracks the
      // WINDOW, not the commits — chunk it (the q264 fold's grouping):
      // one job per IvmUnionMaxVersions transitions, each yielding ≤ chunk-many
      // count rows, so the driver merge is bounded by #transitions
      // (already the output size) and no single plan exceeds the chunk
      val chunkDfs = transitions.grouped(IvmUnionMaxVersions)
        .map(ch => cdcCounts(ch.reduce(_ unionByName _))).toSeq
      val rows = chunkDfs.flatMap(_.collect().toSeq)
      s.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
        chunkDfs.head.schema).orderBy(col("from_v"))
    }
  }

  /** ROW-LEVEL incremental CDC: the keyed change rows of every
    * transition in (fromV, toV], computed from ONLY the files/sidecar
    * rows each commit touched — what [[cdcIncremental]] counts, kept as
    * rows: the feed a replica or index maintainer actually applies
    * (Delta's `_change_type` table-changes contract). Output columns:
    * (from_v, to_v, _change_type ∈ {insert, delete, update_preimage,
    * update_postimage}, <key>, <cols…>) — an update emits BOTH images,
    * a pure file move (compaction) emits nothing, a metadata-only
    * window an empty frame. One `explode` over the per-transition
    * full-outer join, so each transition is a single keyed shuffle of
    * delta-sized inputs (the insert-only / delete-only transitions skip
    * even the join). On renamed tables the feed speaks LOGICAL names
    * (requested columns validate against the window end's schema). */
  def cdcRows(s: SparkSession, dir: String, key: String,
      cols: Seq[String], fromV: Int, toV: Int): DataFrame = {
    import org.apache.spark.sql.types._
    validateCdcColumns(s, dir, key, cols, toV)
    val mfTo = manifestAt(s, dir, toV)
    val logicalTypes = physicalSchemaOf(s, dir, mfTo).fields
      .map(f => (mfTo.colMap.getOrElse(f.name, f.name), f.dataType)).toMap
    def evStruct(tp: String, tag: String): Column =
      struct(lit(tp).as("_change_type") +:
        cols.map(c => col(s"${tag}_$c").as(c)): _*)
    def out(df: DataFrame, fv: Int, changeType: Column,
        valueOf: String => Column): DataFrame =
      df.select(Seq(lit(fv.toLong).as("from_v"), lit(fv + 1L).as("to_v"),
        changeType.as("_change_type"), col(key)) ++
        cols.map(c => valueOf(c).as(c)): _*)
    val transitions = versionDeltas(s, dir, fromV, toV).zipWithIndex
      .flatMap { case (d, i) =>
        val fv = fromV + i
        val (plus, minus) = deltaRows(s, dir, d)
        def tagged(df: DataFrame, tag: String) =
          cdcSide(df, key, cols, tag, logicalTypes)
        (plus, minus) match {
          case (None, None) => None
          case (Some(p), None) => // pure append: every row an insert
            Some(out(tagged(p, "b"), fv, lit("insert"), c => col(s"b_$c")))
          case (None, Some(m)) => // pure delete
            Some(out(tagged(m, "a"), fv, lit("delete"), c => col(s"a_$c")))
          case (Some(p), Some(m)) =>
            val j = tagged(m, "a").join(tagged(p, "b"), Seq(key),
              "full_outer").withColumn("__differs", cdcDiffers(cols))
            val both =
              col("a_present").isNotNull && col("b_present").isNotNull
            val evs = array(
              when(col("a_present").isNull, evStruct("insert", "b")),
              when(col("b_present").isNull, evStruct("delete", "a")),
              when(both && col("__differs"),
                evStruct("update_preimage", "a")),
              when(both && col("__differs"),
                evStruct("update_postimage", "b")))
            Some(j
              .select(lit(fv.toLong).as("from_v"), lit(fv + 1L).as("to_v"),
                col(key), explode(array_compact(evs)).as("__e"))
              .select(Seq(col("from_v"), col("to_v"),
                col("__e._change_type").as("_change_type"), col(key)) ++
                cols.map(c => col(s"__e.$c").as(c)): _*))
        }
      }
    if (transitions.nonEmpty) transitions.reduce(_ unionByName _)
    else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("from_v", LongType, nullable = false),
        StructField("to_v", LongType, nullable = false),
        StructField("_change_type", StringType, nullable = false),
        StructField(key, logicalTypes(key))) ++
        cols.map(c => StructField(c, logicalTypes(c)))))
  }

  /** Highest source version a REPLICA table has applied (the `cdc_v`
    * commit stamp), 0 if none — the restart cursor of
    * [[applyCdcRows]]/the streaming replica maintainer, persisted IN
    * the replica's own commits so no caller-carried state exists. Same
    * descending-scan shape as [[lastAppliedBatch]]. */
  def lastAppliedCdcVersion(spark: SparkSession, dir: String): Int = {
    val f = fs(spark, dir)
    var v = currentVersion(spark, dir)
    while (v >= 1) {
      if (f.exists(manifestPath(dir, v))) {
        manifestMeta(spark, dir, v).get("cdc_v") match {
          case Some(b) => return b.toInt
          case None => ()
        }
      }
      v -= 1
    }
    0
  }

  /** Apply ONE source transition's [[cdcRows]] batch to a replica
    * table as a single atomic merge-on-read commit — deletes and
    * update PREIMAGES become a deletion-vector sidecar, inserts and
    * update POSTIMAGES append as new files — stamped with the source
    * version (`cdc_v`) for exactly-once application: a redelivered or
    * restarted apply of an already-stamped transition is a no-op
    * (returns false), exactly the [[appendOnce]] contract. The first
    * transition (replica not yet created) bootstraps the table from
    * the batch's inserts. The replica then provably equals
    * `read(source)` after each applied transition — the consumer
    * contract the streaming replica maintainer gates in its spec. */
  def applyCdcRows(s: SparkSession, dir: String, changes: DataFrame,
      key: String, sourceV: Int): Boolean = {
    if (lastAppliedCdcVersion(s, dir) >= sourceV) return false
    val ins = changes
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .drop("_change_type", "from_v", "to_v")
    val v0 = currentVersion(s, dir)
    if (v0 == 0)
      return occCommit(s, dir, 0, Set.empty, Set.empty,
        writeData(ins, dir, 1),
        Map("cdc_v" -> sourceV.toString) ++ schemaMetaFor(ins),
        skipIf = () => lastAppliedCdcVersion(s, dir) >= sourceV).isDefined
    val mf = manifestAt(s, dir, v0)
    val cmap = mf.colMap
    val delKeys = changes
      .filter(col("_change_type").isin("delete", "update_preimage"))
      .select(col(key)).distinct()
    val token = java.util.UUID.randomUUID().toString.take(8)
    val rel = f"_deletes/d${v0 + 1}%05d-$token"
    val f = fs(s, dir)
    // an append-only micro-batch — the streaming replica's dominant
    // case — must not pay a replica-wide keyed join plus a sidecar
    // write/read-back/delete cycle: probe the DELTA-SIZED delete arm
    // first and capture (file, position) pairs against the full view
    // (mergeMorFrom's capture) only when it is non-empty
    val (parts, touchedKeys) =
      if (delKeys.isEmpty) (Seq.empty[String], Set.empty[String])
      else {
        val matches = readKeyed(s, dir, mf.paths, mf.delFiles, cmap)
          .join(broadcast(delKeys), Seq(key))
          .select(col("__fk").as("file_key"), col("__pos").as("pos"))
          .repartition(1)
        matches.write.mode("errorifexists").parquet(s"$dir/$rel")
        val ps = f.listStatus(new Path(s"$dir/$rel"))
          .map(_.getPath.getName)
          .filter(_.endsWith(".parquet")).sorted.map(n => s"$rel/$n").toSeq
        val tk =
          if (ps.isEmpty) Set.empty[String]
          else s.read.parquet(ps.map(r => s"$dir/$r"): _*)
            .select(col("file_key")).distinct()
            .collect().map(_.getString(0)).toSet
        if (tk.isEmpty) f.delete(new Path(s"$dir/$rel"), true)
        (ps, tk)
      }
    val insPhys = toPhysical(ins, cmap)
    val newFiles = writeData(insPhys, dir, v0 + 1,
      mf.statsCols, mf.bloomDecl)
    try occCommit(s, dir, v0, entriesTouchedBy(mf, touchedKeys),
      Set.empty, newFiles,
      Map("cdc_v" -> sourceV.toString) ++ mf.layoutMeta ++
        schemaMetaFor(insPhys),
      addDeleteFiles = (if (touchedKeys.isEmpty) Seq.empty else parts),
      skipIf = () => lastAppliedCdcVersion(s, dir) >= sourceV).isDefined
    catch {
      case scala.util.control.NonFatal(e) =>
        if (touchedKeys.nonEmpty) f.delete(new Path(s"$dir/$rel"), true)
        newFiles.map(p =>
          entryPath(p).split('/').dropRight(1).mkString("/")).distinct
          .foreach(d0 => f.delete(new Path(s"$dir/$d0"), true))
        throw e
    }
  }

  /** Fold the manifest deltas of versions (fromV, toV] into a carried
    * per-source (n_docs, char_sum) state — q251's IVM step as a
    * REUSABLE primitive for maintained views (the streaming twin folds
    * each micro-batch's new versions; `fromV = 0` re-seeds). Each step
    * reads ONLY the files the transition added/removed; the per-delta
    * aggregates are #sources rows, so the driver fold is bounded
    * regardless of corpus size. Invertible aggregates only — a removed
    * file's rows subtract. Sources folded to zero docs drop from the
    * state (a re-appearing source re-enters fresh).
    *
    * VACUUM-AWARE: delta folding needs `fromV`'s manifest and every
    * subsequent transition's removed files. When vacuum retired the
    * fold point (manifest gone), the carried state cannot be advanced
    * delta-wise — the fold RESETS and re-seeds from the oldest RETAINED
    * manifest (one directory listing, never per-version probes),
    * treating it as a whole-table add; transitions between retained
    * versions stay safe (their removed files are referenced by a
    * retained manifest, which vacuum preserves). A plain `fromV = 0`
    * restart on a vacuumed table takes the same path instead of dying
    * on the retired v1; an empty or not-yet-created table (`toV = 0`)
    * is a no-op. Retention is re-sampled per ATTEMPT: a vacuum landing
    * MID-fold surfaces as a missing manifest/file, and the fold retries
    * from scratch (bounded) rather than killing the caller's stream.
    *
    * NULL boundary: the carried (n_docs, total_chars) state is plain
    * longs, so a source whose EVERY row has NULL n_chars would report
    * total_chars = 0 here where SQL's all-NULL sum (the union spelling
    * and the rescan closed form) reports NULL. The documents corpus
    * guarantees non-NULL n_chars, and any source with at least one
    * non-NULL value agrees exactly (sum ignores NULLs in both
    * spellings); widening the state to carry SQL's NULL-sum semantics
    * for a row the table never produces is deliberately not done. */
  def ivmFoldSourceStats(s: SparkSession, dir: String, fromV: Int,
      toV: Int, state: Map[String, (Long, Long)])
      : Map[String, (Long, Long)] = {
    var attempt = 0
    while (true) {
      try {
        return ivmFoldOnce(s, dir, if (attempt == 0) fromV else 0, toV,
          if (attempt == 0) state else Map.empty)
      } catch {
        case scala.util.control.NonFatal(e)
            if attempt < 2 && vacuumRaceSignature(e) =>
          // a vacuum racing the fold retired something we were reading;
          // re-seed from whatever is retained NOW (itself re-sampled)
          attempt += 1
      }
    }
    state // unreachable
  }

  /** Does this failure look like a vacuum retiring files/manifests out
    * from under a reader? ONLY such failures are worth the fold's
    * re-seed retry — a deterministic error (schema drift, analysis
    * failure) would just fail twice more from scratch and surface with
    * the ORIGINAL context lost, so it propagates immediately instead.
    * The signature: a FileNotFoundException anywhere in the cause
    * chain (manifest or data file deleted mid-read; Spark wraps these
    * in SparkException/AnalysisException layers), a PATH_NOT_FOUND
    * analysis error (the parquet source rejecting already-retired
    * paths up front), the fold's own "no retained manifest" reseed
    * guard (the retained window moved between sampling and reading),
    * or readText's "no snapshot v" require (a MANIFEST retired between
    * the fold's base-exists check and the delta walk reading it — the
    * mid-fold vacuum case the retry exists for). */
  private def vacuumRaceSignature(e: Throwable): Boolean = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .take(8).toSeq
    chain.exists {
      case _: java.io.FileNotFoundException => true
      case t =>
        val m = Option(t.getMessage).getOrElse("")
        m.contains("PATH_NOT_FOUND") || m.contains("no retained manifest") ||
          m.contains("no snapshot v")
    }
  }

  private def ivmFoldOnce(s: SparkSession, dir: String, fromV: Int,
      toV: Int, state: Map[String, (Long, Long)])
      : Map[String, (Long, Long)] = {
    def keep(st: Map[String, (Long, Long)]) =
      st.filter { case (_, (n, _)) => n > 0 }
    if (toV <= 0) return keep(state) // empty table: benign no-op
    val f = fs(s, dir)
    var st = state
    def merge(frame: DataFrame): Unit =
      frame.collect().foreach { r =>
        val k = r.getString(0)
        val dch = if (r.isNullAt(2)) 0L else r.getLong(2)
        val (n0, c0) = st.getOrElse(k, (0L, 0L))
        st = st.updated(k, (n0 + r.getLong(1), c0 + dch))
      }
    var base = fromV
    var seed: Option[DataFrame] = None
    if (base <= 0 || !f.exists(manifestPath(dir, base))) {
      val r = oldestRetainedVersion(s, dir)
      require(r >= 1 && r <= toV,
        s"SnapTable: no retained manifest ≤ v$toV under $dir")
      st = Map.empty // stale carried state cannot be advanced delta-wise
      // a whole-table re-seed reads the retained snapshot UNDER its
      // deletion vectors, so a DV-carrying manifest seeds exactly the
      // visible rows — round 13's refusal, closed. PHYSICAL names
      // (readKeyed without the column map), like every delta frame:
      // the fold must not fork behavior on whether it took the re-seed
      // branch when the table was renamed
      val rMf = manifestAt(s, dir, r)
      // an everything-deleted retained snapshot lists no data files:
      // it seeds NOTHING (a parquet read over zero paths would die on
      // an unhelpful unable-to-infer error), and the walk continues
      // delta-wise from it
      seed =
        if (rMf.paths.isEmpty) None
        else Some(ivmSignedAgg(
          readKeyed(s, dir, rMf.paths, rMf.delFiles)
            .drop("__fk", "__pos"), 1L))
      base = r
    }
    // chunked fold: union up to IvmUnionMaxVersions-worth of signed
    // frames per job instead of one blocking collect per delta — a deep
    // window (a restart's re-seed walk) pays V/16 jobs, not 2V, while
    // each per-frame result stays #sources-bounded on the driver
    (seed.toSeq ++ ivmDeltaFramesBetween(s, dir, base, toV))
      .grouped(IvmUnionMaxVersions).foreach { g =>
        merge(g.reduce(_ unionByName _)
          .groupBy(col("source"))
          .agg(sum(col("dn")).as("dn"), sum(col("dchars")).as("dchars")))
      }
    keep(st)
  }
}
