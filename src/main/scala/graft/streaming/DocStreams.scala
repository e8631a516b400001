package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.LocalCheckpointFiles.startEach

/** Streaming document-pipeline operators — the streaming twins of the
  * corpus-hygiene batch queries, for pipelines that ingest crawl drops
  * continuously instead of in nightly batches.
  *
  * Shape: `foreachBatch`. The admission decision (graft.ext.Corpus
  * ingestGateOf, q99) is a PER-DOCUMENT verdict against a STATIC
  * existing-corpus index, so the natural streaming execution is the
  * micro-batch itself — each arriving file set runs the identical batch
  * logic (joins, partial-agg overlap counts, the lot) against the
  * static shingle relation, with NO stream-side state at all: memory is
  * constant no matter how long the stream runs, and the gate's batch
  * and streaming answers are equal BY CONSTRUCTION (StreamingSpec
  * asserts it). This is the standard Spark pattern for "run this
  * arbitrary batch transformation on every drop": watermarked stateful
  * operators are for when per-KEY state must persist ACROSS batches
  * (sessions, dedup windows — see [[EventStreams]]); an admission gate
  * does not.
  *
  * Every operator here starts its query through
  * [[LocalCheckpointFiles.startEach]], which puts the stream's checkpoint
  * logs (source log, offsets WAL, commit log) on [[LocalCheckpointFiles]]
  * unless the session already names a checkpoint manager: on local disk
  * a trigger's three log writes then take ~1 ms each, not ~25 ms of
  * forked `chmod`/`readlink` calls.
  */
object DocStreams {

  /** File-based document stream (one parquet dir; new files = new
    * micro-batches = new crawl drops), schema of TESTDATA.md documents. */
  def readDocStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val schema = "doc_id BIGINT, text STRING, lang STRING, " +
      "source STRING, n_chars BIGINT"
    val r = spark.readStream.schema(schema)
    (if (maxFilesPerTrigger > 0)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger)
    else r).parquet(dir)
  }

  /** Start the streaming ingest gate: every micro-batch of incoming
    * documents is gated against the (static) existing-corpus shingle
    * index and the per-batch verdict relation is handed to `sink`.
    * At 100 TB the sink appends to the corpus table AND unions the
    * accepted docs' shingles into the persisted index between drops —
    * here it is parameterized so the spec can collect the verdicts. */
  def gatedIngest(docStream: DataFrame, corpusShingles: DataFrame,
      checkpointDir: String)(sink: (DataFrame, Long) => Unit): StreamingQuery =
    startEach(docStream, Some(checkpointDir)) { (batch, batchId) =>
      sink(graft.ext.Corpus.ingestGateOf(batch, corpusShingles), batchId)
    }

  /** Start the streaming MinHash-banding admission gate — q113's twin
    * (graft.ext.Dedup.minhashGate): each micro-batch of incoming docs is
    * signed, banded, and checked against the STATIC corpus band index;
    * the per-batch verdict relation goes to `sink`. Same zero-state
    * rationale as [[gatedIngest]] — the band index only changes between
    * releases (accepted docs' bands union in), so the stream side holds
    * nothing and survives any restart trivially (StreamingSpec drops a
    * wave while the gate is down). */
  def gatedNearDup(docStream: DataFrame, corpusBands: DataFrame,
      checkpointDir: String)(sink: (DataFrame, Long) => Unit): StreamingQuery =
    startEach(docStream, Some(checkpointDir)) { (batch, batchId) =>
      sink(graft.ext.Dedup.minhashGateOf(batch, corpusBands), batchId)
    }

  /** File-based embedding stream (new parquet files = new vector drops),
    * schema of TESTDATA.md embeddings. */
  def readVecStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val schema = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    val r = spark.readStream.schema(schema)
    (if (maxFilesPerTrigger > 0)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger)
    else r).parquet(dir)
  }

  /** Start streaming ANN-index maintenance — the similarity twin of
    * [[maintainClusters]] (round-7 verdict item 3): the carried state is
    * the q18 LSH band index ([[graft.ext.Similarity.lshIndexOf]] rows:
    * vec_id, embedding, tbl, bucket). Each micro-batch of arriving
    * vectors is signed into its band rows (drop-sized work — existing
    * vectors are NEVER re-signed) and appended; the per-wave probe
    * results ([[graft.ext.Similarity.knnLshServe]] over the maintained
    * index) go to `sink`, and equal a from-scratch q18 over everything
    * ingested BY CONSTRUCTION — the maintained index is row-identical
    * to the batch rebuild's (StreamingSpec asserts equality per wave
    * and across a restart).
    *
    * Replay/restart safety: the append anti-joins on vec_id, so an
    * at-least-once redelivery of a micro-batch inserts nothing the
    * second time (and even a duplicate row would be absorbed — the
    * probe path dedups candidate pairs). On restart, callers re-seed
    * `initialIndex` from the persisted corpus exactly like
    * maintainClusters' signature carry. At 100 TB the index is a
    * persisted bucketed table (q153's layout) the sink appends to
    * between drops; here it lives as checkpointed [[Segments]] — a
    * drop-sized segment write per batch instead of re-materializing the
    * whole index every drop, the same O(delta) commit shape. */
  def maintainAnnIndex(vecStream: DataFrame, initialIndex: DataFrame,
      checkpointDir: String, k: Int = 3)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val index = Segments(initialIndex)
    startEach(vecStream, Some(checkpointDir)) { (batch, batchId) =>
      val fresh = graft.ext.Similarity.lshIndexOf(batch)
        .join(index.view.select("vec_id").distinct(), Seq("vec_id"),
          "left_anti")
      sink(graft.ext.Similarity.knnLshServe(index.append(fresh), k),
        batchId)
    }
  }

  /** Start streaming BM25-index maintenance — the LEXICAL twin of
    * [[maintainAnnIndex]]: the carried state is q118's two index
    * relations ([[graft.ext.Index.bm25IndexOf]]): the postings
    * `tfc(doc_id, term, tf)` and the doc lengths `lens(doc_id, dl)`.
    * Each micro-batch of arriving documents is tokenized into its own
    * rows only (drop-sized work — existing docs are never re-tokenized)
    * and appended; the per-wave probe results
    * ([[graft.ext.Index.bm25ServeFrom]] over the maintained index) go to
    * `sink`. The corpus statistics BM25 needs (df, N, S) are derived
    * from the index at probe time, so they track every drop with no
    * separate stats carry, and the served ranking equals a from-scratch
    * q118 over everything ingested BY CONSTRUCTION (StreamingSpec
    * asserts equality per wave and across a restart).
    *
    * Replay/restart safety: the append anti-joins on doc_id against the
    * carried doc registry (`lens`), so an at-least-once redelivery
    * inserts nothing the second time. On restart, callers re-seed the
    * index from the persisted corpus exactly like [[maintainAnnIndex]].
    * At 100 TB both relations are persisted tables (postings bucketed by
    * term — q124's layout — so the probe join is exchange-free); here
    * they live as checkpointed [[Segments]] — drop-sized segment writes
    * per batch instead of re-materializing both relations every drop. */
  def maintainBm25Index(docStream: DataFrame, initialTfc: DataFrame,
      initialLens: DataFrame, checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val tfcState = Segments(initialTfc)
    val lensState = Segments(initialLens)
    startEach(docStream, Some(checkpointDir)) { (batch, batchId) =>
      val (freshTfc, freshLens) = graft.ext.Index.bm25IndexOf(batch)
      // `known` reads the PRE-append lens view for both anti-joins,
      // exactly like the monolithic carry did
      val known = lensState.view.select("doc_id").distinct()
      val tfc = tfcState.append(
        freshTfc.join(known, Seq("doc_id"), "left_anti"))
      val lens = lensState.append(
        freshLens.join(known, Seq("doc_id"), "left_anti"))
      sink(graft.ext.Index.bm25ServeFrom(batch.sparkSession, tfc, lens),
        batchId)
    }
  }

  /** Start streaming Merkle-manifest maintenance — q166's
    * continuous-ingest twin: the carried state is the per-doc
    * fingerprint relation ([[graft.ext.Layout.manifestFingerprints]]
    * rows: doc_id, shard, fp, n_chars) plus the per-shard hash rows.
    * Each micro-batch fingerprints ONLY its own documents, appends
    * them (anti-join on doc_id — replay-idempotent), and re-hashes
    * ONLY the shards the drop touched (drop-bounded work: ≤ touched
    * shards × [[graft.ext.Layout.ManifestShard]] docs re-aggregate;
    * untouched shard hashes carry over untouched). The per-wave
    * manifest handed to `sink` — including the root — is equal to a
    * from-scratch q166 over everything ingested, asserted per wave and
    * across a restart in StreamingSpec. At 100 TB the fingerprint and
    * shard relations are persisted tables keyed/bucketed by shard;
    * here the fingerprints live as checkpointed [[Segments]] (drop-sized
    * segment writes) and only the SMALL per-shard relation — rewritten
    * by construction — re-checkpoints whole per drop. */
  def maintainManifest(docStream: DataFrame, initialFps: DataFrame,
      checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val fpsState = Segments(initialFps)
    var shards = graft.ext.Layout.manifestShardsOf(fpsState.view)
      .localCheckpoint()
    startEach(docStream, Some(checkpointDir)) { (batch, batchId) =>
      val fresh = graft.ext.Layout.manifestFingerprints(batch)
        .join(fpsState.view.select("doc_id").distinct(), Seq("doc_id"),
          "left_anti")
        .localCheckpoint()
      val fps = fpsState.appendCheckpointed(fresh)
      val touched = fresh.select("sh").distinct()
      val recomputed = graft.ext.Layout.manifestShardsOf(
        fps.join(touched, Seq("sh")))
      shards = shards.join(touched, Seq("sh"), "left_anti")
        .unionByName(recomputed).localCheckpoint()
      sink(graft.ext.Layout.manifestAssemble(shards), batchId)
    }
  }

  /** CDC-chunk-index maintenance — q186's continuous twin: each drop is
    * chunked INDEPENDENTLY (content-defined boundaries are per-doc, so
    * a drop's chunk relation never depends on what is already indexed),
    * appended to the carried chunk state, and the per-source passage-dup
    * report is served from the state — per wave ≡ a from-scratch q186
    * over everything seen (StreamingSpec locks the equality over ≥3
    * drops + restart re-seed). The anti-join on doc_id makes a replayed
    * batch idempotent. Only chunk METADATA (16-byte fingerprints +
    * counts) is carried — never document text. */
  def maintainChunkIndex(docStream: DataFrame, initialChunks: DataFrame,
      checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val chunks = Segments(initialChunks)
    startEach(docStream, Some(checkpointDir)) { (batch, batchId) =>
      val fresh = graft.ext.Text.chunkRelationOf(batch)
        .join(chunks.view.select("doc_id").distinct(), Seq("doc_id"),
          "left_anti")
      sink(graft.ext.Text.cdcReportOf(chunks.append(fresh)), batchId)
    }
  }

  /** Video-frame-index maintenance — q226's continuous twin, the
    * MULTIMODAL arm of the maintainer family: each micro-batch of
    * arriving documents is decoded through the real RIFF/AVI codec into
    * its per-frame dHashes ONLY (drop-sized work — indexed videos are
    * never re-decoded), appended to the carried (fid, fp) index, and
    * the cross-video near-dup pair report is served from the state —
    * per wave ≡ a from-scratch q226 over everything ingested
    * (StreamingSpec locks the equality over ≥3 drops + restart
    * re-seed). The anti-join on the composite frame id makes a
    * replayed batch idempotent (all frames of a redelivered doc share
    * the delivery, so doc-granular redelivery inserts nothing).
    *
    * Scale shape: only 8-byte hashes are carried — frame pixels die in
    * the decode partition; the per-wave report is the chunk-pigeonhole
    * join over the index, same plan-locked shape as batch q226. At
    * 100 TB the index is a persisted bucketed table the sink appends
    * to; here it lives as checkpointed [[Segments]] — drop-sized
    * segment writes, never a whole-index rewrite per drop. */
  def maintainFrameIndex(docStream: DataFrame, initialHashes: DataFrame,
      checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val hashes = Segments(initialHashes)
    startEach(docStream, Some(checkpointDir)) { (batch, batchId) =>
      val fresh = graft.ext.Multimodal.videoFrameHashesOf(batch)
        .join(hashes.view.select("doc_id").distinct(), Seq("doc_id"),
          "left_anti")
      sink(graft.ext.Multimodal.frameNearDupFrom(hashes.append(fresh)),
        batchId)
    }
  }

  /** Start streaming incremental dedup-cluster maintenance — q112's
    * continuous-ingest twin. Unlike the stateless gates above, this
    * operator CARRIES state between micro-batches: the corpus signature
    * index and the (doc_id, cluster_id) labels, both evolving per drop.
    * Each batch (1) signs its documents, (2) discovers only the pairs
    * TOUCHING the batch via [[graft.ext.Dedup.minhashPairsAgainst]]
    * (drop-sized work — old×old pairs never recompute), and (3) merges
    * them into the stored labels through the contracted-graph algebra of
    * [[graft.ext.Dedup.incrementalClusterMerge]], so after every batch
    * the labels are bit-identical to a from-scratch clustering of
    * everything seen so far (StreamingSpec asserts it per wave).
    *
    * The merge is IDEMPOTENT (re-merging a replayed batch's pairs
    * contracts them to loops, which drop), so foreachBatch's
    * at-least-once replay after a mid-batch crash still converges to
    * the exact answer — and the signature union below carries the same
    * anti-join redelivery guard as every sibling maintainer, so a
    * replayed batch cannot duplicate carried STATE rows either. At
    * 100 TB both state relations are persisted tables the sink
    * maintains between drops (the spec's restart path re-seeds them the
    * same way); here the signatures live as checkpointed [[Segments]]
    * (drop-sized segment writes) and only the labels — rewritten by the
    * merge anyway — re-checkpoint whole per drop. */
  def maintainClusters(docStream: DataFrame, initialSigs: DataFrame,
      initialLabels: DataFrame, checkpointDir: String,
      minEst: Double = 0.5)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val sigsState = Segments(initialSigs)
    var labels = initialLabels.localCheckpoint()
    startEach(docStream, Some(checkpointDir)) { (batch, batchId) =>
      // redelivery guard: a replayed batch (restart re-seed already
      // contains it) must not union its signatures into the carried
      // index twice — labels stay correct either way (idempotent
      // merge), but duplicated STATE rows would inflate every later
      // candidate join for the stream's lifetime
      val batchSigs = graft.ext.Dedup.signatures(batch)
        .join(sigsState.view
            .select(org.apache.spark.sql.functions.col("doc_id")),
          Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val index = sigsState.appendCheckpointed(batchSigs)
      val dropPairs =
        graft.ext.Dedup.minhashPairsAgainst(batchSigs, index, minEst)
      labels = graft.ext.Dedup.incrementalClusterMerge(labels, dropPairs)
        .localCheckpoint()
      sink(labels, batchId)
    }
  }

  /** Start streaming MUTUAL-kNN GRAPH maintenance — the graph twin of
    * [[maintainAnnIndex]] for the q235/q242–q247 edge substrate. The
    * carried state is the ndPlanes band index (vec_id, embedding, tbl,
    * bucket) plus the top-[[graft.ext.Similarity.MutualK]] relation.
    * Mutuality is NON-monotonic — a new vector can evict an old edge
    * from someone's top-k list, killing a pair that used to be mutual —
    * so "just append edges" is wrong. What IS exact: a query's LSH
    * candidate set only changes when a new vector lands in one of its
    * buckets. So each micro-batch (1) signs ONLY its own vectors,
    * (2) finds the AFFECTED queries — new vectors plus index vectors
    * sharing a (tbl, bucket) with one — and (3) recomputes top-k lists
    * for exactly those, carrying everyone else's untouched. The
    * resulting top-k relation is row-identical to a from-scratch
    * rebuild over everything ingested, BY CONSTRUCTION, and the emitted
    * mutual pairs follow (StreamingSpec asserts equality per wave and
    * across a restart — including an eviction wave where a previously
    * mutual pair must DISAPPEAR).
    *
    * Scale shape: per drop, work is |drop's band rows| × bucket
    * occupancy for the affected-set probe and |affected|·bucket for the
    * re-rank — never corpus². The mutual self-join runs over the O(N·k)
    * top-k relation (ids + ranks only). Replay-safe: the append
    * anti-joins on vec_id, a redelivered batch contributes no fresh
    * rows, the affected set is empty, and the sink re-emits the same
    * pairs. */
  def maintainMutualKnn(vecStream: DataFrame, initialVecs: DataFrame,
      checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import graft.ext.Similarity
    val indexState = Segments(Similarity.ndIndexOf(initialVecs))
    // pass the N-row vector relation: without it lshTopKFor re-derives
    // embeddings by deduping the band index — ndPlanes× the rows through
    // a shuffle on every stream (re)start
    var topk = Similarity.lshTopKFor(indexState.view,
      initialVecs.select(col("vec_id")),
      initialVecs.select(col("vec_id"), col("embedding")))
      .localCheckpoint()
    startEach(vecStream, Some(checkpointDir)) { (batch, batchId) =>
      val fresh = Similarity.ndIndexOf(batch)
        .join(indexState.view.select("vec_id").distinct(), Seq("vec_id"),
          "left_anti")
        .localCheckpoint() // feeds the append AND the affected probe
      val index = indexState.appendCheckpointed(fresh)
      val affected = index.select(col("vec_id"), col("tbl"),
          col("bucket"))
        .join(fresh.select(col("tbl"), col("bucket")).distinct(),
          Seq("tbl", "bucket"))
        .select(col("vec_id")).distinct()
        .localCheckpoint() // feeds the re-rank AND the carry anti-join
      val refreshed = Similarity.lshTopKFor(index, affected)
      topk = topk
        .join(affected.withColumnRenamed("vec_id", "query_id"),
          Seq("query_id"), "left_anti")
        .unionByName(refreshed)
        .localCheckpoint()
      sink(Similarity.mutualPairsFromTopK(topk), batchId)
    }
  }

  /** EXACTLY-ONCE streaming ingest into a [[graft.io.SnapTable]]: each
    * micro-batch commits as one batch-id-stamped snapshot via
    * [[graft.io.SnapTable.appendOnce]], so a restart's redelivered batch
    * is a NO-OP instead of a duplicate — the stamp rides the manifest's
    * atomic rename, closing the gap every at-least-once foreachBatch
    * sink has between "data landed" and "progress recorded". Readers
    * meanwhile get snapshot isolation (a half-written drop is never
    * visible) and per-drop time travel for free: version v = the table
    * after drop v.
    *
    * Scale shape: the sink is one parquet write of drop-sized data plus
    * an O(#files) manifest line append; nothing rereads the table.
    * `onCommit` receives (batchId, committed) — false marks a skipped
    * redelivery, which the spec asserts. */
  def maintainSnapshotIngest(docStream: DataFrame, tableDir: String,
      checkpointDir: String)(
      onCommit: (Long, Boolean) => Unit): StreamingQuery =
    startEach(docStream, Some(checkpointDir)) { (batch, batchId) =>
      onCommit(batchId,
        graft.io.SnapTable.appendOnce(batch, tableDir, batchId))
    }

  /** EXACTLY-ONCE streaming ingest + INCREMENTAL VIEW MAINTENANCE: each
    * micro-batch commits via [[graft.io.SnapTable.appendOnce]] like
    * [[maintainSnapshotIngest]], and a maintained per-source
    * (n_docs, char_sum) view then folds ONLY the versions the batch
    * added — the manifest-delta IVM step (q251's primitive), which at
    * 100 TB reads each drop once instead of rescanning the table per
    * report. The carried state is driver-side and #sources-bounded; a
    * RESTART re-seeds by folding every retained version from v1 (one
    * full pass, then incremental again — the re-seed cost every
    * maintainX twin pays). Redelivered batches no-op in the commit AND
    * the fold (version tracking makes the fold idempotent), yet still
    * report the current state. `onReport` receives
    * (batchId, committed, state). */
  def maintainSnapshotIngestIvm(docStream: DataFrame, tableDir: String,
      checkpointDir: String)(
      onReport: (Long, Boolean, Map[String, (Long, Long)]) => Unit)
      : StreamingQuery = {
    var state = Map.empty[String, (Long, Long)]
    var foldedV = 0
    startEach(docStream, Some(checkpointDir)) { (batch, batchId) =>
      val s = batch.sparkSession
      import graft.io.SnapTable
      val committed = SnapTable.appendOnce(batch, tableDir, batchId)
      val cur = SnapTable.currentVersion(s, tableDir)
      state = SnapTable.ivmFoldSourceStats(s, tableDir, foldedV, cur,
        state)
      foldedV = cur
      onReport(batchId, committed, state)
    }
  }

  /** One emitted CDC event row: the key-level change counts of a
    * single snapshot-version transition. */
  case class CdcEvent(fromV: Long, toV: Long, nInserted: Long,
      nDeleted: Long, nUpdated: Long)

  /** EXACTLY-ONCE streaming ingest + MANIFEST-SCOPED CDC FEED: each
    * micro-batch commits via [[graft.io.SnapTable.appendOnce]], then
    * every snapshot transition since the last fed version — the
    * batch's own commit AND any OUT-OF-BAND maintenance commit
    * (a GDPR MoR delete, a merge, a compaction) that landed between
    * batches — is diffed with the DV-aware
    * [[graft.io.SnapTable.cdcIncremental]] and handed to the consumer
    * as per-transition [[CdcEvent]]s. This is what a downstream index
    * maintainer/replica subscribes to at 100 TB: each event is derived
    * from ONLY the files/sidecar rows its commit touched — with one
    * documented exception: an out-of-band OPTIMIZE's delta IS the
    * table, so that window pays a full diff and feeds one all-zero
    * event (pure file moves are not changes); metadata-only commits
    * (a rename) feed nothing.
    *
    * Replay safety mirrors the IVM twin: redelivered batches no-op in
    * the commit (batch stamp) AND the feed (the version cursor does
    * not advance, so nothing re-emits); a RESTART passes the last fed
    * version as `fromVersion` to resume without re-emitting history
    * (0 feeds the whole history back to v1's create). UNLIKE the IVM
    * twin — whose carried aggregate can always re-seed from a
    * whole-table read — CDC EVENTS of vacuum-retired transitions are
    * unreconstructible, so a feed window reaching behind the retention
    * horizon REFUSES loudly (per batch, so a vacuum racing one diff
    * surfaces on the batch retry as the same clear refusal): keep
    * retention longer than feed downtime, or re-bootstrap the consumer
    * from a snapshot read and resume from the current version.
    * `onFeed` receives (batchId, committed, events). */
  /** The CDC feed's PERSISTED cursor (last fed version), kept under
    * the checkpoint dir: a restart with the default `fromVersion = 0`
    * resumes where the previous run left off instead of re-feeding
    * history from v1 (or dying on the vacuum refusal). Written AFTER
    * each successful delivery, so the cross-restart contract matches
    * the in-run one: at-least-once (a crash between onFeed and the
    * write re-feeds that window on restart).
    *
    * Each advance is a NEW file `graft_cdc_cursor.v<N>` claimed by the
    * same write-then-rename dance as manifests — never an in-place
    * overwrite, which a crash could leave truncated and turn every
    * restart into a parse failure. Older cursor files are removed only
    * AFTER the new one is in place, so a crash at any point leaves at
    * least one intact cursor; read takes the max. */
  private def feedCursorPath(ckpt: String, v: Int) =
    new org.apache.hadoop.fs.Path(ckpt, s"graft_cdc_cursor.v$v")

  private val CursorName = """graft_cdc_cursor\.v(\d+)""".r

  private def readFeedCursor(s: org.apache.spark.sql.SparkSession,
      ckpt: String): Option[Int] = {
    val d = new org.apache.hadoop.fs.Path(ckpt)
    val f = d.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(d)) None
    else f.listStatus(d).toSeq
      .map(_.getPath.getName)
      .collect { case CursorName(n) => n.toInt }
      .maxOption
  }

  private def writeFeedCursor(s: org.apache.spark.sql.SparkSession,
      ckpt: String, v: Int): Unit = {
    val fin = feedCursorPath(ckpt, v)
    val tmp = new org.apache.hadoop.fs.Path(ckpt,
      s"graft_cdc_cursor.v$v.tmp")
    val f = fin.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = f.create(tmp, true) // single writer per checkpoint dir
    try out.write(v.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!f.rename(tmp, fin)) f.delete(tmp, false)
    // retire superseded cursors only once the new one is durable
    f.listStatus(new org.apache.hadoop.fs.Path(ckpt)).toSeq
      .map(_.getPath)
      .filter(p => CursorName.findFirstMatchIn(p.getName)
        .exists(_.group(1).toInt < v))
      .foreach(p => f.delete(p, false))
  }

  def maintainSnapshotCdcFeed(docStream: DataFrame, tableDir: String,
      checkpointDir: String, key: String, cols: Seq[String],
      fromVersion: Int = 0)(
      onFeed: (Long, Boolean, Seq[CdcEvent]) => Unit): StreamingQuery = {
    // an explicit fromVersion wins; the default resumes from the
    // checkpoint-persisted cursor (VERDICT r14 #5: a restart must not
    // hand-carry the cursor)
    var fedV =
      if (fromVersion > 0) fromVersion
      else readFeedCursor(docStream.sparkSession, checkpointDir)
        .getOrElse(fromVersion)
    startEach(docStream, Some(checkpointDir)) { (batch, batchId) =>
      val s = batch.sparkSession
      import graft.io.SnapTable
      val committed = SnapTable.appendOnce(batch, tableDir, batchId)
      val cur = SnapTable.currentVersion(s, tableDir)
      val events =
        if (cur <= fedV) Seq.empty
        else {
          val oldest = SnapTable.oldestRetainedVersion(s, tableDir)
          // the walk reads manifest(fedV) as its base (fedV = 0 needs
          // none); a retired base means retired TRANSITIONS — their
          // events are gone, and silently skipping them would feed a
          // consumer a hole
          if ((fedV == 0 && oldest > 1) || (fedV > 0 && fedV < oldest))
            throw new IllegalStateException(
              s"SnapTable CDC feed: versions < $oldest of $tableDir " +
                s"were vacuumed but the feed cursor is at v$fedV — " +
                "the retired transitions' events are unreconstructible;" +
                " re-bootstrap the consumer from a snapshot read and " +
                "resume from the current version")
          SnapTable.cdcIncremental(s, tableDir, key, cols, fedV, cur)
            .collect().toSeq.map(r => CdcEvent(r.getLong(0),
              r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        }
      onFeed(batchId, committed, events)
      // the cursor advances only AFTER a successful delivery: a
      // throwing onFeed leaves it un-advanced, so the within-run
      // contract is at-least-once (the redelivered batch re-feeds the
      // same window), never at-most-once; the persisted copy extends
      // the same contract across restarts
      if (cur > fedV) {
        fedV = cur
        writeFeedCursor(s, checkpointDir, cur)
      }
    }
  }

  /** EXACTLY-ONCE streaming ingest + a maintained downstream REPLICA:
    * each micro-batch commits to the SOURCE table via
    * [[graft.io.SnapTable.appendOnce]], then every not-yet-applied
    * source transition — the batch's own commit AND any out-of-band
    * maintenance commit (MoR delete, merge, compaction) — is read as
    * ROW-LEVEL CDC ([[graft.io.SnapTable.cdcRows]], each transition's
    * delta files only) and applied to the replica as one atomic
    * merge-on-read commit per transition
    * ([[graft.io.SnapTable.applyCdcRows]]: delete/update_preimage keys
    * → a deletion-vector sidecar, insert/update_postimage rows → new
    * files). THE consumer contract: after every batch the replica
    * reads equal to the source (the spec gates it, including across an
    * out-of-band MoR delete).
    *
    * Replay safety needs NO carried cursor at all: each replica commit
    * stamps the source version it applied (`cdc_v`), so a restarted —
    * or redelivered — maintainer resumes from the replica's own stamp
    * and an already-applied transition no-ops, exactly-once per
    * transition end to end. Vacuumed source windows refuse with the
    * re-bootstrap remedy (their transitions are unreconstructible,
    * like the count feed). `onApplied` receives
    * (batchId, committed, appliedSourceVersion). */
  def maintainSnapshotReplica(docStream: DataFrame, sourceDir: String,
      replicaDir: String, checkpointDir: String, key: String,
      cols: Seq[String])(
      onApplied: (Long, Boolean, Int) => Unit): StreamingQuery =
    startEach(docStream, Some(checkpointDir)) { (batch, batchId) =>
      val s = batch.sparkSession
      import graft.io.SnapTable
      val committed = SnapTable.appendOnce(batch, sourceDir, batchId)
      val cur = SnapTable.currentVersion(s, sourceDir)
      var applied = SnapTable.lastAppliedCdcVersion(s, replicaDir)
      val oldest = SnapTable.oldestRetainedVersion(s, sourceDir)
      if ((applied == 0 && oldest > 1) || (applied > 0 && applied < oldest))
        throw new IllegalStateException(
          s"SnapTable replica: source versions < $oldest of $sourceDir " +
            s"were vacuumed but the replica has applied only v$applied " +
            "— the retired transitions are unreconstructible; " +
            "re-bootstrap the replica from a snapshot read and resume " +
            "from the current version")
      while (applied < cur) {
        SnapTable.applyCdcRows(s, replicaDir,
          SnapTable.cdcRows(s, sourceDir, key, cols, applied, applied + 1),
          key, applied + 1)
        applied += 1
      }
      onApplied(batchId, committed, applied)
    }

  /** AUDITED exactly-once streaming ingest — [[maintainSnapshotIngest]]
    * with a WRITE-AUDIT-PUBLISH gate per micro-batch: the drop lands as
    * a STAGED batch (invisible to readers), `audit` judges exactly the
    * staged rows, and only a passing batch publishes — one atomic
    * batch-id-stamped commit; a failing batch discards without ever
    * having been visible. This closes the gap [[maintainSnapshotIngest]]
    * leaves open: there, a poisoned drop is readable the instant its
    * commit lands, and undoing it needs a delete; here the table NEVER
    * serves an unaudited row.
    *
    * Replay safety: the batch stamp is consulted first, so a restarted
    * stream's redelivery of a PUBLISHED batch is a no-op; stagings are
    * TAGGED with the batch id, and each batch first sweeps stagings
    * whose tag is ≤ the last APPLIED batch — provably abandoned crash
    * litter (stage-then-die would otherwise leak one batch of
    * unreferenced files per crash; vacuum never touches staged data).
    * The sweep deliberately does NOT touch stagings tagged with a
    * not-yet-applied batch: one of those may be a LIVE zombie twin's
    * in-flight staging, and discarding it under the twin would kill its
    * publish (or delete committed files); a crashed CURRENT-batch
    * leftover therefore survives until the next applied batch, a
    * bounded one-batch deferral. Against a ZOMBIE twin of the same
    * query, publish rechecks the batch stamp before every claim, so the
    * loser's batch cannot land twice — it discards its own
    * never-committed staging instead (discard is idempotent, so the
    * twins' cleanups cannot kill each other either). Works on a
    * not-yet-created table (the first published batch creates v1).
    * `onResult` receives (batchId, published). */
  def maintainAuditedIngest(docStream: DataFrame, tableDir: String,
      checkpointDir: String)(audit: DataFrame => Boolean)(
      onResult: (Long, Boolean) => Unit): StreamingQuery =
    startEach(docStream, Some(checkpointDir)) { (batch, batchId) =>
      val s = batch.sparkSession
      import graft.io.SnapTable
      val applied = SnapTable.lastAppliedBatch(s, tableDir)
      if (applied >= batchId)
        onResult(batchId, false) // already applied (or superseded)
      else {
        SnapTable.sweepAbandonedStagings(s, tableDir, applied)
        // SUPERSESSION GUARD around the whole stage→audit→publish
        // cycle: once the winner's stamp covers this batch, a failure
        // here is a superseded zombie — e.g. the winner's NEXT batch
        // swept this twin's still-tagged staging mid-audit (tag ≤ its
        // lastApplied), so the audit scan or publish would otherwise
        // die on missing files. The batch IS in the table; report the
        // TRUTHFUL outcome and keep the stream alive. Specifically:
        // if OUR OWN staged id turns out stamped (publish committed,
        // then e.g. its list cleanup threw), the outcome is
        // published=true, not false; only NonFatal failures are
        // caught (OOM/interrupt propagate); the recovery probes are
        // Try-wrapped so a probe failure can't mask the original
        // error; onResult fires exactly once, AFTER the cycle, so its
        // own exceptions are never double-reported.
        var stagedId: Option[String] = None
        // our publish can only stamp a version committed AFTER this
        // cycle started — bounds the recovery probe's manifest walk
        // (stagedIdPublished is O(versions since downTo), and the
        // staged list itself may already be swept when we need it)
        val cycleBaseV = SnapTable.currentVersion(s, tableDir)
        val outcome: Boolean =
          try {
            val id = SnapTable.stage(batch, tableDir,
              tag = batchId.toString)
            stagedId = Some(id)
            // a 0-row drop has NOTHING TO AUDIT — depending on the
            // writer it stages either an empty file list (readStaged
            // then has no schema to serve) or 0-row files (the audit
            // closure would aggregate over no rows — NULL mins under
            // ANSI). Either way it publishes directly (an empty-add
            // commit) so the batch ledger stays stamped instead of
            // the stream dying on an empty wave.
            val stagedRows =
              if (SnapTable.stagedIsEmpty(s, tableDir, id)) None
              else Some(SnapTable.readStaged(s, tableDir, id))
            if (stagedRows.forall(df => df.isEmpty || audit(df))) {
              val published = SnapTable.publish(s, tableDir, id,
                Map("batch_id" -> batchId.toString),
                skipIf =
                  () => SnapTable.lastAppliedBatch(s, tableDir) >= batchId)
              if (published.isEmpty) // a zombie twin won; ours never landed
                SnapTable.discard(s, tableDir, id)
              published.isDefined
            } else {
              SnapTable.discard(s, tableDir, id)
              false
            }
          } catch {
            case scala.util.control.NonFatal(e) =>
              val minePublished = stagedId.exists(sid => scala.util.Try(
                SnapTable.stagedIdPublished(s, tableDir, sid,
                  downTo = cycleBaseV))
                .getOrElse(false))
              val superseded = scala.util.Try(
                SnapTable.lastAppliedBatch(s, tableDir) >= batchId)
                .getOrElse(false)
              if (!minePublished && !superseded) throw e
              System.err.println(s"[graft] audited-ingest batch $batchId " +
                (if (minePublished)
                  "committed; post-commit failure suppressed: "
                else "superseded mid-cycle; failure suppressed: ") + e)
              minePublished
          }
        onResult(batchId, outcome)
      }
    }
}
