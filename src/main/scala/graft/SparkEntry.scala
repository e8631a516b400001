package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{Advanced, Core, Olap, Sketches, Snapshots, Subqueries,
  TpchCanon}
import graft.ext.{Corpus, Dedup, Graph, Index, Layout, Linkage, Model,
  Multimodal, Report, Retrieval, Similarity, Text}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Aggregates the query registries of each operator-family module. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Core.q01Pricing(spark, "/root/testdata/sf0.001")

  /** Each operator-family module's (queries, oracles) pair: the one list
    * [[queries]], [[oracleSql]] and RegistrySpec's duplicate-key check
    * fold. A `def`: a `val` would force every module's init inside
    * SparkEntry's own, where an init cycle between modules reads a
    * zeroed constant (RegistrySpec's release-split test). */
  def modules: Seq[(Map[String, (SparkSession, String) => DataFrame],
      Map[String, String])] = Seq(
    Core.queries -> Core.oracles, Advanced.queries -> Advanced.oracles,
    Sketches.queries -> Sketches.oracles,
    Subqueries.queries -> Subqueries.oracles,
    Similarity.queries -> Similarity.oracles, Text.queries -> Text.oracles,
    Dedup.queries -> Dedup.oracles,
    Multimodal.queries -> Multimodal.oracles,
    Corpus.queries -> Corpus.oracles, Linkage.queries -> Linkage.oracles,
    Index.queries -> Index.oracles, Layout.queries -> Layout.oracles,
    Model.queries -> Model.oracles, Report.queries -> Report.oracles,
    Retrieval.queries -> Retrieval.oracles, Olap.queries -> Olap.oracles,
    TpchCanon.queries -> TpchCanon.oracles,
    graft.io.AvroIo.queries -> graft.io.AvroIo.oracles,
    Snapshots.queries -> Snapshots.oracles, Graph.queries -> Graph.oracles,
    graft.io.JsonlIo.queries -> graft.io.JsonlIo.oracles)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._1).reduce(_ ++ _)

  /** Keys in [[queries]] that are deliberate EXACTNESS BASELINES, not
    * production paths: quadratic all-pairs formulations kept as the
    * oracle/recall reference for their scalable twins. Do not run these
    * raw at scale — use the twin instead:
    *   - q23 (uncapped Σdf² shingle self-join) → q51 df-capped or q98
    *     prefix-filtered; q23 additionally refuses to run when q104's
    *     candidate-pair prediction exceeds [[graft.ext.Text.UncappedPairBound]]
    *   - q42 (embedding crossJoin) → q49 LSH-bucketed near-dup; q42
    *     likewise refuses when n·(n−1)/2 exceeds
    *     [[graft.queries.Subqueries.AllPairsBound]]
    * Both baselines SELF-GUARD: past their predicted-size bound they
    * throw, naming the twin — no caller can run them raw at scale. */
  val baselines: Set[String] =
    Set("q23_ngram_jaccard", "q42_embedding_neardup")

  /** Keys in [[queries]] whose OUTPUT ORDER is part of the contract —
    * ranked top-k lists, per-probe neighbor rankings, and the
    * interleave schedule (a training-data ORDER is the deliverable).
    * The driver's hash compare is order-insensitive, so these contracts
    * would otherwise go unverified (SURVEY §5.3's critique):
    * Verify dumps this set to `ordered.json` and scripts/check.py
    * hash-compares these queries IN ROW ORDER against the oracle.
    * Every member ends in a TOTAL-ORDER sort (explicit tiebreakers) in
    * both spellings — ordered compare is only sound when the contract
    * pins a unique order. */
  val ordered: Set[String] = Set(
    "q02_top_orders",        // top-5 orders by price
    "q17_knn_brute",         // per-probe neighbor rank
    "q18_knn_lsh",
    "q20_term_freq",         // top-20 terms
    "q44_knn_ivf",
    "q52_tfidf_top",         // per-doc term rank
    "q62_collocations",      // top-20 PMI pairs
    "q67_incremental_topk",  // rank-ordered top-100
    "q95_vocab_induction",   // coverage-ranked vocabulary
    "q97_ivfpq_search",
    "q100_skew_audit",       // top-k hottest keys
    "q102_lateral_topn",
    "q118_bm25_topk",
    "q123_cms_heavy_hitters",
    "q126_lm_perplexity",    // 20 most-perplexing docs
    "q130_interleave",       // the schedule IS an order
    "q142_pca_ann",
    "q153_pq_index_serve",
    "q154_ivfpq_recall",
    "q155_hybrid_rrf",     // fused ranking is the deliverable
    "q158_hybrid_lsh_serve",
    "q169_uncertainty_sample", // the labeling worklist IS an order
    "q170_context_pack",       // the packed prompt IS an order
    "q183_centroid_outliers",  // the inspection worklist IS an order
    "q189_memorization_attr",  // per-probe provenance ranking
    "q198_weighted_sample",    // the per-source sample rank is the draw
    "q202_epoch_allocation",   // the greedy schedule IS an order
    "q223_serve_suppress",     // the suppressed rerank IS the deliverable
    "q225_video_shots",        // unique per-doc key; free order pin
    "q226_frame_neardup",      // unique (a,b,frame) key; free order pin
    "q229_containment_pairs",  // unique ordered (a,b) key; free order pin
    "q230_source_divergence",  // unique per-source key; free order pin
    "q231_dedup_weights",      // unique per-doc key; free order pin
    "q232_filtered_ann",       // per-probe neighbor rank
    "q233_postfilter_audit",   // unique per-probe key; free order pin
    "q234_semantic_decontam",  // unique per-train-vector key; free pin
    "q235_mutual_knn",         // unique (a,b) pair key; free order pin
    "q236_snapshot_stats",     // unique per-source key; free order pin
    "q237_time_travel",        // unique per-version key; free order pin
    "q238_snapshot_merge",     // unique per-source key; free order pin
    "q239_snapshot_cdc",       // unique per-transition key; free pin
    "q240_snapshot_skip",      // unique per-source key; free order pin
    "q241_snapshot_optimize",  // unique per-source key; free order pin
    "q242_graph_bfs",          // unique per-vector key; free order pin
    "q243_graph_triangles",    // unique (a,b,c) key; free order pin
    "q244_graph_cheapest",     // unique per-vector key; free order pin
    "q245_snapshot_occ",       // unique per-version key; free order pin
    "q246_snapshot_zorder",    // unique per-source key; free order pin
    "q247_graph_pagerank",     // unique per-vector key; free order pin
    "q248_jsonl_ingest",       // unique per-source key; free order pin
    "q249_robust_outliers",    // unique per-type key; free order pin
    "q250_snapshot_wap",       // unique per-source key; free order pin
    "q251_snapshot_ivm",       // unique per-source key; free order pin
    "q252_merge_rebase",       // unique per-version key; free order pin
    "q254_promo_suppliers",    // ranked serve; suppkey tie-break
    "q255_top_rev_supplier",   // unique suppkey; free order pin
    "q256_big_orders",         // totalprice-ranked serve; orderkey tiebreak
    "q258_vocab_overlap",      // unique (src_a, src_b) key; free pin
    "q259_anchor_dot",         // unique per-label key; free order pin
    "q260_supplier_variety",   // cnt-ranked; (brand,type,size) tiebreak
    "q261_mor_delete",         // unique per-source key; free order pin
    "q262_mor_time_travel",    // unique per-version key; free order pin
    "q263_mor_merge",          // unique per-source key; free order pin
    "q264_ivm_dv",             // unique per-source key; free order pin
    "q265_bloom_lookup",       // unique per-doc key; free order pin
    "q266_col_rename",         // unique per-source key; free order pin
    "q267_cdc_incremental",    // unique per-transition key; free pin
    "q268_time_travel_ts",     // unique per-version key; free order pin
    "q269_dv_compact",         // unique per-source key; free order pin
    "q270_cdc_rows",           // unique (v, type, doc) key; free pin
    "q271_plan_pruned",        // unique per-source key; free order pin
    "q272_source_format",      // unique per-source key; free order pin
    "q273_source_mor",         // unique per-source key; free order pin
    "q274_source_rename")      // unique per-source key; free order pin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = modules.map(_._2).reduce(_ ++ _)
}
