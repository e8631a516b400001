package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Graph, Layout, Model, Retrieval, Similarity}
import graft.io.{AvroIo, SnapTable}
import graft.tables.Tables
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The persisted serving state (q124's bucketed tables, q153's IVF-PQ
  * index) is keyed by a PATH-derived table name but invalidated by a
  * DATA fingerprint — this spec pins the round-9 finding that a path
  * hash alone would silently serve a stale artifact after the data
  * under the same directory changed.
  *
  * Contract under test, for both families:
  *  1. an unchanged dir does NOT rebuild (the persisted part files are
  *     byte-identical across calls);
  *  2. mutating the source under the SAME path rebuilds, and the
  *     post-mutation answer matches a from-scratch recomputation of
  *     the mutated data (oracle-green equivalence: the DuckDB oracle
  *     recomputes from the raw parquet exactly like the plain spark
  *     recomputation here).
  *
  * Every in-session memo holds the same contract within one session:
  * keyed by (session, dir), each entry records the stamps of the tables
  * its build loaded, so after a rewrite it rebuilds and replaces its
  * entry instead of adding one. Pinned here for the fit memos (q125's
  * NB model, q126's LM) and for the Dedup, Retrieval, Graph,
  * Similarity, snapshot-table and Avro memos, none of which names the
  * tables it depends on.
  */
class StalenessSpec extends SparkSpec {

  /** Writable copy of the sf0.001 fixture (fixtures are read-only). */
  private def copyFixture(): Path = {
    val src = Paths.get(sf)
    val dst = Files.createTempDirectory("graft_stale_")
    Files.list(src).forEach { p =>
      val t = dst.resolve(p.getFileName.toString)
      Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
      t.toFile.setWritable(true)
    }
    dst.toFile.deleteOnExit()
    dst
  }

  /** Replace `<dir>/<table>.parquet` (a single fixture file) with a
    * parquet DIRECTORY of the mutated frame — `spark.read.parquet`
    * accepts both shapes, so loaders are none the wiser. */
  private def replaceTable(dir: Path, table: String,
      mutate: org.apache.spark.sql.DataFrame
        => org.apache.spark.sql.DataFrame): Unit = {
    val target = dir.resolve(s"$table.parquet")
    val mutated = mutate(spark.read.parquet(target.toString))
    val tmp = dir.resolve(s"__mut_$table")
    mutated.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    Files.delete(target)
    Files.move(tmp, target)
  }

  /** The persisted table's data part-file names: saveAsTable embeds a
    * fresh job UUID per write, so identical listings across two calls
    * prove the second call did NOT rewrite. */
  private def partFiles(table: String): Set[String] = {
    val wh = Paths.get(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    val loc = wh.resolve(table.toLowerCase)
    if (!Files.exists(loc)) Set.empty
    else {
      val s = Files.list(loc)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("part-")).toSet
      } finally s.close()
    }
  }

  test("q124: unchanged dir skips the rebuild; a changed drop under " +
      "the same path rebuilds and stays value-correct") {
    val dir = copyFixture()
    val d = dir.toString
    def plain(): Map[(Long, String), (Long, String)] =
      Tables.orders(spark, d)
        .join(Tables.customer(spark, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), graft.ops.Det.dsum(col("o_totalprice")))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), String.valueOf(r.get(3))))).toMap
    def served(): Map[(Long, String), (Long, String)] =
      Layout.bucketedJoin(spark, d).collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), String.valueOf(r.get(3))))).toMap

    val ordT = s"graft_bkt_orders_${Layout.dirTag(d)}"
    assert(served() === plain(), "first build disagrees with raw join")
    val files1 = partFiles(ordT)
    assert(files1.nonEmpty, "bucketed table not materialized")

    // unchanged dir: second call must NOT rewrite the persisted layout
    assert(served() === plain())
    assert(partFiles(ordT) === files1,
      "unchanged source must not trigger a rebuild")

    // same path, new data: drop every order of one customer — a stale
    // bucketed table would still report that customer's old totals
    val victim = Tables.orders(spark, d)
      .agg(max(col("o_custkey"))).collect()(0).getLong(0)
    replaceTable(dir, "orders", _.filter(col("o_custkey") =!= victim))
    val after = served()
    assert(after === plain(),
      "post-mutation serve disagrees with raw recomputation (stale table?)")
    assert(!after.keySet.exists(_._1 == victim),
      "dropped customer still served from the stale bucketed layout")
    assert(partFiles(ordT) !== files1, "mutation must rebuild the table")
  }

  test("q153: the persisted IVF-PQ index rebuilds when the corpus " +
      "under the same path changes, and skips when it does not") {
    val dir = copyFixture()
    val d = dir.toString
    def key(rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Long, Long)] =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val idxT = s"graft_pq_index_${Layout.dirTag(d)}"

    val serve1 = key(Similarity.ivfPqServe(spark, d).collect())
    val mem1 = key(Similarity.ivfPqSearch(spark, d).collect())
    assert(serve1 === mem1, "persisted index diverges from in-memory build")
    val files1 = partFiles(idxT)
    assert(files1.nonEmpty, "index table not materialized")

    // unchanged dir: serving again reads the same index files
    assert(key(Similarity.ivfPqServe(spark, d).collect()) === serve1)
    assert(partFiles(idxT) === files1,
      "unchanged corpus must not trigger an index rebuild")

    // replace the corpus under the SAME path with its lower half: a
    // stale index would keep returning the removed vec_ids as neighbors
    val half = Tables.embeddings(spark, d)
      .agg(max(col("vec_id"))).collect()(0).getLong(0) / 2
    replaceTable(dir, "embeddings", _.filter(col("vec_id") <= half))
    val serve2 = key(Similarity.ivfPqServe(spark, d).collect())
    val mem2 = key(Similarity.ivfPqSearch(spark, d).collect())
    assert(serve2 === mem2,
      "post-mutation serve disagrees with in-memory rebuild (stale index?)")
    assert(!serve2.exists(_._2 > half),
      "removed vectors still served from the stale index")
    assert(partFiles(idxT) !== files1, "mutation must rebuild the index")
  }

  test("q125/q126: a corpus replaced in place refits the session's " +
      "memoized models, keeping one memo entry per (session, dir)") {
    val dir = copyFixture()
    val d = dir.toString
    def answers(s: org.apache.spark.sql.SparkSession) =
      (Model.nbQualityFilter(s, d).collect().toSeq,
        Model.lmPerplexityFilter(s, d).collect().toSeq)
    val (q125, q126) = answers(spark)
    // keep half the documents: both fits see different seed counts
    replaceTable(dir, "documents", _.filter(col("doc_id") % 2 === 0))
    val (fresh125, fresh126) = answers(spark.newSession())
    assert(fresh125 !== q125, "the rewrite must change q125's answer")
    assert(fresh126 !== q126, "the rewrite must change q126's answer")
    val (same125, same126) = answers(spark)
    assert(same125 === fresh125, "q125 scored against the stale NB fit")
    assert(same126 === fresh126, "q126 scored against the stale LM fit")
    assert(Model.nbModelCache.entries(spark, d) === 1)
    assert(Model.lmFitCache.entries(spark, d) === 1)
    assert(Tables.resolved.entries(spark, d) === 1)
  }

  test("the Dedup, Retrieval, Graph, Similarity, snapshot and Avro memos " +
      "rebuild in the same session after documents and embeddings change") {
    val dir = copyFixture()
    val d = dir.toString
    val names = Seq("q57_dedup_clusters", "q174_mrr_audit", "q242_graph_bfs",
      "q160_graph_centrality", "q236_snapshot_stats", "q222_avro_roundtrip")
    def answers(s: org.apache.spark.sql.SparkSession) = names.map(n =>
      n -> SparkEntry.queries(n)(s, d).collect().map(_.toString).toSeq.sorted)
      .toMap
    val before = answers(spark)
    replaceTable(dir, "documents", _.filter(col("doc_id") % 2 === 0))
    val half = Tables.embeddings(spark, d)
      .agg(max(col("vec_id"))).collect()(0).getLong(0) / 2
    // dropping the first probe's own vector also changes q174's MRR,
    // which the halving alone leaves as it was
    replaceTable(dir, "embeddings", _.filter(col("vec_id") <= half &&
      col("vec_id") =!= Retrieval.fuseQueryIds.head))
    val fresh = answers(spark.newSession())
    val same = answers(spark)
    names.foreach { n =>
      assert(fresh(n) !== before(n), s"the rewrite must change $n's answer")
      assert(same(n) === fresh(n), s"$n served a stale memo")
    }
    Seq(Dedup.pairsCache, Dedup.clustersCache, Retrieval.fusedCache,
      Retrieval.truthCache, Graph.edgeCache, Similarity.adjCache,
      SnapTable.snapCache, AvroIo.avroDocsCache)
      .foreach(m => assert(m.entries(spark, d) === 1))
    Seq("documents", "embeddings").foreach(t =>
      assert(Tables.resolved.entries(spark, s"$d/$t.parquet") === 1))
  }
}
