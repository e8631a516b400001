package graft

import graft.ops.SessionMemo
import graft.tables.Tables

/** Every session memo (the resolved tables, the model fits, the
  * Retrieval/Dedup/Similarity/Graph relations, the io fixtures) routes
  * through [[SessionMemo]]; this spec pins the eviction contract
  * the round-9 review flagged: entries owned by a stopped session must
  * become unreachable on the NEXT access, not live for the JVM — and
  * the staleness contract: an entry whose build loaded a table rebuilds
  * in place once that table is rewritten, also through a nested memo.
  *
  * The harness shares one local SparkContext across every spec, so a
  * genuinely stopped session cannot be staged here — the liveness
  * predicate is injectable for exactly this reason, and production
  * call-sites use the default `sparkContext.isStopped`.
  */
class SessionMemoSpec extends SparkSpec {

  test("stopped sessions' entries are purged on the next access") {
    val dead = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[
        org.apache.spark.sql.SparkSession, java.lang.Boolean]())
    val memo = new SessionMemo[String](dead.contains)
    val s1 = spark
    val s2 = spark.newSession()
    var builds = 0
    def build(tag: String): String = { builds += 1; tag }

    assert(memo.getOrBuild(s1, "/a")(build("s1a")) === "s1a")
    assert(memo.getOrBuild(s2, "/a")(build("s2a")) === "s2a")
    assert(memo.getOrBuild(s1, "/a")(build("again")) === "s1a") // memo hit
    assert(builds === 2 && memo.size === 2)

    // s1 "stops": its entry must vanish on the next access, s2's stays
    dead.add(s1)
    assert(memo.getOrBuild(s2, "/a")(build("rebuild2")) === "s2a")
    assert(memo.size === 1, "stopped session's entry not purged")
    assert(builds === 2, "live session's entry was wrongly invalidated")
  }

  test("the LRU cap bounds growth when no session ever 'stops'") {
    // newSession() clones share the context, so the stopped-predicate
    // never fires for abandoned clones; the access-order cap is what
    // bounds that case
    val memo = new SessionMemo[Int](_ => false)
    (0 to SessionMemo.MaxEntries + 10).foreach(i =>
      memo.getOrBuild(spark, s"/d$i")(i))
    assert(memo.size === SessionMemo.MaxEntries, "cap not enforced")
    // the most recent entry is retained (no rebuild on re-access)…
    var rebuilt = false
    val last = SessionMemo.MaxEntries + 10
    assert(memo.getOrBuild(spark, s"/d$last") { rebuilt = true; -1 } === last)
    assert(!rebuilt, "hot entry was wrongly evicted")
    // …and the eldest was the one evicted
    assert(memo.getOrBuild(spark, "/d0") { rebuilt = true; -2 } === -2)
    assert(rebuilt, "eldest entry survived past the cap")
  }

  /** Writes `rows` ids as the parquet table `<dir>/t.parquet`, replacing
    * any earlier one through its root, as a table rewrite does. */
  private def writeT(dir: String, rows: Long): Unit =
    spark.range(rows).write.mode("overwrite").parquet(s"$dir/t.parquet")

  test("a rewritten input table rebuilds the entry and replaces it") {
    val d = java.nio.file.Files.createTempDirectory("graft_memo_").toString
    writeT(d, 3)
    val memo = new SessionMemo[Long](_ => false)
    var builds = 0
    def rows(): Long = memo.getOrBuild(spark, d) {
      builds += 1
      Tables.load(spark, d, "t").count()
    }
    assert(rows() === 3 && rows() === 3)
    assert(builds === 1, "an unchanged table must not rebuild")
    writeT(d, 5)
    assert(rows() === 5, "served the value built from the old table")
    assert(rows() === 5 && builds === 2)
    assert(memo.size === 1, "a rewrite added an entry instead of replacing")
    assert(memo.entries(spark, d) === 1)
  }

  test("an outer memo rebuilds when the table behind an inner memo it " +
      "hit is rewritten") {
    val d = java.nio.file.Files.createTempDirectory("graft_memo_").toString
    writeT(d, 3)
    val inner = new SessionMemo[Long](_ => false)
    val outer = new SessionMemo[Long](_ => false)
    def innerRows(): Long =
      inner.getOrBuild(spark, d)(Tables.load(spark, d, "t").count())
    var outerBuilds = 0
    def outerRows(): Long = outer.getOrBuild(spark, d) {
      outerBuilds += 1
      innerRows() * 10
    }
    // the inner entry exists first, so the outer build only HITS it
    assert(innerRows() === 3)
    assert(outerRows() === 30 && outerRows() === 30)
    assert(outerBuilds === 1)
    writeT(d, 5)
    assert(outerRows() === 50,
      "the outer memo missed the table its inner hit depends on")
    assert(outerBuilds === 2 && innerRows() === 5)
    assert(outer.entries(spark, d) === 1 && inner.entries(spark, d) === 1)
  }

  test("production memos default to sparkContext.isStopped") {
    // the default predicate is the real liveness check — a live local
    // session must be retained across accesses
    val memo = new SessionMemo[Int]()
    assert(memo.getOrBuild(spark, "/x")(7) === 7)
    assert(memo.getOrBuild(spark, "/x")(99) === 7)
    assert(memo.size === 1)
  }
}
