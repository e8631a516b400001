package graft

import graft.ops.SessionMemo

/** The six shared-relation caches (Retrieval fused/truth, Dedup
  * pairs/clusters, Similarity pcaParts/adjacency, Model seedFit) all
  * route through [[SessionMemo]]; this spec pins the eviction contract
  * the round-9 review flagged: entries owned by a stopped session must
  * become unreachable on the NEXT access, not live for the JVM.
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

  test("a new stamp rebuilds the entry and replaces it") {
    val memo = new SessionMemo[String](_ => false)
    var builds = 0
    def build(tag: String): String = { builds += 1; tag }
    assert(memo.getOrBuild(spark, "/a", 1L)(build("v1")) === "v1")
    assert(memo.getOrBuild(spark, "/a", 1L)(build("again")) === "v1")
    assert(memo.getOrBuild(spark, "/a", 2L)(build("v2")) === "v2")
    assert(memo.getOrBuild(spark, "/a", 2L)(build("again")) === "v2")
    assert(builds === 2)
    assert(memo.size === 1, "a rewrite added an entry instead of replacing")
    assert(memo.entries(spark, "/a") === 1)
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
