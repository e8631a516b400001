package graft.ops

import org.apache.spark.sql.SparkSession

/** Session-keyed memo for shared materialized relations (checkpointed
  * pair feeds, PCA parts, BPE fits, …).
  *
  * Entries are keyed by (session, data dir); a stamped lookup also
  * records the input stamp an entry was built at and rebuilds it in
  * place when the stamp changes. Every access first purges
  * keys whose owning session has STOPPED: their localCheckpoint blocks
  * died with that session's BlockManager, so holding the DataFrames
  * would strongly pin dead plans (and their checkpoint metadata) for
  * the life of the JVM — the many-short-sessions leak a plain
  * session-keyed ConcurrentHashMap has in a test harness.
  *
  * The stopped-predicate cannot catch every abandonment: `newSession()`
  * clones share one SparkContext, so an abandoned clone is never "dead"
  * while the harness context lives — and weak keys cannot help either,
  * because the memoized DataFrames strongly reference their session
  * (value → key edge). That residual case is bounded instead: the map
  * is an access-order LRU capped at [[SessionMemo.MaxEntries]], so
  * abandoned clones' entries age out under any sustained use and the
  * worst-case pin is a fixed number of O(shortlist)-sized relations.
  * Evicting a live entry is always safe — the next access rebuilds it.
  */
final class SessionMemo[V](
    // injectable for specs: local[*] tests share ONE SparkContext, so a
    // real stopped session cannot be staged without killing the harness
    private[graft] val isDead: SparkSession => Boolean =
      _.sparkContext.isStopped) {
  // each value is held with the stamp it was built at
  private val m =
    new java.util.LinkedHashMap[(SparkSession, String), (Any, V)](
        16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), (Any, V)]): Boolean =
        this.size() > SessionMemo.MaxEntries
    }

  def getOrBuild(s: SparkSession, dir: String)(build: => V): V =
    getOrBuild(s, dir, ())(build)

  /** The (session, dir) entry as built at `stamp`. An entry built at
    * another stamp is rebuilt and REPLACED, so rewriting an input keeps
    * one entry per (session, dir): a stamp inside the key would instead
    * add an entry per rewrite, each pinned until the LRU evicts it. */
  def getOrBuild(s: SparkSession, dir: String, stamp: Any)(build: => V): V =
    m.synchronized {
      val it = m.keySet.iterator()
      while (it.hasNext) if (isDead(it.next()._1)) it.remove()
      val k = (s, dir)
      val existing = m.get(k)
      if (existing != null && existing._1 == stamp) existing._2
      else {
        val v = build
        m.put(k, (stamp, v))
        v
      }
    }

  /** Entries held for `s` under dirs starting with `prefix`, for specs
    * asserting that a rewrite replaced its entry instead of adding one. */
  private[graft] def entries(s: SparkSession, prefix: String): Int =
    m.synchronized {
      var n = 0
      m.keySet.forEach(k => if ((k._1 eq s) && k._2.startsWith(prefix)) n += 1)
      n
    }

  /** Live-entry count, for specs asserting the purge actually fires. */
  private[graft] def size: Int = m.synchronized(m.size)
}

object SessionMemo {
  /** LRU cap per memo — generous for real use (a handful of
    * (session, dir) pairs), small enough that a runaway
    * many-clone-sessions harness cannot pin unbounded checkpoint
    * state. */
  final val MaxEntries = 64
}
