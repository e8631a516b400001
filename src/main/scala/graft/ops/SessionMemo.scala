package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Session-keyed memo for shared materialized relations (checkpointed
  * pair feeds, PCA parts, BPE fits, resolved tables, …).
  *
  * Entries are keyed by (session, data dir) and hold the stamp of every
  * table path their build read ([[SessionMemo.dependOn]]; a nested
  * lookup, hit or miss, adds the inner entry's paths to the outer
  * build's). A lookup re-stats those paths and, if any stamp moved,
  * rebuilds and REPLACES the entry, so a rewrite keeps one entry per
  * (session, dir) — a stamp inside the key would instead add an entry
  * per rewrite, each pinned until the LRU evicts it.
  *
  * Every access first purges keys whose owning session has STOPPED:
  * their localCheckpoint blocks died with that session's BlockManager,
  * so holding the DataFrames would strongly pin dead plans (and their
  * checkpoint metadata) for the life of the JVM — the
  * many-short-sessions leak a plain session-keyed ConcurrentHashMap has
  * in a test harness.
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
  // each value is held with the (path -> stamp) reads of its build
  private val m =
    new java.util.LinkedHashMap[(SparkSession, String),
        (Map[String, String], V)](16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[
          (SparkSession, String), (Map[String, String], V)]): Boolean =
        this.size() > SessionMemo.MaxEntries
    }

  /** The (session, dir) entry, built on first access and rebuilt when a
    * path its build read has a new stamp (one `stat` per read path). */
  def getOrBuild(s: SparkSession, dir: String)(build: => V): V =
    m.synchronized {
      val it = m.keySet.iterator()
      while (it.hasNext) if (isDead(it.next()._1)) it.remove()
      val k = (s, dir)
      var e = m.get(k)
      if (e == null ||
          e._1.exists { case (p, st) => SessionMemo.stamp(s, p) != st }) {
        e = SessionMemo.recording(build)
        m.put(k, e)
      }
      SessionMemo.record(e._1)
      e._2
    }

  /** Entries held for `s` under dirs starting with `prefix`, for specs
    * asserting that a rewrite replaced its entry instead of adding one. */
  private[graft] def entries(s: SparkSession, prefix: String): Int =
    m.synchronized(m.keySet.asScala.count(k =>
      (k._1 eq s) && k._2.startsWith(prefix)))

  /** Live-entry count, for specs asserting the purge actually fires. */
  private[graft] def size: Int = m.synchronized(m.size)
}

object SessionMemo {
  /** LRU cap per memo — generous for real use (a handful of
    * (session, dir) pairs), small enough that a runaway
    * many-clone-sessions harness cannot pin unbounded checkpoint
    * state. */
  final val MaxEntries = 64

  // the (path -> stamp) reads of the innermost memo build running on
  // this thread; null outside any build
  private val reads = new ThreadLocal[mutable.Map[String, String]]

  private def recording[V](build: => V): (Map[String, String], V) = {
    val outer = reads.get
    val mine = mutable.Map.empty[String, String]
    reads.set(mine)
    val v = try build finally reads.set(outer)
    (mine.toMap, v)
  }

  // the first stamp seen for a path wins: a path rewritten during the
  // build then reads as moved on the next lookup
  private def record(paths: Map[String, String]): Unit = {
    val open = reads.get
    if (open != null) paths.foreach(kv => open.getOrElseUpdate(kv._1, kv._2))
  }

  /** Records `path`, at its current stamp, as read by the memo builds
    * running on this thread, so their entries rebuild once it changes.
    * `Tables.load` calls it for every table; one `stat`. */
  def dependOn(s: SparkSession, path: String): Unit =
    record(Map(path -> stamp(s, path)))

  /** A path's stamp: its modification time and length, from one `stat`.
    * A file or directory moved over the path changes it; edits below a
    * directory that leave both as they were do not (see `Tables`). */
  private def stamp(s: SparkSession, path: String): String = {
    val p = new Path(path)
    val st = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    s"${st.getModificationTime}:${st.getLen}"
  }
}
