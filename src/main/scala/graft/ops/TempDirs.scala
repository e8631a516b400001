package graft.ops

/** Temp directories for session-memoized fixtures, cleaned up at JVM
  * exit by ONE shutdown hook that deletes every registered dir
  * recursively. `Tables.documentsFixture` is the one caller in the
  * engine: it creates each documents-derived table (the Avro and JSONL
  * copies, the q236–q274 snapshot tables) in its own dir here.
  *
  * Eager deletion on SessionMemo eviction would be wrong — a still-live
  * sibling session can hold lazy plans over the files — so the bound is
  * JVM-lifetime disk. Without the hook that bound was MONOTONIC across
  * a long-lived harness process: every memo miss wrote a fresh
  * /tmp/graft_* corpus copy that nothing ever deleted. */
object TempDirs {
  private val dirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    dirs.forEach { d =>
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(d))
    }))

  /** A fresh temp dir that dies with the JVM. */
  def create(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    dirs.add(d)
    d
  }
}
