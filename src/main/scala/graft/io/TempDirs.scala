package graft.io

import java.io.File

/** Temp directories for materialized artifacts (ORC/partitioned/
  * bucketed copies, the curated corpus, stream staging), registered
  * for recursive deletion at JVM exit. Their paths are MemoPool
  * entries, and dropping an entry (session stop, `clear`) never
  * deletes the directory, so long-lived dev machines accumulated
  * orphaned full-corpus parquet copies in /tmp across harness runs.
  * Deletion at exit bounds the leak to one JVM's working set (a crash
  * still orphans; the prefix names make those greppable).
  */
object TempDirs {
  private val created =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    created.forEach(p => delete(new File(p)))))

  private def delete(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(delete)
    f.delete(): Unit
  }

  /** Recursive delete NOW (not at exit) — for callers that manage
    * sub-directory lifetimes themselves (the CDC store's superseded
    * version dirs). */
  def deleteRecursively(p: java.nio.file.Path): Unit = delete(p.toFile)

  /** createTempDirectory + register for recursive delete at JVM exit. */
  def create(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix).toString
    created.add(p)
    p
  }
}
