package graft

import java.nio.file.{Files, Path}

/** Scratch-directory registry for queries that materialize temp stores
  * in-body (the s14/dx08 stored-index convention writes a FactTable or
  * parquet copy per invocation so the serving path under test reads a
  * REAL store).
  *
  * Two leaks this fixes (ADVICE r11): a bench/scale loop invoking the
  * same query N times piled N store copies into /tmp until the JVM
  * died, and nothing deleted them even then. `scratch(key)` returns a
  * FRESH directory per call (append-lifecycle queries rely on starting
  * empty) but deletes the PREVIOUS directory registered under the same
  * key — bounding live copies to one per (query, store) — and a JVM
  * shutdown hook removes whatever is still registered at exit.
  *
  * Safety: callers consume each invocation's result fully before
  * re-invoking the same query (Verify writes parquet per query; Bench
  * counts per iteration), so the previous store is never still being
  * read when its successor's scratch() call deletes it. Keys are
  * query-scoped, so distinct queries never interfere.
  */
object TempDirs {
  private val byKey =
    new java.util.concurrent.ConcurrentHashMap[String, Path]()

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => try Files.deleteIfExists(f) catch { case _: Exception => () })
    }

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    import scala.jdk.CollectionConverters._
    byKey.values().asScala.foreach(deleteRecursively)
  }))

  /** A fresh dir named after `prefix`, deleting the previous dir issued
    * under `key`. */
  private def fresh(prefix: String, key: String): String = {
    val dir = Files.createTempDirectory(prefix)
    val prev = byKey.put(key, dir)
    if (prev != null) deleteRecursively(prev)
    dir.toString
  }

  /** A fresh scratch dir for `key`, deleting the previous dir issued
    * under the same key. Returns the path as a String (FactTable/parquet
    * roots take strings).
    */
  def scratch(key: String): String = fresh(key, key)

  private val stores = scala.collection.mutable.HashMap[String, String]()

  /** A MEMOIZED store: the root `build` filled for (`tag`, `inputs`),
    * reused by every later call with the same key while its FactTable
    * log is non-empty, and rebuilt in a fresh dir once the scratch dir
    * was reaped (tmp cleanup). The key must cover EVERY input the build
    * reads besides the corpus files themselves — a store keyed on less
    * silently serves one input's build to another. The dir is named
    * `tag` + a hash of the full key and registered for reaping under the
    * full key, so two keys never reap each other's store.
    *
    * One reentrant lock (the object monitor) guards the memo: builds
    * nest — a derived store's build reads base stores through this same
    * call — which a non-reentrant get-or-build (or
    * `ConcurrentHashMap.computeIfAbsent`) would deadlock or reject.
    */
  def store(tag: String, inputs: Any*)(build: String => Unit): String =
    stores.synchronized {
      val key = (tag +: inputs).mkString("#")
      def live(root: String) =
        Option(new java.io.File(root, "_graft_log").list()).exists(_.nonEmpty)
      stores.get(key).filter(live).getOrElse {
        val root = fresh(tag + "_" + Integer.toHexString(key.hashCode) + "_", key)
        build(root)
        stores(key) = root
        root
      }
    }
}
