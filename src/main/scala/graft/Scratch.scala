package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.SparkSession

/** Per-process scratch directories for queries that round-trip through
  * a filesystem sink (bucketed copies, ORC/JSON/CSV round trips,
  * partitioned copies, streaming sinks).
  *
  * Keyed by `applicationId` so two concurrent JVMs on the same machine
  * (e.g. `sbt test` alongside a driver run) never `mode(Overwrite)` the
  * same directory — a race that could hand the read-back side of a
  * round-trip query corrupt or partial results (round-2 advisor
  * finding). Within one application the path is stable, so
  * once-per-session caches (bucketed table copies, IVF indexes) still
  * amortize across a bench's min-of-2 runs.
  *
  * Because the key is per-application, no later run ever overwrites a
  * predecessor's directory — so each application's subtree is deleted
  * on JVM exit (a shutdown hook per (group, appId)); otherwise repeated
  * test/bench runs would fill tmpdir with abandoned table copies.
  */
object Scratch {

  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def dir(s: SparkSession, group: String, tag: String): String = {
    val tmp = System.getProperty("java.io.tmpdir")
    val appRoot = s"$tmp/$group/${s.sparkContext.applicationId}"
    if (cleanupRegistered.add(appRoot)) {
      sys.addShutdownHook(deleteRecursively(Paths.get(appRoot)))
    }
    s"$appRoot/${Scratch.tag(tag)}"
  }

  /** The one sanitization of a dataset key into a path, table,
    * database or query-name fragment. Leading non-alphanumerics are
    * dropped first: an absolute path's leading `/` would otherwise
    * become a leading `_`, and Spark skips such leaves as hidden.
    * Idempotent, so an already sanitized key maps to itself. */
  def tag(d: String): String =
    d.replaceAll("^[^A-Za-z0-9]+", "").replaceAll("[^A-Za-z0-9]", "_")

  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The one build-once guard for on-disk fixtures: run `build` at most
    * once per scratch `dir` lifetime and return `dir`. A `_DONE` marker
    * written after `build` returns records completion, so later calls
    * (the same query verified at several SFs, bench min-of-2 runs)
    * skip the build. Three guarantees:
    *  - concurrent callers coalesce: a per-`dir` lock makes the second
    *    caller wait for the first and then see the marker, so `build`
    *    never runs twice at once over the same files;
    *  - a failed build is redone from empty: whatever an earlier
    *    attempt left in `dir` is deleted before `build` runs again, so
    *    a body that appends never stacks a retry on a partial write;
    *  - one key: `dir` comes from [[Scratch.dir]], which sanitizes the
    *    tag and scopes the path by applicationId, so the lock and the
    *    marker are per application and no other process reads a
    *    half-built tree.
    * Multi-output fixtures guard on one directory and may write
    * siblings next to it; a sibling must be written with overwrite,
    * since only `dir` itself is cleared. */
  def materializeOnce(dir: String)(build: => Unit): String = {
    val done = Paths.get(dir, "_DONE")
    buildLocks.computeIfAbsent(dir, _ => new Object).synchronized {
      if (!Files.exists(done)) {
        deleteRecursively(Paths.get(dir))
        Files.createDirectories(Paths.get(dir))
        build
        Files.createFile(done)
      }
    }
    dir
  }

  /** Recursive delete for callers that retire a scratch subtree early
    * (e.g. a per-invocation streaming checkpoint that would otherwise
    * accumulate for the session lifetime). No-op on a missing path. */
  def deleteTree(path: String): Unit = deleteRecursively(Paths.get(path))

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally walk.close()
    }
}
