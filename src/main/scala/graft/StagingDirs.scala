package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** The one way a query stages an artifact it lands and reads back (estate
  * versions, compacted layouts, stream symlink stages, round-trip files).
  *
  *   - [[dir]] names the directory `<tmpdir>/graft_<tag>_<applicationId>`,
  *     plus `_<key>` with every character outside `[A-Za-z0-9.-]` turned
  *     into `_` (the key is usually the dataset path), and registers it.
  *     Keying by applicationId keeps two JVMs off each other's stages, and
  *     keying by the full sanitized key keeps two datasets apart; a query
  *     that runs many times in one session (bench attempts) finds its own
  *     stage again instead of re-landing it.
  *   - [[fresh]] is a new, created directory on every call (`dir` keyed
  *     `r<n>` by one JVM-wide counter): the estate of a stream that must
  *     not resume a committed checkpoint when its query runs again, or a
  *     re-run would measure a no-op.
  *   - [[once]] runs a stage's build only while `<dir>/_STAGED` is absent
  *     and writes that marker only after the build returns, so a build that
  *     throws is retried by the next call.
  *   - `graft.sources.VersionedCatalog.mount` is the one writer of a versioned
  *     catalog's registration, under a fixed name on the query's own child.
  *
  * `java.io.tmpdir` is read on every [[dir]] and [[fresh]] call, never
  * cached: a harness may move it between passes (perfbench gives each pass
  * its own tmpdir), and a cached value would replay the first pass's
  * stages.
  *
  * Every registered directory is deleted in a JVM shutdown hook, after
  * `SparkSession.stop` (the harness mains stop Spark before exiting and
  * specs share one session for the JVM lifetime). Paths derived from a
  * staged or fresh base (`<base>_feed`, `<base>_ckpt`) go through
  * [[register]] directly.
  */
object StagingDirs {

  private val dirs = scala.collection.mutable.LinkedHashSet.empty[String]
  private var hooked = false

  /** The registered staging dir for `tag` (and `key`, when non-empty) in
    * this application. */
  def dir(s: SparkSession, tag: String, key: String = ""): String = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_" +
      s.sparkContext.applicationId
    register(if (key.isEmpty) base else s"${base}_${key.replaceAll("[^A-Za-z0-9.-]", "_")}")
  }

  private val runs = new AtomicLong(0)

  /** A new registered staging dir for `tag`, created, on every call. */
  def fresh(s: SparkSession, tag: String): String = {
    val d = dir(s, tag, s"r${runs.incrementAndGet()}")
    Files.createDirectories(Paths.get(d))
    d
  }

  /** Run `build` unless `dir` already carries its `_STAGED` marker; the
    * marker is written only after `build` returns. */
  def once(dir: String)(build: => Unit): Unit = {
    val marker = Paths.get(dir, "_STAGED")
    if (!Files.exists(marker)) {
      build
      Files.createFile(marker)
    }
  }

  /** Register a staging dir for deletion at JVM exit; returns the path. */
  def register(path: String): String = synchronized {
    if (!hooked) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteAll()))
      hooked = true
    }
    dirs += path
    path
  }

  private[graft] def isRegistered(path: String): Boolean = synchronized(dirs(path))

  private def deleteAll(): Unit = synchronized {
    dirs.foreach { d =>
      try {
        val p = Paths.get(d)
        if (Files.exists(p))
          Files.walk(p).sorted(Comparator.reverseOrder[Path]())
            .forEach(f => { try Files.deleteIfExists(f) catch { case _: Exception => () } })
      } catch { case _: Exception => () }
    }
    dirs.clear()
  }
}
