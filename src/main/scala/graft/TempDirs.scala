package graft

import java.nio.file.{Files, LinkOption, Path}
import java.util.concurrent.ConcurrentHashMap

/** JVM-exit cleanup for the temp directories the engine caches under
  * /tmp (skew-join output, dimension/bucketed layouts, JSONL exports),
  * and the one per-JVM memo those staged derivatives live in.
  * `File.deleteOnExit` is a no-op for a non-empty directory, so those
  * parquet trees would otherwise persist across JVM runs — one dir per
  * process. One shutdown hook deletes every registered tree
  * recursively, best-effort (exit-time IO failures are swallowed). */
object TempDirs {
  private val registered = ConcurrentHashMap.newKeySet[Path]()

  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      registered.forEach(deleteRecursively)
    }, "graft-tempdir-cleanup"))

  /** Register an existing directory for recursive deletion at exit. */
  def register(p: Path): Path = { hookInstalled; registered.add(p); p }

  /** Create a temp directory already registered for exit cleanup. */
  def create(prefix: String): Path =
    register(Files.createTempDirectory(prefix))

  /** Immediate recursive delete (the q142 vacuum path, a finished
    * stream's checkpoint) — same best-effort semantics as the exit
    * hook. The path stays registered, so a tree that something
    * re-creates after this call still goes at exit. */
  def deleteTree(p: Path): Unit = deleteRecursively(p)

  /** Never descends through a symlink: a link to a directory (a staged
    * stream dir pointing at a fixture's `events.parquet`) is removed as
    * a link, and its target is left alone. */
  private def deleteRecursively(p: Path): Unit = {
    try {
      if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
        val children = Files.list(p)
        try children.forEach(deleteRecursively)
        finally children.close()
      }
      Files.deleteIfExists(p)
    } catch { case _: java.io.IOException => () }
  }

  /** One memo cell: `build` runs at most once on success, under the
    * cell's own lock, never under the map's. */
  private final class Cell[T](private var build: () => T) {
    lazy val value: T = { val v = build(); build = null; v }
  }

  private val cells = new ConcurrentHashMap[(String, String), Cell[_]]()

  /** The value of `build` for `(name, key)`, computed once per JVM.
    * `name` names one call site; `key` is what the value depends on
    * (a fixture dir, a content fingerprint, a floor-mode suffix).
    *
    * Nesting: `build` may call [[memo]] or [[staged]] for any other
    * `(name, key)` — it runs outside the map's lock, so one staged
    * input built from another is fine. Concurrent callers of one
    * `(name, key)` wait for a single `build`. Failure: if `build`
    * throws, nothing is remembered and the next call builds again. */
  def memo[T](name: String, key: String)(build: => T): T = {
    val k = (name, key)
    val cell = cells.computeIfAbsent(k, _ => new Cell(() => build))
      .asInstanceOf[Cell[T]]
    try cell.value
    catch { case e: Throwable => cells.remove(k, cell); throw e }
  }

  /** A directory tree `graft-<name>*` filled once per JVM by `write`
    * and memoized like [[memo]]. If `write` throws, the tree is deleted
    * at once (not at exit) and the next call stages a fresh one. */
  def staged(name: String, key: String)(write: Path => Unit): Path =
    memo(name, key) {
      val dir = create(s"graft-$name")
      try write(dir)
      catch { case e: Throwable => deleteTree(dir); registered.remove(dir); throw e }
      dir
    }
}
