package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The staging memo's contract: one build per (name, key), nesting,
  * cleanup of a failed build, and deletes that never follow links. */
class TempDirsSpec extends AnyFunSuite {

  /** A key no other spec (or earlier run of this one) has used. */
  private def freshKey(): String = java.util.UUID.randomUUID().toString

  test("8 concurrent callers of one (name, key) build once and share the path") {
    val key = freshKey()
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map { _ =>
        pool.submit(new Callable[Path] {
          def call(): Path = {
            start.await()
            TempDirs.staged("spec-concurrent", key) { dir =>
              builds.incrementAndGet()
              Thread.sleep(50)
              Files.write(dir.resolve("f"), Array[Byte](1))
            }
          }
        })
      }
      start.countDown()
      val paths = futures.map(_.get(60, TimeUnit.SECONDS)).toSet
      assert(builds.get == 1)
      assert(paths.size == 1)
      assert(Files.isRegularFile(paths.head.resolve("f")))
    } finally pool.shutdownNow()
  }

  test("a build that stages another key returns normally") {
    val key = freshKey()
    val outer = TempDirs.staged("spec-outer", key) { dir =>
      val inner = TempDirs.staged("spec-inner", key) { d =>
        Files.write(d.resolve("inner"), Array[Byte](1))
      }
      val n = TempDirs.memo("spec-inner-size", key)(Files.size(inner.resolve("inner")))
      Files.copy(inner.resolve("inner"), dir.resolve(s"copy-$n"))
    }
    assert(Files.isRegularFile(outer.resolve("copy-1")))
    assert(TempDirs.memo("spec-inner-size", key)(-1L) == 1L)
  }

  test("a throwing write leaves no tree, and the next call builds") {
    val key = freshKey()
    var failed: Path = null
    val err = intercept[IllegalStateException] {
      TempDirs.staged("spec-failing", key) { dir =>
        failed = dir
        Files.write(dir.resolve("half-written"), Array[Byte](1))
        throw new IllegalStateException("write failed")
      }
    }
    assert(err.getMessage == "write failed")
    assert(failed != null && !Files.exists(failed))
    val ok = TempDirs.staged("spec-failing", key) { dir =>
      Files.write(dir.resolve("done"), Array[Byte](1))
    }
    assert(ok != failed)
    assert(Files.isRegularFile(ok.resolve("done")))
  }

  test("the same key under two names gives two trees") {
    val key = freshKey()
    val a = TempDirs.staged("spec-name-a", key)(_ => ())
    val b = TempDirs.staged("spec-name-b", key)(_ => ())
    assert(a != b)
    assert(a.getFileName.toString.startsWith("graft-spec-name-a"))
    assert(b.getFileName.toString.startsWith("graft-spec-name-b"))
    assert(TempDirs.staged("spec-name-a", key)(_ => ()) == a)
  }

  test("deleteTree removes a link to an outside dir, not the dir's files") {
    val outside = Files.createTempDirectory("graft-spec-outside")
    try {
      val kept = Files.write(outside.resolve("events.parquet"), Array[Byte](1))
      val tree = TempDirs.create("graft-spec-links")
      Files.createSymbolicLink(tree.resolve("events.parquet"), outside)
      TempDirs.deleteTree(tree)
      assert(!Files.exists(tree))
      assert(Files.isDirectory(outside))
      assert(Files.isRegularFile(kept))
    } finally {
      Files.deleteIfExists(outside.resolve("events.parquet"))
      Files.deleteIfExists(outside)
    }
  }
}
