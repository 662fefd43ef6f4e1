package graft

import org.scalatest.funsuite.AnyFunSuite

class ProcStatSpec extends AnyFunSuite {

  private def samplerAlive: Boolean = {
    val it = Thread.getAllStackTraces.keySet.iterator()
    var alive = false
    while (it.hasNext) {
      val t = it.next()
      if (t.getName == "graft-stall-sampler" && t.isAlive) alive = true
    }
    alive
  }

  test("windowed rethrows and stops its stall sampler when the body throws") {
    val e = intercept[IllegalStateException] {
      ProcStat.windowed[Unit](throw new IllegalStateException("boom"))
    }
    assert(e.getMessage == "boom")
    val deadline = System.nanoTime() + 2000L * 1000 * 1000
    while (samplerAlive && System.nanoTime() < deadline) Thread.sleep(20)
    assert(!samplerAlive, "graft-stall-sampler still running after the body threw")
  }

  test("an unreadable jiffy window keeps the PSI shares and stall columns") {
    val c0 = ProcStat.Counters(-1L, -1L, -1L, -1L, (100L, 200L, 300L, 400L))
    val c1 = ProcStat.Counters(-1L, -1L, -1L, -1L, (600L, 200L, 400L, -1L))
    val w = ProcStat.window(c0, c1, wallUs = 1000.0, load = 1.5,
      stallFrac = 0.25, stallSite = "a.B.park")
    assert(w == ProcStat.Window(-1.0, -1.0, -1.0, 1.5,
      psiCpu = 0.5, psiIo = 0.0, psiIoFull = 0.1, psiMem = -1.0,
      stallFrac = 0.25, stallSite = "a.B.park"))
    assert(!w.impeached)
  }

  test("a readable window splits the jiffies into other, own and io shares") {
    val c0 = ProcStat.Counters(100L, 1000L, 10L, 40L, (0L, 0L, 0L, 0L))
    val c1 = ProcStat.Counters(300L, 2000L, 30L, 140L, (0L, 0L, 0L, 0L))
    val w = ProcStat.window(c0, c1, 1000.0, 0.0, 0.0, "")
    assert((w.otherCpu, w.ownCpu, w.ioWait) == (0.1, 0.1, 0.02))
  }
}
