package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit behavior of the body-wide contention integral: Bench's
  * `sweep_steal` tuples and the contention gate read these fields, so
  * the monitor must (a) actually sample on this platform, (b) produce
  * fractions, and (c) degrade to a self-identifying zero (samples = 0)
  * rather than a fabricated calm reading when the proc read fails. No
  * Spark session involved — the monitor is pure /proc arithmetic. */
class StealMonitorSpec extends AnyFunSuite {

  test("integrates a short window into steal fractions") {
    val m = StealMonitor.start(periodMs = 50L)
    // burn a little CPU so the window has nonzero total jiffies
    val t0 = System.nanoTime()
    var x = 0L
    while (System.nanoTime() - t0 < 300e6) x += 1
    val r = m.stop()
    assert(r.seconds > 0.25 && r.seconds < 10.0, r.toString)
    // on Linux the proc read must succeed and close the tail window
    assert(r.samples >= 1, s"no samples on a /proc platform: $r")
    // steal is a fraction of total CPU time
    assert(r.stealIntegral >= 0.0 && r.stealIntegral <= 1.0)
    assert(r.stealPeak >= 0.0 && r.stealPeak <= 1.0)
    assert(r.stealPeak >= r.stealIntegral - 1e-9,
      "the worst window cannot be below the mean")
  }

  test("stop is safe immediately after start (sub-period body)") {
    val r = StealMonitor.start(periodMs = 60000L).stop()
    // the tail-window close still integrates the (tiny) body, or the
    // delta rounds to zero jiffies and the result is the honest empty
    assert(r.stealIntegral >= 0.0 && r.stealIntegral <= 1.0, r.toString)
    assert(r.samples >= 0)
  }

  test("stop is idempotent — the second call returns the latched result") {
    val m = StealMonitor.start(periodMs = 50L)
    val t0 = System.nanoTime()
    var x = 0L
    while (System.nanoTime() - t0 < 150e6) x += 1
    val first = m.stop()
    // a re-reading second stop would append a duplicate tail window
    // into the peak set and report a longer body (r15, ADVICE); the
    // latch must return the identical Result
    val second = m.stop()
    assert(second === first, s"second stop() diverged: $second vs $first")
  }
}
