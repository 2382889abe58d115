package graft

import java.util.concurrent.ConcurrentLinkedQueue

/** Integrated contention observability for long measurement bodies:
  * `graft.Bench` brackets each timed sweep with this monitor (its
  * `sweep_steal` tuples), and [[ContentionGate.awaitCalm]] reads the
  * steal share across each probe. The gate's start/end probes are
  * instants — a multi-minute sweep can start calm, straddle a co-tenant
  * steal wave, and end calm, leaving a contaminated wall with two green
  * stamps (measured: the r13 suite runs caught waves both endpoint
  * probes missed). This monitor integrates host contention OVER the
  * timed body instead of sampling its endpoints: a daemon thread reads
  * the kernel's cumulative CPU accounting (`/proc/stat` first line)
  * every few seconds, and the result is the body-wide STEAL fraction —
  * time the hypervisor ran a co-tenant while this VM had runnable work,
  * the one column that is contention by definition and never includes
  * our own load — plus the peak per-sample-window steal fraction (a
  * wave's footprint even when the body-wide mean is small). The r13
  * host-level audit showed the waves are steal-visible (in-VM process
  * audit empty while walls inflated), so a drift adjudication reads ONE
  * field instead of re-running sweeps in hunted-for calm windows:
  * `steal_integral` ≈ 0 means the wall is trustworthy; a hot
  * `steal_peak` names the wave the endpoint probes missed.
  *
  * Overhead: one ~30-byte proc read per period on a daemon thread —
  * nothing measurable inside the timed body (unlike re-running the
  * 0.11 s Spark probe mid-sweep, which parks every core). Boxes without
  * a steal column (bare metal) degrade to zeros with `samples`
  * recording how many reads succeeded, so a zero is distinguishable
  * from a missing monitor. */
object StealMonitor {

  /** Cumulative jiffies from `/proc/stat`'s aggregate cpu line:
    * (total across all columns, steal). Busy is not recorded — it is
    * dominated by our own measured work and says nothing about
    * co-tenancy; steal is the contention column. */
  private def read(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        src.getLines().find(_.startsWith("cpu ")).flatMap { l =>
          val f = l.trim.split("\\s+").drop(1).map(_.toLong)
          // user nice system idle iowait irq softirq steal [guest …] —
          // only the first 8 columns: the kernel already accounts guest
          // and guest_nice INSIDE user/nice, so summing them again
          // overcounts the denominator on guest-running hosts and
          // understates the integral (r14 ADVICE)
          if (f.length < 8) None else Some((f.take(8).sum, f(7)))
        }
      } finally src.close()
    } catch { case _: Exception => None }

  /** One monitored window. [[stop]] is idempotent — the first call
    * computes and latches the result, later calls return it (a
    * re-reading second stop would append a duplicate tail window into
    * the peak set — r14 ADVICE). */
  final class Running private[StealMonitor] (periodMs: Long) {
    private val t0 = System.nanoTime()
    private val start = read()
    // (totalDelta, stealDelta) per sample window, for the peak
    private val windows = new ConcurrentLinkedQueue[(Long, Long)]
    @volatile private var last = start
    @volatile private var alive = true
    private val thread = new Thread(() => {
      while (alive) {
        try Thread.sleep(periodMs) catch { case _: InterruptedException => () }
        if (alive) (last, read()) match {
          case (Some((pt, ps)), cur @ Some((ct, cs))) if ct > pt =>
            windows.add((ct - pt, cs - ps)); last = cur
          case (_, cur @ Some(_)) => last = cur
          case _ => ()
        }
      }
    }, "graft-steal-monitor")
    thread.setDaemon(true)
    thread.start()

    private var latched: Option[Result] = None

    def stop(): Result = synchronized {
      latched.getOrElse {
        alive = false
        thread.interrupt()
        // join before the tail close: a daemon iteration that passed the
        // alive check concurrently could otherwise add a window that
        // overlaps the tail one (duplicating a window in the peak set)
        thread.join(2000)
        // the integral endpoint is THIS read — `last` lags by up to one
        // period, and using it both excluded the final partial window
        // from the integral and reported sub-period bodies as samples=0
        // "unmeasured" despite two successful reads (r14 review fix)
        val end = read()
        (last, end) match {
          case (Some((pt, ps)), Some((ct, cs))) if ct > pt =>
            windows.add((ct - pt, cs - ps))
          case _ => ()
        }
        val ws = {
          val b = Vector.newBuilder[(Long, Long)]
          windows.forEach(w => b += w)
          b.result()
        }
        val seconds = (System.nanoTime() - t0) / 1e9
        val peak = ws.filter(_._1 > 0)
          .map(w => w._2.toDouble / w._1).maxOption.getOrElse(0.0)
        val r = (start, end) match {
          case (Some((t0j, s0j)), Some((t1j, s1j))) if t1j > t0j =>
            Result(seconds,
              stealIntegral = (s1j - s0j).toDouble / (t1j - t0j),
              stealPeak = peak, samples = ws.size)
          case _ if ws.exists(_._1 > 0) =>
            // endpoint pair unusable (a proc read failed, or total
            // jiffies did not advance across the body) but interim
            // windows WERE collected — integrate over them instead of
            // discarding a measurable body as samples=0 (r14 ADVICE)
            Result(seconds,
              stealIntegral = ws.map(_._2).sum.toDouble / ws.map(_._1).sum,
              stealPeak = peak, samples = ws.size)
          case _ => Result(seconds, 0.0, 0.0, samples = 0)
        }
        latched = Some(r)
        r
      }
    }
  }

  /** Body-wide contention integral: `stealIntegral` is the mean steal
    * fraction of total CPU time over the window, `stealPeak` the worst
    * single sample window. `samples == 0` means the proc read failed —
    * the zeros are then "unmeasured", not "calm". */
  case class Result(seconds: Double, stealIntegral: Double,
      stealPeak: Double, samples: Int)

  /** Start monitoring; call [[Running.stop]] when the timed body ends. */
  def start(periodMs: Long = 5000L): Running = new Running(periodMs)
}
