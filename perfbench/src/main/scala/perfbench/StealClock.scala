package perfbench

import java.nio.file.{Files, Paths}

/** A clock that runs at the share of CPU time the hypervisor leaves this
  * machine: CPU steal (time other guests ran on this machine's CPUs, the
  * `steal` column of /proc/stat) slows every thread that wanted to run by
  * that share. A sampler thread reads /proc/stat every [[SliceMs]] ms and
  * advances the clock by each slice's wall time times the slice's
  * `1 - steal / (busy + steal)`, so a serial phase and a parallel one are
  * corrected alike. On a shared host, steal comes in bursts that last tens
  * of seconds and slowed whole runs by a third; durations on this clock do
  * not count them. Without /proc/stat, or without steal, this is the wall
  * clock. */
object StealClock {
  private val Stat = Paths.get("/proc/stat")
  val SliceMs = 100L
  private val TickMs = 10L // /proc/stat counts in USER_HZ = 100 ticks per second

  /** (busy, steal) ticks summed over all CPUs since boot. */
  private def ticks(): (Long, Long) =
    if (!Files.isReadable(Stat)) (0L, 0L)
    else {
      val r = Files.newBufferedReader(Stat)
      // cpu user nice system idle iowait irq softirq steal ...
      val f = try r.readLine().trim.split("\\s+").drop(1).map(_.toLong) finally r.close()
      if (f.length < 8) (0L, 0L) else (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    }

  private final case class Mark(wallMs: Long, clockMs: Double, share: Double, busy: Long, steal: Long)

  private val (busy0, steal0) = ticks()
  @volatile private var last = Mark(System.currentTimeMillis(), System.currentTimeMillis(), 1.0, busy0, steal0)

  private val sampler = new Thread(() => {
    while (true) {
      Thread.sleep(SliceMs)
      val (busy, steal) = ticks()
      val now = System.currentTimeMillis()
      val m = last
      val runnable = (busy - m.busy) + (steal - m.steal)
      val share = if (runnable > 0) 1.0 - (steal - m.steal).toDouble / runnable else 1.0
      last = Mark(now, m.clockMs + (now - m.wallMs) * share, share, busy, steal)
    }
  }, "perfbench-steal-clock")
  sampler.setDaemon(true)
  sampler.start()

  /** CPU time, in ms summed over all CPUs, stolen since start-up. */
  def stolenSinceStartMs(): Long = (ticks()._2 - steal0) * TickMs

  /** Epoch ms at start-up plus the steal-free time since. */
  def now(): Long = {
    val m = last
    math.round(m.clockMs + (System.currentTimeMillis() - m.wallMs) * m.share)
  }
}
