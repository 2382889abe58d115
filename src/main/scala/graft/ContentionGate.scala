package graft

import org.apache.spark.sql.SparkSession

/** The measurement contention gate: `graft.Bench` refuses to start its
  * sweeps on a contended host ([[awaitCalm]]) and stamps start and end
  * [[probe]] readings into its line; perfbench times the same [[probe]]
  * as its `machine.probe_ms` layer. The harness box suffers co-located
  * steal in ~10-minute waves that the load average reports unreliably,
  * and three rounds' bench recordings (r2/r5/r10) were contaminated
  * before Bench carried a gate.
  *
  * The probe is a fixed CPU-bound reference job — a codegen'd 400M-row
  * range sum, no I/O, no shuffle, no data dependence — timed min-of-3
  * after two warm passes. On the 32-core reference host idle it reads
  * ~[[ProbeIdleRef]] s; under co-located load it stretches by the same
  * factor the query timings do, so a reader can normalize a Bench line
  * as `wall × (ProbeIdleRef / probe_sec)`.
  *
  * "Calm" is decided from the host's own steal share while the probe
  * runs (the probe keeps every core runnable, so steal taken during it
  * is co-tenant contention by definition), not from the probe time
  * against [[ProbeIdleRef]]: that reference holds only on the
  * reference hardware, and on any other host the probe never reached
  * it, so every gated run slept through all its waits. Load from other
  * processes inside the same VM shows no steal and is not gated; it
  * still shows in the stamped `probe_sec`. So Bench's `contended`
  * means "steal above [[MaxSteal]] after every wait" from round 17 on,
  * where earlier BENCH rounds meant "probe above 1.3 × ProbeIdleRef". */
object ContentionGate {

  /** Idle-box reference (min-of-3 of the twice-warmed probe at 32
    * threads, measured on the 32-core reference host near-idle).
    * Stamped into Bench's line for normalization; it does not decide calm. */
  val ProbeIdleRef = 0.11

  /** Above this steal share of all CPU time across the probe the host is
    * contended and [[awaitCalm]] waits. Chosen from SCALE_r14.json (32-core
    * reference host, every row passed by the old probe-time rule): of
    * the 37 probes recorded more than once with walls ≥ 1 s, the 30 whose
    * most-stolen run had a body `steal_integral` below 0.03 kept their
    * walls within 0.79–1.28× of the fastest run, while 5 of the 7 at 0.03
    * or more ran 1.37–1.74× longer (`containment_pairs` K=10 at 0.0585,
    * `state_semantic_neardup` 600 s at 0.0727), all with start and end
    * probes at or under 0.137 s. That data holds body-wide steal only;
    * how well the start reading predicts it is unmeasured. */
  val MaxSteal = 0.03

  /** Bounded wait: this many 30 s sleeps (+ re-probes) before recording
    * anyway with `contended=true` — a permanently busy box must still
    * produce an artifact, just a self-identifying one. */
  val MaxWaits = 8

  val WaitMs = 30000L

  /** One gated measurement window: last probe reading, the steal share
    * across it, waits spent, and whether the window is still contended
    * (record anyway, stamped). */
  case class Window(probeSec: Double, steal: Double, waits: Int, contended: Boolean)

  def probe(spark: SparkSession, threads: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 400000000L, 1, threads)
        .selectExpr("sum(id * 3 + 1)").head()
      (System.nanoTime() - t0) / 1e9
    }
    once(); once() // codegen + JIT warm (one pass leaves ~60% overhead)
    math.round(Seq(once(), once(), once()).min * 1000) / 1000.0
  }

  /** REFUSE to start a measurement on a contended box: probe, and while
    * the steal share across the probe is above [[MaxSteal]], sleep 30 s
    * and re-probe, up to [[MaxWaits]] times. One probe (~0.5–2.5 s) on a
    * calm box. */
  def awaitCalm(spark: SparkSession, threads: Int, label: String = ""): Window = {
    /** (probe seconds, steal share across the probe) */
    def reading(): (Double, Double) = {
      val sm = StealMonitor.start()
      val p = probe(spark, threads)
      (p, sm.stop().stealIntegral)
    }
    var (probeSec, steal) = reading()
    var waits = 0
    while (steal > MaxSteal && waits < MaxWaits) {
      waits += 1
      println(f"""{"metric":"contention_wait","probe":"$label","attempt":$waits,"probe_sec":$probeSec,"steal":$steal%.4f}""")
      Thread.sleep(WaitMs)
      reading() match { case (p, s) => probeSec = p; steal = s }
    }
    Window(probeSec, steal, waits, steal > MaxSteal)
  }
}
