package graft

import org.scalatest.funsuite.AnyFunSuite

/** StreamBench's state-curve selection: the debt probe fixes the
  * state-store maintenance cadence JVM-wide, so it must never share a
  * process with another probe. Pure argument handling, no Spark session. */
class StreamBenchSpec extends AnyFunSuite {

  import StreamBench.{selectStateProbes, StateProbes}

  test("state_changelog_debt runs only alone, in its own process") {
    // a full sweep leaves it out
    Seq(None, Some(""), Some(" , ")).foreach { spec =>
      assert(selectStateProbes(spec) === StateProbes.toSet - "state_changelog_debt", spec)
    }
    // named alone, it runs
    assert(selectStateProbes(Some(" state_changelog_debt ")) === Set("state_changelog_debt"))
    // named beside another probe, the run refuses to start
    val e = intercept[IllegalArgumentException](
      selectStateProbes(Some("state_dedup_gate,state_changelog_debt")))
    assert(e.getMessage.contains("state_changelog_debt"), e.getMessage)
    // other probes select as usual, unknown names still fail
    assert(selectStateProbes(Some("state_dedup_gate")) === Set("state_dedup_gate"))
    intercept[IllegalArgumentException](selectStateProbes(Some("state_dedup")))
  }
}
