package graft

import org.scalatest.funsuite.AnyFunSuite

/** The name-subset selector every dev main and Bench/Verify share: a
  * typo must fail loudly instead of selecting nothing and exiting 0
  * looking like a run. Pure argument handling, no Spark session. */
class RecorderSpec extends AnyFunSuite {

  private val known = Seq("alpha", "beta", "gamma")

  test("an unknown name fails, naming itself and the known set") {
    val e = intercept[IllegalArgumentException](
      Recorder.select(Some("alpha,btea"), known))
    assert(e.getMessage.contains("btea"), e.getMessage)
    assert(e.getMessage.contains("alpha,beta,gamma"), e.getMessage)
    assert(!e.getMessage.contains("unknown names: alpha"), e.getMessage)
  }

  test("names are trimmed and empty tokens dropped") {
    assert(Recorder.select(Some(" alpha , gamma,,"), known) === Set("alpha", "gamma"))
  }

  test("an absent or blank spec selects every known name") {
    Seq(None, Some(""), Some("  "), Some(" , ")).foreach { spec =>
      assert(Recorder.select(spec, known) === known.toSet, spec)
    }
  }
}
