package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The query-name selector of `graft.Bench` (`SPARK_GRAFT_BENCH_ONLY`)
  * and `graft.Verify` (third argument): a typo must fail loudly instead
  * of selecting nothing and exiting 0 looking like a run. Pure argument
  * handling over the registry's names, no Spark session. */
class RegistrySelectSpec extends AnyFunSuite {

  test("an unknown name fails, naming itself and the known set") {
    val e = intercept[IllegalArgumentException](
      Registry.select(Some("dedup_exact,dedup_exactt")))
    assert(e.getMessage.contains("dedup_exactt"), e.getMessage)
    assert(e.getMessage.contains(Registry.queries.keySet.toSeq.sorted.mkString(",")),
      e.getMessage)
    assert(!e.getMessage.contains("unknown names: dedup_exact,"), e.getMessage)
  }

  test("names are trimmed and empty tokens dropped") {
    assert(Registry.select(Some(" dedup_exact , knn_ivfpq,,")) ===
      Set("dedup_exact", "knn_ivfpq"))
  }

  test("an absent or blank spec selects every known name") {
    Seq(None, Some(""), Some("  "), Some(" , ")).foreach { spec =>
      assert(Registry.select(spec) === Registry.queries.keySet, spec)
    }
  }
}
