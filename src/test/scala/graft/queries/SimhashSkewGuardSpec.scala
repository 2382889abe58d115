package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The LSH hot-bucket skew guard on the banded SimHash join: a bucket of
  * b docs contributes b²/2 candidate pairs, so boilerplate-heavy corpora
  * (or heavy replication — 324M candidates at 50×, SCALE_r14.json
  * `simhash_banded_cand`)
  * need the cap to keep the pair join bounded. */
class SimhashSkewGuardSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  // 60 identical boilerplate docs (one hot bucket) + two near-dup unique
  // docs (ids 1000/1001) + scattered unique docs
  private def corpus = {
    val boiler = (0L until 60L).map(i =>
      (i, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"))
    val nearDup = Seq(
      (1000L, "the quick brown fox jumps over the lazy dog tonight again"),
      (1001L, "the quick brown fox jumps over the lazy dog tonight agaim"))
    val unique = (2000L until 2010L).map(i =>
      (i, s"completely distinct document number $i with its own words w$i x$i y$i z$i"))
    (boiler ++ nearDup ++ unique).toDF("doc_id", "text")
  }

  test("a generous cap changes nothing") {
    val exact = DedupQueries.simhashBandedCandidates(spark, corpus)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = DedupQueries.simhashBandedCandidates(spark, corpus, maxBucket = Some(1000))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === exact)
  }

  test("the MinHash banding guard behaves identically") {
    import graft.operators.DedupOps
    val sh = DedupOps.docShingles(corpus)
    val exact = DedupOps.candidatesFromShingles(spark, sh)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = DedupOps.candidatesFromShingles(spark, sh, maxBucket = Some(30))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(exact))
    // the 60-doc exact-duplicate clique shares every band bucket → gone
    assert(exact.count { case (a, b) => a < 60 && b < 60 } === 1770)
    assert(capped.count { case (a, b) => a < 60 && b < 60 } === 0)
    // generous cap = exact
    assert(DedupOps.candidatesFromShingles(spark, sh, maxBucket = Some(1000))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === exact)
  }

  test("a tight cap drops only hot-bucket pairs; distinct near-dups survive") {
    val exact = DedupQueries.simhashBandedCandidates(spark, corpus)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = DedupQueries.simhashBandedCandidates(spark, corpus, maxBucket = Some(30))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // guard only ever removes candidates, never invents them
    assert(capped.subsetOf(exact))
    // the 60-doc boilerplate clique (60*59/2 = 1770 pairs) is gone
    assert(exact.count { case (a, b) => a < 60 && b < 60 } === 1770)
    assert(capped.count { case (a, b) => a < 60 && b < 60 } === 0)
    // the genuine near-dup pair lives in a 2-doc bucket and survives
    assert(capped.contains((1000L, 1001L)))
  }
}
