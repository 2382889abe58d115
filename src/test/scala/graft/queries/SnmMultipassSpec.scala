package graft.queries

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Multi-pass SNM must recover exactly the pairs single-pass SNM is
  * BLIND to: near-dups whose edits fall inside the first
  * [[DedupQueries.SnmKeyLen]] chars of the sort key. The fixture plants
  * one such pair — same-length openers so the shared tail aligns at the
  * rotated-key offset — with enough fillers sorting between the two
  * openers that the pass-0 neighborhood can never bridge them. */
class SnmMultipassSpec extends AnyFunSuite with SparkSpec {

  private val sharedTail =
    (1 to 80).map(i => s"shared corpus token$i payload").mkString(" ")

  /** Planted near-dup pair 9001/9002: identical long tails, different
    * openers of the SAME normalized length (12 chars each), so the tail
    * starts at the same offset in both and the rotated keys coincide. */
  private def fixture: DataFrame = {
    import scala.jdk.CollectionConverters._
    val planted = Seq(
      (9001L, "apple banana " + sharedTail),
      (9002L, "zebra yellow " + sharedTail))
    // fillers sort between "apple…" and "zebra…" on the prefix key and
    // carry their own unrelated tails (no qualifying pair among them)
    val fillers = Seq("carrot", "donkey", "eagles", "falcon", "grapes",
      "hornet", "iguana", "jackal").zipWithIndex.map { case (opener, i) =>
      (9100L + i,
        s"$opener distinct " +
          (1 to 60).map(j => s"filler$i word$j noise").mkString(" "))
    }
    val rows = (planted ++ fillers).map { case (id, text) =>
      org.apache.spark.sql.Row(id, text)
    }
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
  }

  test("openers really are same-length so the rotated keys coincide") {
    assert("apple banana ".length === "zebra yellow ".length)
  }

  test("pass 0 misses the prefix-edited pair; the rotated pass finds it") {
    val docs = fixture
    val c0 = DedupQueries.snmCandidates(docs, DedupQueries.snmKey(0))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val c1 = DedupQueries.snmCandidates(docs, DedupQueries.snmKey(1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!c0.contains((9001L, 9002L)),
      "fixture broken: pass 0 already bridges the planted pair")
    assert(c1.contains((9001L, 9002L)),
      "rotated pass must put the aligned tails adjacent")
  }

  test("multi-pass recall strictly improves on the planted near-dup") {
    val docs = fixture
    val single = DedupQueries.snmVerify(docs,
      DedupQueries.snmCandidates(docs, DedupQueries.snmKey(0)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = DedupQueries.snmVerify(docs,
      DedupQueries.snmCandidates(docs, DedupQueries.snmKey(0))
        .union(DedupQueries.snmCandidates(docs, DedupQueries.snmKey(1)))
        .distinct())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!single.contains((9001L, 9002L)))
    assert(multi.contains((9001L, 9002L)))
    assert(single.subsetOf(multi) && multi.size > single.size,
      s"recall must strictly improve: single=$single multi=$multi")
  }

  test("stacked multi-key candidates equal the union of the single-key passes") {
    import org.apache.spark.sql.functions._
    // 400 docs of 30 tokens from a 3-word vocabulary: many near-equal keys
    val synthetic = spark.range(400).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 30).map(j =>
        pmod(hash(col("id"), lit(j)), lit(3)).cast("string")): _*).as("text"))
    for (docs <- Seq(fixture, synthetic)) {
      def pairs(df: DataFrame): Seq[(Long, Long)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val perKey = pairs(DedupQueries.snmCandidates(docs, DedupQueries.snmKey(0))) ++
        pairs(DedupQueries.snmCandidates(docs, DedupQueries.snmKey(1)))
      val keyed = docs.select(col("doc_id"),
        DedupQueries.snmKey(0).as("k0"), DedupQueries.snmKey(1).as("k1"))
      val multi = pairs(DedupQueries.snmCandidatesMulti(keyed, Seq(col("k0"), col("k1"))))
      assert(multi.nonEmpty)
      assert(multi === perKey.sorted, "stacked numbering must pair exactly as the per-key passes")
    }
  }

  test("multi-pass result is a superset of single-pass on the real corpus") {
    val dir = "/root/testdata/sf0.001"
    val single = DedupQueries.sortedNeighborDups(spark, dir)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = DedupQueries.snmMultipassDups(spark, dir)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single.subsetOf(multi),
      s"multipass lost pairs: ${single -- multi}")
  }
}
