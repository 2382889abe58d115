package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.VectorFunctions.dotFast
import graft.sources.Tables

/** The shared IVF core of SimilarityQueries: the assignment convention
  * (`rankCentroids`: rounded cosine, c_sim desc then c_label, per key) on
  * planted ties, and the variant-keyed Lloyd chain of
  * knn_incremental_recall against one unkeyed `lloyd` chain per variant. */
class IvfCoreSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def norm(v: Seq[Double]): Double = math.sqrt(v.map(x => x * x).sum)

  /** (g, vec_id, embedding, norm) rows. */
  private def vectors(rows: (Int, Long, Seq[Double])*): DataFrame = {
    import spark.implicits._
    rows.map { case (g, id, e) => (g, id, e, norm(e)) }.toDF("g", "vec_id", "embedding", "norm")
  }

  /** (g, c_label, centroid, c_norm) rows. */
  private def cents(rows: (Int, Int, Seq[Double])*): DataFrame = {
    import spark.implicits._
    rows.map { case (g, l, c) => (g, l, c, norm(c)) }.toDF("g", "c_label", "centroid", "c_norm")
  }

  // Both vectors are unit axes. In g = 1, label 2 sits 1e-4 off v1's axis
  // and label 4 on it: their cosines (0.999999995 and 1.0) tie once
  // rounded to 6 dp, so the smaller label must win although label 4 is
  // exactly closer. Labels 1 and 5 tie exactly for v2 (±45°). g = 2
  // reuses the vector ids with other centroids, so every tie and rank
  // must resolve per key.
  private lazy val xs = vectors(
    (1, 1L, Seq(1.0, 0.0)), (1, 2L, Seq(0.0, 1.0)),
    (2, 1L, Seq(1.0, 0.0)), (2, 2L, Seq(0.0, 1.0)))
  private lazy val cs = cents(
    (1, 4, Seq(1.0, 0.0)), (1, 2, Seq(1.0, 1e-4)), (1, 7, Seq(0.0, 1.0)),
    (1, 1, Seq(1.0, 1.0)), (1, 5, Seq(-1.0, 1.0)),
    (2, 3, Seq(1.0, 0.0)), (2, 8, Seq(1.0, -1e-4)), (2, 6, Seq(0.0, 1.0)))

  /** Expected full ranking per (g, vec_id): (c_label, c_sim) by rank. */
  private val expected: Map[(Int, Long), Seq[(Int, Double)]] = Map(
    (1, 1L) -> Seq(2 -> 1.0, 4 -> 1.0, 1 -> 0.707107, 7 -> 0.0, 5 -> -0.707107),
    (1, 2L) -> Seq(7 -> 1.0, 1 -> 0.707107, 5 -> 0.707107, 2 -> 1e-4, 4 -> 0.0),
    (2, 1L) -> Seq(3 -> 1.0, 8 -> 1.0, 6 -> 0.0),
    (2, 2L) -> Seq(6 -> 1.0, 3 -> 0.0, 8 -> -1e-4))

  /** (g, vec_id, rn, c_label, c_sim) rows of `rankCentroids` kept to rn <= p. */
  private def ranked(x: DataFrame, c: DataFrame, keys: Seq[String], p: Int) =
    SimilarityQueries.rankCentroids(x, c, keys)
      .filter(col("rn") <= p)
      .select(col("g"), col("vec_id"), col("rn"), col("c_label"), col("c_sim"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
      .toSeq.sorted

  private def top(groups: Set[Int], p: Int) =
    expected.toSeq.filter { case ((g, _), _) => groups(g) }.flatMap { case ((g, id), rk) =>
      rk.take(p).zipWithIndex.map { case ((l, s), i) => (g, id, i + 1, l, s) }
    }.sorted

  test("assignment convention: rounded-cosine ties go to the smaller c_label, rn <= p is the top p") {
    for (p <- 1 to 5) {
      // no key column: g = 1 alone (its g column rides along unused)
      assert(ranked(xs.filter(col("g") === 1), cs.filter(col("g") === 1).drop("g"), Nil, p)
        === top(Set(1), p), s"unkeyed, p = $p")
      // keyed: each (g, vec_id) ranks only its own g's centroids
      assert(ranked(xs, cs, Seq("g"), p) === top(Set(1, 2), p), s"keyed on g, p = $p")
    }
    val winner = ranked(xs, cs, Seq("g"), 1).filter(r => r._1 == 1 && r._2 == 1L)
    assert(winner === Seq((1, 1L, 1, 2, 1.0)),
      "a rounded-cosine tie must go to the smaller c_label, not the exactly closer centroid")
  }

  private def centroidRows(c: DataFrame): Seq[(Int, Seq[Double])] =
    c.select(col("c_label"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)

  private def postings(idx: DataFrame): Seq[(Long, Int)] =
    idx.select(col("vec_id"), col("cluster")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted

  test("the variant-keyed Lloyd chain equals one unkeyed lloyd chain per variant") {
    val raw = Tables.embeddings(spark, dir)
    val emb = raw
      .withColumn("norm", sqrt(dotFast(spark)(col("embedding"), col("embedding"))))
      .localCheckpoint(true)
    val (cent, idx) = SimilarityQueries.recallIndexes(emb)
    SimilarityQueries.RecallVariants.foreach { case (v, pct) =>
      val own = SimilarityQueries.lloyd(emb.filter(pmod(col("vec_id"), lit(100)) >= pct), 3)
        .localCheckpoint(true)
      val keyedCent = centroidRows(cent.filter(col("variant") === v))
      assert(keyedCent.nonEmpty, s"$v: no centroids")
      assert(keyedCent === centroidRows(own), s"$v: centroids differ")
      assert(postings(idx.filter(col("variant") === v))
        === postings(SimilarityQueries.assignToCentroids(spark, raw, own)),
        s"$v: postings differ")
    }
  }
}
