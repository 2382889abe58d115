package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.QueryConventions.MaterializeSyntax

import graft.functions.VectorFunctions._
import graft.sources.Tables

/** Similarity-search tier over `embeddings` (`array<float>`, dim 64):
  * brute-force cosine top-k (the exact baseline), threshold near-dup
  * pairs, random-hyperplane LSH bucketing (the approximate scale path),
  * and per-label centroids (the IVF building block).
  *
  * Scale design:
  *  - brute-force kNN broadcasts the (small) query set and streams the
  *    corpus once — per-partition top-k via window rank; right baseline,
  *    O(|Q|·N) but embarrassingly parallel.
  *  - near-dup by full self-join is O(N²) and exists as the exact oracle
  *    for the LSH variant, whose bucket join only compares within-bucket
  *    candidates — at 100 TB only the LSH form survives, and its recall
  *    is measured against the exact form at test scale.
  *  - centroids are the IVF index build: one groupBy(label) over
  *    position-exploded vectors, shuffle ∝ dim · n_labels.
  */
object SimilarityQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Shared literal hyperplanes (6 planes → 64 buckets), identical in the
    * Spark plan and the oracle SQL. */
  private val planes: Seq[Seq[Double]] = hyperplanes(nPlanes = 6, dim = 64)

  private def planeSqlDot(vec: String, h: Seq[Double]): String =
    s"list_dot_product($vec::DOUBLE[], [${h.mkString(", ")}]::DOUBLE[])"

  private def bucketSql(vec: String): String =
    planes.zipWithIndex
      .map { case (h, j) =>
        s"(CASE WHEN ${planeSqlDot(vec, h)} >= 0 THEN ${1L << j} ELSE 0 END)"
      }
      .mkString("(", " + ", ")")

  private val cosSql =
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / " +
      "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * " +
      "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"

  /** Exact brute-force kNN: top-5 cosine neighbors for each of the first
    * 10 vectors. Ranking on the rounded similarity with vec_id tie-break
    * keeps the cut deterministic on both engines. */
  def knnBrute(spark: SparkSession, dir: String): DataFrame = {
    val dotF = dotFast(spark) _
    // norms computed once per vector BEFORE the pair join: 1 fold per pair
    // instead of 3 (dot + both norms) — the constant factor that matters
    // when the corpus side streams billions of rows.
    val emb = Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(dotFast(spark)(col("embedding"), col("embedding"))))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim",
        round(dotF(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "vec_id", "cos_sim")
      .orderBy("q_id", "rank")
  }

  /** DuckDB mirror of [[knnBrute]], the exact top-5 truth the recall
    * oracles grade against: CTE `bt` (q_id, vec_id, rank, cos_sim) over
    * the query × corpus pairs `bp`. */
  private val bruteTopCtes: String =
    s"""bp AS (
       |  SELECT b.vec_id AS q_id, a.vec_id AS vec_id, round($cosSql, 6) AS cos_sim
       |  FROM embeddings a
       |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) b
       |  WHERE a.vec_id <> b.vec_id),
       |bt AS (
       |  SELECT q_id, vec_id, rank, cos_sim FROM (
       |    SELECT q_id, vec_id, cos_sim,
       |           row_number() OVER (PARTITION BY q_id
       |                              ORDER BY cos_sim DESC, vec_id) AS rank
       |    FROM bp)
       |  WHERE rank <= 5)""".stripMargin

  private val knnBruteSql: String =
    s"""WITH $bruteTopCtes
       |SELECT q_id, rank, vec_id, cos_sim
       |FROM bt
       |ORDER BY q_id, rank""".stripMargin

  /** Metadata-FILTERED vector search — the vector-DB feature every
    * retrieval stack needs: top-5 cosine neighbors restricted to vectors
    * whose document passes a metadata predicate (lang = 'en' AND
    * n_chars >= 200). This is PRE-filtering: the predicate semi-joins
    * the corpus BEFORE the similarity scan, so results are exact over
    * the filtered set (post-filtering an unfiltered top-k loses recall
    * when the filter is selective). At 100 TB the same semi-join pushes
    * into the IVF bucket probe — filter first, then search, at any
    * index shape. Query vectors are NOT filtered (a query may be
    * anything); scan shape is identical to [[knnBrute]]. */
  def knnFiltered(spark: SparkSession, dir: String): DataFrame = {
    val dotF = dotFast(spark) _
    val keep = Tables.documents(spark, dir)
      .filter(col("lang") === "en" && col("n_chars") >= 200)
      .select(col("doc_id").as("vec_id"))
    val emb = Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(dotF(col("embedding"), col("embedding"))))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    emb.join(keep, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim",
        round(dotF(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "vec_id", "cos_sim")
      .orderBy("q_id", "rank")
  }

  private val knnFilteredSql: String =
    s"""WITH keep AS (
       |  SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 200),
       |pairs AS (
       |  SELECT b.vec_id AS q_id, a.vec_id AS vec_id, round($cosSql, 6) AS cos_sim
       |  FROM embeddings a
       |  JOIN keep ON a.vec_id = keep.doc_id
       |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) b
       |  WHERE a.vec_id <> b.vec_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cos_sim,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM pairs)
       |SELECT q_id, rank, vec_id, cos_sim
       |FROM ranked WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  /** Exact near-duplicate pairs: all (a < b) with cosine >= 0.35 (the
    * corpus max pair similarity is ~0.51; 0.35 keeps the tail).
    * Bounded to vec_id < 1200 — this is the LABELED O(N²) recall oracle
    * for the LSH path, so it runs on a fixed-size subset (a no-op at the
    * 500-vector correctness SF, ~0.7M pairs at sf0.1) instead of letting
    * a test-scale baseline dominate bench wall-clock; `lsh_near_dup` is
    * the production path. */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val dotF = dotFast(spark) _
    val emb = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 1200)
      .withColumn("norm", sqrt(dotFast(spark)(col("embedding"), col("embedding"))))
    // deliberately NOT materialized: the bounded scan is tiny (reading it
    // once per join side is cheap) and the pushed vec_id bound stays
    // visible to the RegistryAuditSpec plan walk
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"), col("norm").as("a_norm"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"), col("norm").as("b_norm"))
    a.crossJoin(b)
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos_sim",
        round(dotF(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")), 6))
      .filter(col("cos_sim") >= 0.35)
      .select("a_id", "b_id", "cos_sim")
      .orderBy("a_id", "b_id")
  }

  private val nearDupPairsSql: String =
    s"""WITH sub AS (SELECT * FROM embeddings WHERE vec_id < 1200)
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id, round($cosSql, 6) AS cos_sim
       |FROM sub a JOIN sub b ON a.vec_id < b.vec_id
       |WHERE round($cosSql, 6) >= 0.35
       |ORDER BY a_id, b_id""".stripMargin

  /** LSH bucketing: every vector's 6-bit random-hyperplane signature.
    * The ANN path joins within buckets only — candidate count drops from
    * N² to Σ bucket². */
  def lshBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(
        col("vec_id"),
        lshBucket(col("embedding"), planes, dotFast(spark)).as("bucket"))
      .orderBy("vec_id")

  private val lshBucketsSql: String =
    s"""SELECT vec_id, ${bucketSql("embedding")} AS bucket
       |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Reciprocal-best-match mining across two corpus halves (even vs odd
    * vec_id) — the bitext/pair-mining primitive of parallel-corpus
    * construction (CCMatrix-style): a pair survives only if a is b's best
    * match AND b is a's best match, the mutual-NN criterion that kills
    * the hubness false positives a one-directional top-1 keeps (a "hub"
    * vector that is everyone's nearest neighbor can be the best match OF
    * many, but it has only ONE best match itself). Candidates come from
    * the shared 6-bit hyperplane buckets — the documented approximate
    * scale path ([[lshBuckets]]): both argmaxes are taken WITHIN bucket,
    * so the candidate volume is Σ|A_b|·|B_b|, never |A|·|B|; at 100 TB
    * the same shape runs per band with the bucket join bucketed on the
    * signature.
    *
    * Both directional argmaxes read ONE materialized candidate frame
    * (rank desc by the 6-dp cosine, id tie-break — deterministic on both
    * engines), then equi-join on the pair key. */
  def embeddingMutualNn(spark: SparkSession, dir: String): DataFrame = {
    val dotF = dotFast(spark) _
    val emb = Tables.embeddings(spark, dir)
      .withColumn("bkt", lshBucket(col("embedding"), planes, dotF))
      .withColumn("norm", sqrt(dotF(col("embedding"), col("embedding"))))
    val a = emb.filter(col("vec_id") % 2 === 0)
      .select(col("bkt"), col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("norm").as("a_norm"))
    val b = emb.filter(col("vec_id") % 2 === 1)
      .select(col("bkt"), col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("norm").as("b_norm"))
    val cand = a.join(b, Seq("bkt"))
      .withColumn("cos_sim",
        round(dotF(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")), 6))
      .select("a_id", "b_id", "cos_sim")
      .materializeOnce // both directional argmaxes below
    val bestA = cand.withColumn("r", row_number().over(
      Window.partitionBy(col("a_id")).orderBy(col("cos_sim").desc, col("b_id"))))
      .filter(col("r") === 1).select("a_id", "b_id", "cos_sim")
    val bestB = cand.withColumn("r", row_number().over(
      Window.partitionBy(col("b_id")).orderBy(col("cos_sim").desc, col("a_id"))))
      .filter(col("r") === 1).select(col("a_id").as("a2"), col("b_id").as("b2"))
    bestA.join(bestB, col("a_id") === col("a2") && col("b_id") === col("b2"))
      .select("a_id", "b_id", "cos_sim")
      .orderBy("a_id")
  }

  private val embeddingMutualNnSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bkt
       |  FROM embeddings),
       |a AS (SELECT * FROM e WHERE vec_id % 2 = 0),
       |b AS (SELECT * FROM e WHERE vec_id % 2 = 1),
       |cand AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, round($cosSql, 6) AS cos_sim
       |  FROM a JOIN b ON b.bkt = a.bkt),
       |ba AS (
       |  SELECT a_id, b_id, cos_sim,
       |         row_number() OVER (PARTITION BY a_id ORDER BY cos_sim DESC, b_id) AS r
       |  FROM cand),
       |bb AS (
       |  SELECT a_id, b_id,
       |         row_number() OVER (PARTITION BY b_id ORDER BY cos_sim DESC, a_id) AS r
       |  FROM cand)
       |SELECT ba.a_id, ba.b_id, ba.cos_sim
       |FROM ba JOIN bb ON bb.a_id = ba.a_id AND bb.b_id = ba.b_id AND bb.r = 1
       |WHERE ba.r = 1
       |ORDER BY ba.a_id""".stripMargin

  /** LSH candidate pairs with their exact cosine — the approximate
    * near-dup: same bucket ⇒ compare. */
  def lshNearDup(spark: SparkSession, dir: String): DataFrame = {
    val dotF = dotFast(spark) _
    val b = lshBuckets(spark, dir)
    val emb = Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(dotFast(spark)(col("embedding"), col("embedding"))))
    val withB = emb.join(b, "vec_id").materializeOnce // self-joined below
    val l = withB.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      col("norm").as("a_norm"), col("bucket"))
    val r = withB.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      col("norm").as("b_norm"), col("bucket"))
    l.join(r, "bucket")
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos_sim",
        round(dotF(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")), 6))
      .filter(col("cos_sim") >= 0.3)
      .select("a_id", "b_id", "bucket", "cos_sim")
      .orderBy("a_id", "b_id")
  }

  private val lshNearDupSql: String =
    s"""WITH bk AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings)
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.bucket AS bucket,
       |       round($cosSql, 6) AS cos_sim
       |FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE round($cosSql, 6) >= 0.3
       |ORDER BY a_id, b_id""".stripMargin

  /** IVF index build: per-label centroids, emitted flat as (label, pos,
    * centroid component). Position-explode + two-key groupBy — shuffle
    * volume is dim × N, partial-aggregated map-side. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v").cast("double")), 6).as("centroid_v"))
      .orderBy("label", "pos")

  private val labelCentroidsSql: String =
    """SELECT label, CAST(u.pos - 1 AS INT) AS pos, round(avg(u.v), 6) AS centroid_v
      |FROM embeddings,
      |     LATERAL (SELECT unnest(embedding::DOUBLE[]) AS v,
      |                     generate_subscripts(embedding, 1) AS pos) u
      |GROUP BY label, pos
      |ORDER BY label, pos""".stripMargin

  /** IVF ANN (probe-1): assign each query to its nearest label centroid,
    * then search only that partition — the index-accelerated scale path.
    * At 100 TB the corpus is bucketed/partitioned by centroid id, so a
    * probe touches 1/n_labels of the data; recall vs knn_brute is the
    * measured trade-off (see SimilaritySpec).
    */
  def knnIvf(spark: SparkSession, dir: String): DataFrame =
    knnIvfProbes(spark, dir, probes = 1)

  /** Multi-probe variant: search the `probes` nearest centroid partitions.
    * Probes is the recall/cost dial — each extra probe adds one
    * partition's worth of comparisons (see SimilarityRecallSpec for the
    * measured recall gain). */
  def knnIvfProbes(spark: SparkSession, dir: String, probes: Int): DataFrame =
    knnIvfProbesImpl(spark, dir, probes, keep = None)

  /** Metadata-filtered IVF search — [[knnFiltered]]'s scale path, making
    * the "filter pushes into the bucket probe" claim concrete: the INDEX
    * (centroids) is built on the full corpus once, the metadata predicate
    * semi-joins the probe-side scan at query time, and ranking sees only
    * predicate-passing vectors inside the probed partitions. Probe budget
    * 2 like knn_ivf_probe2. */
  def knnIvfFiltered(spark: SparkSession, dir: String): DataFrame =
    knnIvfProbesImpl(spark, dir, probes = 2,
      keep = Some(Tables.documents(spark, dir)
        .filter(col("lang") === "en" && col("n_chars") >= 200)
        .select(col("doc_id").as("vec_id"))))

  private def knnIvfProbesImpl(
      spark: SparkSession, dir: String, probes: Int,
      keep: Option[DataFrame]): DataFrame = {
    val dotF = dotFast(spark) _
    val emb = Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(dotFast(spark)(col("embedding"), col("embedding"))))
      .materializeOnce
    val assign = rankCentroids(emb.filter(col("vec_id") < 10), centroids(emb, cluster = "label"))
      .filter(col("rn") <= probes)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"),
        col("c_label").as("label"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val probeSide = keep.fold(emb)(k => emb.join(k, Seq("vec_id"), "left_semi"))
    assign.join(probeSide, "label")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim",
        round(dotF(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")), 6))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 5)
      .select("q_id", "label", "rank", "vec_id", "cos_sim")
      .orderBy("q_id", "rank")
  }

  private def knnIvfSqlProbes(probes: Int, probeFilter: String = ""): String =
    s"""WITH e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      |  FROM embeddings),
      |${centCtes(0, "e", "label")},
      |q AS (SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm FROM e WHERE vec_id < 10),
      |assign AS (
      |  SELECT q_id, q_emb, q_norm, label FROM (
      |    SELECT q.q_id, q.q_emb, q.q_norm, cn.cl AS label,
      |           row_number() OVER (PARTITION BY q.q_id
      |             ORDER BY round(list_dot_product(q.q_emb, cn.centroid) / (q.q_norm * cn.c_norm), 6) DESC,
      |                      cn.cl) AS rn
      |    FROM q CROSS JOIN c0n cn)
      |  WHERE rn <= $probes),
      |hits AS (
      |  SELECT a.q_id, a.label, e.vec_id,
      |         round(list_dot_product(a.q_emb, e.emb) / (a.q_norm * e.norm), 6) AS cos_sim
      |  FROM assign a JOIN e ON e.label = a.label AND e.vec_id <> a.q_id$probeFilter)
      |SELECT q_id, label, rank, vec_id, cos_sim FROM (
      |  SELECT q_id, label, vec_id, cos_sim,
      |         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
      |  FROM hits)
      |WHERE rank <= 5
      |ORDER BY q_id, rank""".stripMargin

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-3 most-similar vectors with a DIFFERENT label — the
    * "confusable but wrong" examples a retrieval/embedding trainer pairs
    * against positives. Same broadcast-query scan shape as [[knnBrute]]
    * (corpus streamed once, per-partition top-k) with the label-mismatch
    * predicate fused into the scan; at index scale the IVF probe replaces
    * the full scan, unchanged otherwise. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val dotF = dotFast(spark) _
    val emb = Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(dotFast(spark)(col("embedding"), col("embedding"))))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    emb.crossJoin(broadcast(q))
      .filter(col("label") =!= col("q_label"))
      .withColumn("cos_sim",
        round(dotF(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("q_id", "q_label", "rank", "vec_id", "label", "cos_sim")
      .orderBy("q_id", "rank")
  }

  private val hardNegativesSql: String =
    s"""WITH pairs AS (
       |  SELECT b.vec_id AS q_id, b.label AS q_label, a.vec_id AS vec_id,
       |         a.label AS label, round($cosSql, 6) AS cos_sim
       |  FROM embeddings a
       |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) b
       |  WHERE a.label <> b.label),
       |ranked AS (
       |  SELECT q_id, q_label, vec_id, label, cos_sim,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM pairs)
       |SELECT q_id, q_label, rank, vec_id, label, cos_sim
       |FROM ranked WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  // ---- the IVF core: centroids, ranked assignment, Lloyd rounds ----------

  /** Centroid frame (keys…, c_label, centroid, c_norm) from (keys…,
    * `cluster`, embedding) rows — the label seed of an IVF index and the
    * recompute half of a Lloyd step. Component avgs rounded to 6 dp (both
    * engines) and packed in position order: the ONLY place the centroid
    * recipe lives, so the rounding cannot drift between queries and their
    * DuckDB mirrors. `keys` build one independent centroid set per key
    * value in the same aggregates. */
  private def centroids(src: DataFrame, keys: Seq[String] = Nil,
      cluster: String = "cluster"): DataFrame = {
    val k = keys.map(col)
    // posexplode + (cluster, pos) aggregate, NOT d per-component avg
    // aggregates on the unexploded frame (r15 A/B): 64 avg expressions
    // put ~128 fields in the aggregation buffer, past the codegen
    // field limit — the whole stage fell back to interpreted row-based
    // aggregation and the embedding family regressed ~1.3-2x end to end.
    src
      .select(k :+ col(cluster).as("c_label") :+ posexplode(col("embedding")).as(Seq("pos", "v")): _*)
      .groupBy(k :+ col("c_label") :+ col("pos"): _*)
      .agg(round(avg(col("v").cast("double")), 6).as("cv"))
      .groupBy(k :+ col("c_label"): _*)
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("centroid"))
      .withColumn("c_norm", sqrt(dotFast(src.sparkSession)(col("centroid"), col("centroid"))))
  }

  /** Ranks every centroid for every (keys…, vec_id) row of `x` (vec_id,
    * embedding, norm, keys…): `c_sim` is the cosine rounded to 6 dp, `rn`
    * the row number ordered by c_sim desc, then c_label — ties go to the
    * smaller label. Callers keep `rn = 1` (assignment) or `rn <= p` (probe
    * budget p). The ONLY place the assignment convention lives. Centroids
    * are broadcast, so ranking is map-side; with `keys` each row is ranked
    * only against its own key's centroids. */
  private[queries] def rankCentroids(x: DataFrame, cent: DataFrame,
      keys: Seq[String] = Nil): DataFrame = {
    val dotF = dotFast(x.sparkSession) _
    // row_number window, NOT max_by (r15 A/B): a max_by whose value
    // struct carries the embedding array cannot use HashAggregateExec
    // (array-typed buffer) and fell back to SortAggregate on both sides
    // of the exchange — strictly worse than this window, which Spark
    // already executes with a partial WindowGroupLimit (top-p per vector
    // kept map-side before the shuffle).
    val w = Window.partitionBy((keys :+ "vec_id").map(col): _*)
      .orderBy(col("c_sim").desc, col("c_label"))
    val pairs =
      if (keys.isEmpty) x.crossJoin(broadcast(cent)) else x.join(broadcast(cent), keys)
    pairs
      .withColumn("c_sim",
        round(dotF(col("embedding"), col("centroid")) / (col("norm") * col("c_norm")), 6))
      .withColumn("rn", row_number().over(w))
  }

  /** Nearest-centroid assignment (the other half of a Lloyd step):
    * returns (keys…, vec_id, embedding, norm, cluster) — no c_sim, so
    * callers can re-join centroid frames without column collisions. */
  private def assignTo(emb: DataFrame, cent: DataFrame, keys: Seq[String] = Nil): DataFrame =
    rankCentroids(emb, cent, keys)
      .filter(col("rn") === 1)
      .select(keys.map(col) ++ Seq(col("vec_id"), col("embedding"), col("norm"),
        col("c_label").as("cluster")): _*)

  /** `iters` Lloyd rounds from the label seed over (keys…, vec_id, label,
    * embedding, norm) rows: assign every vector to its nearest centroid,
    * then recompute. Each round is a broadcast map-side assignment plus a
    * dim × K partial-agg shuffle, so rounds cost ∝ corpus, never pairs.
    * `checkpointEachRound` materializes every round's (small) centroid
    * frame, which keeps the next round's broadcast side a shallow scan
    * instead of a nested aggregate chain; only the variant-keyed chain of
    * [[knnIncrementalRecallFrom]] measured faster with it. */
  private[queries] def lloyd(emb: DataFrame, iters: Int, keys: Seq[String] = Nil,
      checkpointEachRound: Boolean = false): DataFrame =
    (1 to iters).foldLeft(centroids(emb, keys, cluster = "label")) { (c, _) =>
      val next = centroids(assignTo(emb, c, keys), keys)
      if (checkpointEachRound) next.materializeOnce else next
    }

  /** IVF with a Lloyd-refined index (VERDICT r2 item 4): `iters` k-means
    * iterations (default 3) turn the arbitrary label seed partitions into
    * geometric Voronoi cells before the corpus is indexed, so
    * nearest-centroid probing actually concentrates each query's true
    * neighbors into few cells (raw labels are random w.r.t. geometry —
    * hence knn_ivf's low recall). Same probe budget as [[knnIvfProbes]];
    * recall gain is measured in SimilarityRecallSpec and the full curve is
    * the oracled `knn_recall_curve` entry. Scale shape is unchanged: every
    * assignment is a broadcast map stage, every recompute shuffles
    * dim × K partials, and the search probes `probes`/K of the corpus. */
  def knnIvfRefined(spark: SparkSession, dir: String, probes: Int = 2,
      iters: Int = 3): DataFrame =
    refinedTopPerProbe(spark, dir, Seq(probes), iters)
      .select("q_id", "cluster", "rank", "vec_id", "cos_sim")
      .orderBy("q_id", "rank")

  /** Lloyd-refined centroid frame over an arbitrary embeddings frame —
    * the INDEX half of the IVF build, exposed so incremental maintenance
    * can train once and assign deltas later. */
  private[graft] def refinedCentroidsFrom(spark: SparkSession,
      embIn: DataFrame, iters: Int = 3): DataFrame = {
    val emb = embIn
      .withColumn("norm", sqrt(dotFast(spark)(col("embedding"), col("embedding"))))
      .materializeOnce
    lloyd(emb, iters)
  }

  /** Broadcast map-side assignment of an embeddings frame to an EXISTING
    * centroid frame — the whole cost of admitting a delta batch into an
    * IVF index: ∝ |delta|, zero touches of the indexed corpus. */
  private[graft] def assignToCentroids(spark: SparkSession,
      embIn: DataFrame, cent: DataFrame): DataFrame =
    assignTo(
      embIn.withColumn("norm",
        sqrt(dotFast(spark)(col("embedding"), col("embedding")))),
      cent)

  /** Incremental IVF index maintenance — the ANN analog of
    * [[graft.queries.DedupQueries]]'s `incremental_dedup` (delta-vs-base,
    * never base×base): the refined centroids are trained on the BASE
    * corpus only (vec_id % 10 < 8, the incremental_dedup split), the
    * delta batch is admitted by a broadcast map-side assignment against
    * those EXISTING centroids — cost ∝ |delta|, the base postings are
    * untouched — and search runs unchanged over the unioned postings
    * (probe-2, same budget as knn_ivf_refined). Without this operator a
    * delta batch means a full index rebuild ∝ corpus. Trade-off: cell
    * geometry reflects the base distribution until the next re-train;
    * `IvfIncrementalSpec` pins the union-vs-one-shot assignment identity
    * and the delta-only cost, SCALE_r14.json's `ivf_delta_assign` rows
    * record it at 10×–50× base scale. */
  def knnIvfIncremental(spark: SparkSession, dir: String): DataFrame = {
    val dotF = dotFast(spark) _
    val emb = Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(dotFast(spark)(col("embedding"), col("embedding"))))
      .materializeOnce
    val base = emb.filter(col("vec_id") % 10 < 8)
    val delta = emb.filter(col("vec_id") % 10 >= 8)
    val cent2 = lloyd(base, 3).materializeOnce
    // the incremental union: base postings + broadcast-assigned delta
    val idx = assignTo(base, cent2)
      .unionAll(assignTo(delta, cent2))
      .materializeOnce
    val qa = rankCentroids(emb.filter(col("vec_id") < 10), cent2)
      .filter(col("rn") <= 2)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("c_label").as("cluster"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    qa.join(idx, "cluster")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim",
        round(dotF(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")), 6))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 5)
      .select("q_id", "cluster", "rank", "vec_id", "cos_sim")
      .orderBy("q_id", "rank")
  }

  /** Shared refined-search core: builds the Lloyd-refined index ONCE and
    * emits the top-5 per query for EVERY probe budget in `probesList`
    * (tagged in a `probes` column). A budget-p result is derivable from
    * the max-budget candidate set by filtering on the assignment rank, so
    * the expensive stages — index build and candidate scoring — are never
    * repeated per budget; knn_recall_curve's three-budget sweep costs one
    * index build instead of three. */
  private[queries] def refinedTopPerProbe(spark: SparkSession, dir: String,
      probesList: Seq[Int], iters: Int): DataFrame = {
    val dotF = dotFast(spark) _
    val emb = Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(dotFast(spark)(col("embedding"), col("embedding"))))
      .materializeOnce
    val cent2 = lloyd(emb, iters).materializeOnce
    // final index: every vector assigned to the refined centroids
    val idx = assignTo(emb, cent2).materializeOnce
    val qa = rankCentroids(idx.filter(col("vec_id") < 10), cent2)
      .filter(col("rn") <= probesList.max)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("c_label").as("cluster"), col("rn"))
    // candidates scored once at the MAX budget; each budget filters down
    val cand0 = qa.join(idx, "cluster")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim",
        round(dotF(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")), 6))
      .select(col("q_id"), col("cluster"), col("vec_id"), col("cos_sim"), col("rn"))
    // materialize ONLY when several probe budgets re-read the scored
    // frame; a single-budget caller has one consumer and the eager
    // checkpoint job is pure added driver latency (r16, guide §5)
    val cand = if (probesList.size > 1) cand0.materializeOnce else cand0
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    probesList.map { p =>
      cand.filter(col("rn") <= p)
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= 5)
        .select(lit(p).as("probes"), col("q_id"), col("cluster"),
          col("rank"), col("vec_id"), col("cos_sim"))
    }.reduce(_ unionAll _)
  }

  // Oracle CTE builders mirroring one Lloyd step: `cent(i, src)` emits
  // c{i}pos/c{i}/c{i}n from a (keys…, cluster, emb) source — the DuckDB
  // mirror of [[centroids]]; `assign(name, c)` emits the argmax
  // assignment against centroid table c{i}n.
  private def centCtes(i: Int, src: String, clusterCol: String,
      pfx: String = "", keys: Seq[String] = Nil, emb: String = "emb"): String = {
    val k = keys.map(_ + ", ").mkString
    s"""${pfx}c${i}pos AS (
       |  SELECT $k$clusterCol AS cl, u.pos AS pos, round(avg(u.v), 6) AS cv
       |  FROM $src,
       |       LATERAL (SELECT unnest($emb) AS v, generate_subscripts($emb, 1) AS pos) u
       |  GROUP BY ${k}cl, pos),
       |${pfx}c$i AS (SELECT ${k}cl, list(cv ORDER BY pos) AS centroid FROM ${pfx}c${i}pos GROUP BY ${k}cl),
       |${pfx}c${i}n AS (SELECT ${k}cl, centroid,
       |               sqrt(list_dot_product(centroid, centroid)) AS c_norm FROM ${pfx}c$i)""".stripMargin
  }

  private def assignCte(name: String, centTable: String,
      src: String = "e"): String =
    s"""$name AS (
       |  SELECT vec_id, emb, norm, cl AS cluster FROM (
       |    SELECT e.vec_id, e.emb, e.norm, c.cl,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY round(list_dot_product(e.emb, c.centroid) / (e.norm * c.c_norm), 6) DESC,
       |                      c.cl) AS rn
       |    FROM $src e CROSS JOIN $centTable c)
       |  WHERE rn = 1)""".stripMargin

  /** Shared refined-index CTE chain (`e`, `iters` Lloyd rounds, `idx`,
    * `q`) — the prefix both the refined search and the recall-curve
    * oracles build on. */
  private def refinedIdxCtes(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""${assignCte(s"a$i", s"c${i - 1}n")},
         |${centCtes(i, s"a$i", "cluster")}""".stripMargin
    }.mkString(",\n")
    s"""e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
       |  FROM embeddings),
       |${centCtes(0, "e", "label")},
       |$rounds,
       |${assignCte("idx", s"c${iters}n")},
       |q AS (SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm FROM e WHERE vec_id < 10)""".stripMargin
  }

  /** Per-index probe-`probes` search CTEs: `qa$tag` (probed cells) and
    * `top$tag` (ranked top-5) against an arbitrary centroid table and
    * postings table — lets one oracle search several indexes. */
  private def searchCtes(tag: String, probes: Int, centTable: String,
      idxTable: String): String =
    s"""qa$tag AS (
       |  SELECT q_id, q_emb, q_norm, cl AS cluster FROM (
       |    SELECT q.q_id, q.q_emb, q.q_norm, c.cl,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY round(list_dot_product(q.q_emb, c.centroid) / (q.q_norm * c.c_norm), 6) DESC,
       |                      c.cl) AS rn
       |    FROM q CROSS JOIN $centTable c)
       |  WHERE rn <= $probes),
       |top$tag AS (
       |  SELECT q_id, cluster, vec_id, cos_sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM (
       |    SELECT qa.q_id, qa.cluster, i.vec_id,
       |           round(list_dot_product(qa.q_emb, i.emb) / (qa.q_norm * i.norm), 6) AS cos_sim
       |    FROM qa$tag qa JOIN $idxTable i ON i.cluster = qa.cluster AND i.vec_id <> qa.q_id))""".stripMargin

  /** Per-probe search CTEs over the shared refined index: `qa$p` and
    * `top$p`. */
  private def refinedSearchCtes(probes: Int, iters: Int): String =
    searchCtes(s"$probes", probes, s"c${iters}n", "idx")

  private def knnIvfRefinedSql(probes: Int, iters: Int = 3): String =
    s"""WITH ${refinedIdxCtes(iters)},
       |${refinedSearchCtes(probes, iters)}
       |SELECT q_id, cluster, rank, vec_id, cos_sim
       |FROM top$probes
       |WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  /** Incremental-index oracle: Lloyd rounds and the base postings come
    * from the BASE split only; the delta is assigned to the final
    * centroids and unioned; the probe-2 search CTEs are reused verbatim
    * (they only reference c3n / idx / q). */
  private val knnIvfIncrementalSql: String = {
    val iters = 3
    val rounds = (1 to iters).map { i =>
      s"""${assignCte(s"a$i", s"c${i - 1}n", "b")},
         |${centCtes(i, s"a$i", "cluster")}""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
       |  FROM embeddings),
       |b AS (SELECT * FROM e WHERE vec_id % 10 < 8),
       |d AS (SELECT * FROM e WHERE vec_id % 10 >= 8),
       |${centCtes(0, "b", "label")},
       |$rounds,
       |${assignCte("idxb", s"c${iters}n", "b")},
       |${assignCte("idxd", s"c${iters}n", "d")},
       |idx AS (SELECT * FROM idxb UNION ALL SELECT * FROM idxd),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm FROM e WHERE vec_id < 10),
       |${refinedSearchCtes(2, iters)}
       |SELECT q_id, cluster, rank, vec_id, cos_sim
       |FROM top2
       |WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin
  }

  /** [[knnIncrementalRecall]]'s index variants: name → the percent of the
    * corpus (`vec_id % 100 < pct`) that arrives after training. */
  private[queries] val RecallVariants = Seq("full" -> 0, "f10" -> 10, "f25" -> 25, "f50" -> 50)

  private def tagged(src: DataFrame): DataFrame = RecallVariants.map { case (v, _) =>
    src.withColumn("variant", lit(v))
  }.reduce(_ unionAll _)

  /** The four indexes of [[knnIncrementalRecall]] as ONE variant-keyed
    * build over (vec_id, label, embedding, norm) rows: centroids (variant,
    * c_label, centroid, c_norm) trained on each variant's base slice, and
    * postings (variant, vec_id, embedding, norm, cluster) of the whole
    * corpus against each variant's centroids. Each variant must equal its
    * own unkeyed [[lloyd]] chain and assignment (IvfCoreSpec). */
  private[queries] def recallIndexes(emb: DataFrame): (DataFrame, DataFrame) = {
    // the ONLY thing that differs per variant is the training slice
    val train = RecallVariants.map { case (v, pct) =>
      emb.filter(pmod(col("vec_id"), lit(100)) >= pct).withColumn("variant", lit(v))
    }.reduce(_ unionAll _)
    // 4 × K centroid rows per round, materialized each round (A/B'd at
    // sf0.1: 4.4 → 3.8 s)
    val cent = lloyd(train, 3, Seq("variant"), checkpointEachRound = true)
    // postings: every variant indexes the WHOLE corpus against its own
    // centroids (= base-assign ∪ delta-admit, per the union identity)
    (cent, assignTo(tagged(emb), cent, Seq("variant")))
  }

  /** Recall under index MAINTENANCE — the quality number that justifies
    * (or bounds) [[knnIvfIncremental]]'s admit-without-retrain fast
    * path: `knn_ivf_incremental` proves the COST is ∝ delta, but stale
    * centroids are the known failure mode of incremental admission, and
    * without this report a deployment has no measured point at which the
    * index must be re-trained. For each delta fraction (10% / 25% / 50%
    * of the corpus arriving after the index was built), recall@5 of the
    * probe-2 search over the incrementally-admitted index (centroids
    * trained on the base slice only) is compared against the same search
    * over a FULL re-trained rebuild — both graded against the exact
    * brute-force top-5 ([[knnRecallCurve]]'s discipline: integer hit
    * counts, fixed-point floor ratios, vec_id tie-breaks). The spec pins
    * that the degradation is graceful (no cliff) as the stale fraction
    * grows.
    *
    * Scale shape: |Q| is fixed and every assignment is a broadcast map
    * stage — and the four index builds (three base slices + the full
    * rebuild) do NOT run as four serial Lloyd pipelines: `variant` is a
    * grouping key, so ONE variant-tagged training frame drives one
    * Lloyd chain producing all four centroid sets in the same
    * aggregates (4 serial builds cost 9.3 s at sf0.1; the fused chain
    * runs the report in ~2 s), each equal to its own unkeyed chain
    * (IvfCoreSpec). Per-vector assignment is map-side, so
    * indexing each variant over the whole corpus is EXACTLY the
    * base-assign ∪ delta-admit union — the identity IvfIncrementalSpec
    * pins as claim (1). */
  def knnIncrementalRecall(spark: SparkSession, dir: String): DataFrame = {
    val embRaw = Tables.embeddings(spark, dir)
    val dotF = dotFast(spark) _
    val emb = embRaw
      .withColumn("norm", sqrt(dotFast(spark)(col("embedding"), col("embedding"))))
      .materializeOnce
    val (cent, idx) = recallIndexes(emb)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val wRank = Window.partitionBy(col("variant"), col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val returned = rankCentroids(tagged(emb.filter(col("vec_id") < 10)), cent, Seq("variant"))
      .filter(col("rn") <= 2)
      .select(col("variant"), col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("c_label").as("cluster"))
      .join(idx, Seq("variant", "cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim",
        round(dotF(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")), 6))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 5)
      .select(col("variant"), col("q_id"), col("vec_id"))
    // exact brute truth from the SAME materialized frame (knnBrute's
    // scan shape, minus a second table read + norm recompute)
    val wBrute = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val bt = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim",
        round(dotF(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")), 6))
      .withColumn("rank", row_number().over(wBrute))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("vec_id"))
      .withColumn("hit", lit(1)) // 50-row exact truth, joined by every variant
    val nExact = bt.agg(count(lit(1)).as("n_exact"))
    val scored = returned.join(bt, Seq("q_id", "vec_id"), "left")
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n_returned"),
        sum(coalesce(col("hit"), lit(0))).cast("bigint").as("n_hits"))
      .materializeOnce // 4 rows; the rebuild scalar and the report both read it
    val fullHits = scored.filter(col("variant") === "full")
      .select(col("n_hits").as("n_hits_rebuild"))
    scored.filter(col("variant") =!= "full")
      .select(substring(col("variant"), 2, 2).cast("int").as("delta_pct"),
        col("n_returned"), col("n_hits").as("n_hits_inc"))
      .crossJoin(broadcast(fullHits))
      .crossJoin(broadcast(nExact))
      .withColumn("recall_incremental",
        floor(col("n_hits_inc") * 1e4 / col("n_exact")) / lit(1e4))
      .withColumn("recall_rebuild",
        floor(col("n_hits_rebuild") * 1e4 / col("n_exact")) / lit(1e4))
      .select("delta_pct", "n_returned", "n_hits_inc", "n_hits_rebuild",
        "n_exact", "recall_incremental", "recall_rebuild")
      .orderBy("delta_pct")
  }

  private val knnIncrementalRecallSql: String = {
    val iters = 3
    // full-rebuild chain (tables e, c0..c3, idx, q) + brute truth
    def incChain(pct: Int): String = {
      val p = s"f$pct"
      val rounds = (1 to iters).map { i =>
        s"""${assignCte(s"${p}a$i", s"${p}c${i - 1}n", s"b$pct")},
           |${centCtes(i, s"${p}a$i", "cluster", p)}""".stripMargin
      }.mkString(",\n")
      s"""b$pct AS (SELECT * FROM e WHERE vec_id % 100 >= $pct),
         |d$pct AS (SELECT * FROM e WHERE vec_id % 100 < $pct),
         |${centCtes(0, s"b$pct", "label", p)},
         |$rounds,
         |${assignCte(s"${p}idxb", s"${p}c${iters}n", s"b$pct")},
         |${assignCte(s"${p}idxd", s"${p}c${iters}n", s"d$pct")},
         |${p}idx AS (SELECT * FROM ${p}idxb UNION ALL SELECT * FROM ${p}idxd),
         |${searchCtes(p, 2, s"${p}c${iters}n", s"${p}idx")}""".stripMargin
    }
    s"""WITH ${refinedIdxCtes(iters)},
       |${refinedSearchCtes(2, iters)},
       |${incChain(10)},
       |${incChain(25)},
       |${incChain(50)},
       |$bruteTopCtes,
       |fullh AS (
       |  SELECT CAST(count(b.q_id) AS BIGINT) AS n_hits_rebuild
       |  FROM (SELECT q_id, vec_id FROM top2 WHERE rank <= 5) t
       |  LEFT JOIN bt b ON b.q_id = t.q_id AND b.vec_id = t.vec_id),
       |r AS (
       |  SELECT 10 AS delta_pct, q_id, vec_id FROM topf10 WHERE rank <= 5
       |  UNION ALL
       |  SELECT 25 AS delta_pct, q_id, vec_id FROM topf25 WHERE rank <= 5
       |  UNION ALL
       |  SELECT 50 AS delta_pct, q_id, vec_id FROM topf50 WHERE rank <= 5)
       |SELECT r.delta_pct,
       |       count(*) AS n_returned,
       |       CAST(count(b.q_id) AS BIGINT) AS n_hits_inc,
       |       (SELECT n_hits_rebuild FROM fullh) AS n_hits_rebuild,
       |       (SELECT count(*) FROM bt) AS n_exact,
       |       floor(count(b.q_id) * 1e4 / (SELECT count(*) FROM bt)) / 1e4 AS recall_incremental,
       |       floor((SELECT n_hits_rebuild FROM fullh) * 1e4 / (SELECT count(*) FROM bt)) / 1e4 AS recall_rebuild
       |FROM r LEFT JOIN bt b ON b.q_id = r.q_id AND b.vec_id = r.vec_id
       |GROUP BY r.delta_pct
       |ORDER BY delta_pct""".stripMargin
  }

  /** The recall-vs-probes curve as a first-class oracled report: for each
    * probe budget (1, 2, 4), recall@5 of the Lloyd-refined IVF search
    * against the exact brute-force top-5 — the saturation curve a
    * deployment reads to pick its probe budget, computed exactly (integer
    * hit counts, fixed-point ratio) so two engines can't disagree on it.
    * Cost shape: |Q| is constant, so every stage is the same broadcast /
    * partition-pruned probe as the search itself, three times over. */
  def knnRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    val brute = knnBrute(spark, dir).select(col("q_id"), col("vec_id"))
    val nExact = brute.agg(count(lit(1)).as("n_exact"))
    val returned = refinedTopPerProbe(spark, dir, Seq(1, 2, 4), iters = 3)
      .select(col("probes"), col("q_id"), col("vec_id"))
    returned
      .join(brute.withColumn("hit", lit(1)), Seq("q_id", "vec_id"), "left")
      .groupBy(col("probes"))
      .agg(
        count(lit(1)).as("n_returned"),
        sum(coalesce(col("hit"), lit(0))).cast("bigint").as("n_hits"))
      .crossJoin(broadcast(nExact))
      .withColumn("recall_at_5",
        floor(col("n_hits") * 1e4 / col("n_exact")) / lit(1e4))
      .select("probes", "n_returned", "n_hits", "n_exact", "recall_at_5")
      .orderBy("probes")
  }

  private val knnRecallCurveSql: String = {
    val iters = 3
    s"""WITH ${refinedIdxCtes(iters)},
       |${refinedSearchCtes(1, iters)},
       |${refinedSearchCtes(2, iters)},
       |${refinedSearchCtes(4, iters)},
       |$bruteTopCtes,
       |r AS (
       |  SELECT 1 AS probes, q_id, vec_id FROM top1 WHERE rank <= 5
       |  UNION ALL
       |  SELECT 2 AS probes, q_id, vec_id FROM top2 WHERE rank <= 5
       |  UNION ALL
       |  SELECT 4 AS probes, q_id, vec_id FROM top4 WHERE rank <= 5)
       |SELECT r.probes,
       |       count(*) AS n_returned,
       |       CAST(count(b.q_id) AS BIGINT) AS n_hits,
       |       (SELECT count(*) FROM bt) AS n_exact,
       |       floor(count(b.q_id) * 1e4 / (SELECT count(*) FROM bt)) / 1e4 AS recall_at_5
       |FROM r LEFT JOIN bt b ON b.q_id = r.q_id AND b.vec_id = r.vec_id
       |GROUP BY r.probes
       |ORDER BY probes""".stripMargin
  }

  /** Recall@5 under FILTERED search — the missing member of the
    * retrieval-eval family: `knn_recall_curve`/`knn_ndcg` grade
    * unfiltered probes, but production vector search is almost always
    * metadata-filtered, and pre-filtering interacts with IVF probing
    * (the filter thins every probed cell, so a fixed probe budget
    * returns fewer-than-k or lower-quality hits as the filter
    * tightens). For each selectivity level (vec_id % s = 0 for
    * s ∈ 2/5/20 — a controlled 50%/20%/5% sweep), recall@5 of the
    * pre-filtered 2-probe IVF search against the exact filtered
    * brute-force top-5, with the kept-corpus size in the report.
    *
    * Cost shape: ONE corpus scan scores all query pairs; the
    * selectivity sweep is a 3-row broadcast cross on the scored frame,
    * the IVF side is a probe-assignment semi-join of the SAME frame
    * (cosines computed once, shared by both sides), and every later
    * stage is |Q|-sized. Determinism: 6-dp cosines with vec_id
    * tiebreak, fixed-point recall (the [[knnRecallCurve]] discipline). */
  def knnFilteredRecall(spark: SparkSession, dir: String): DataFrame = {
    val dotF = dotFast(spark) _
    val emb = Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(dotFast(spark)(col("embedding"), col("embedding"))))
      .materializeOnce
    val sel = spark.range(1)
      .select(explode(array(lit(2), lit(5), lit(20))).as("sel_mod"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    // one scored pass over the corpus, shared by the exact and IVF sides
    val pairs = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim",
        round(dotF(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")), 6))
      .select("q_id", "vec_id", "label", "cos_sim")
    val swept = pairs.crossJoin(broadcast(sel))
      .filter(pmod(col("vec_id"), col("sel_mod")) === 0)
      .materializeOnce // exact ranking AND the probe-side join read it
    val wRank = Window.partitionBy(col("sel_mod"), col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val exact = swept
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 5)
      .select("sel_mod", "q_id", "vec_id")
    // label-centroid IVF, 2-probe pre-filtered search (knn_ivf discipline)
    val assign = rankCentroids(emb.filter(col("vec_id") < 10), centroids(emb, cluster = "label"))
      .filter(col("rn") <= 2)
      .select(col("vec_id").as("q_id"), col("c_label").as("label"))
    val ivf = swept.join(assign, Seq("q_id", "label"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 5)
      .select("sel_mod", "q_id", "vec_id")
    val nKeep = emb.select(col("vec_id")).crossJoin(broadcast(sel))
      .filter(pmod(col("vec_id"), col("sel_mod")) === 0)
      .groupBy(col("sel_mod")).agg(count(lit(1)).as("n_keep"))
    val nExact = exact.groupBy(col("sel_mod")).agg(count(lit(1)).as("n_exact"))
    ivf
      .join(exact.withColumn("hit", lit(1)), Seq("sel_mod", "q_id", "vec_id"), "left")
      .groupBy(col("sel_mod"))
      .agg(
        count(lit(1)).as("n_returned"),
        sum(coalesce(col("hit"), lit(0))).cast("bigint").as("n_hits"))
      .join(nExact, "sel_mod")
      .join(nKeep, "sel_mod")
      .withColumn("recall_at_5",
        floor(col("n_hits") * 1e4 / col("n_exact")) / lit(1e4))
      .select("sel_mod", "n_keep", "n_returned", "n_hits", "n_exact", "recall_at_5")
      .orderBy("sel_mod")
  }

  private val knnFilteredRecallSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm FROM e WHERE vec_id < 10),
       |sel AS (SELECT unnest([2, 5, 20]) AS sel_mod),
       |pairs AS (
       |  SELECT q.q_id, e.vec_id, e.label,
       |         round(list_dot_product(q.q_emb, e.emb) / (q.q_norm * e.norm), 6) AS cos_sim
       |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
       |swept AS (
       |  SELECT s.sel_mod, p.q_id, p.vec_id, p.label, p.cos_sim
       |  FROM pairs p CROSS JOIN sel s WHERE p.vec_id % s.sel_mod = 0),
       |exact AS (
       |  SELECT sel_mod, q_id, vec_id FROM (
       |    SELECT sel_mod, q_id, vec_id,
       |           row_number() OVER (PARTITION BY sel_mod, q_id
       |                              ORDER BY cos_sim DESC, vec_id) AS rank
       |    FROM swept)
       |  WHERE rank <= 5),
       |${centCtes(0, "e", "label")},
       |assign AS (
       |  SELECT q_id, label FROM (
       |    SELECT q.q_id, cn.cl AS label,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY round(list_dot_product(q.q_emb, cn.centroid) / (q.q_norm * cn.c_norm), 6) DESC,
       |                      cn.cl) AS rn
       |    FROM q CROSS JOIN c0n cn)
       |  WHERE rn <= 2),
       |ivf AS (
       |  SELECT sel_mod, q_id, vec_id FROM (
       |    SELECT s.sel_mod, s.q_id, s.vec_id,
       |           row_number() OVER (PARTITION BY s.sel_mod, s.q_id
       |                              ORDER BY s.cos_sim DESC, s.vec_id) AS rank
       |    FROM swept s JOIN assign a ON a.q_id = s.q_id AND a.label = s.label)
       |  WHERE rank <= 5),
       |keepn AS (
       |  SELECT s.sel_mod, count(*) AS n_keep
       |  FROM e CROSS JOIN sel s WHERE e.vec_id % s.sel_mod = 0
       |  GROUP BY s.sel_mod),
       |exn AS (SELECT sel_mod, count(*) AS n_exact FROM exact GROUP BY sel_mod)
       |SELECT i.sel_mod, k.n_keep,
       |       count(*) AS n_returned,
       |       CAST(count(x.q_id) AS BIGINT) AS n_hits,
       |       x2.n_exact,
       |       floor(CAST(count(x.q_id) AS DOUBLE) * 1e4 / x2.n_exact) / 1e4 AS recall_at_5
       |FROM ivf i
       |LEFT JOIN exact x
       |  ON x.sel_mod = i.sel_mod AND x.q_id = i.q_id AND x.vec_id = i.vec_id
       |JOIN exn x2 ON x2.sel_mod = i.sel_mod
       |JOIN keepn k ON k.sel_mod = i.sel_mod
       |GROUP BY i.sel_mod, k.n_keep, x2.n_exact
       |ORDER BY i.sel_mod""".stripMargin

  /** Matryoshka truncation-recall curve — the evaluation behind
    * MRL-style embeddings (Kusupati et al., NeurIPS 2022): score the
    * SAME fixed query set with only the first d components
    * (d ∈ 8/16/32/64) and report recall@5 of each truncation against
    * the full-dimension exact top-5. This is the storage/latency
    * tradeoff table a retrieval deployment reads before shipping
    * truncated vectors — prefix dims cost d/64 of the scan bytes; the
    * d = 64 row is the built-in self-check (recall exactly 1).
    *
    * Scale shape: ONE corpus scan — per-prefix norms are computed per
    * vector before the pair join, all four truncated cosines come out
    * of the same broadcast-query map pass, and the stack() unpivot
    * feeds a single (dims, q_id)-partitioned top-5 window; nothing
    * ever re-scans per d. Determinism: cosines round to 6 dp with
    * vec_id tiebreak (the [[knnBrute]] discipline). */
  def embeddingMrlRecall(spark: SparkSession, dir: String): DataFrame = {
    val dotF = dotFast(spark) _
    val dims = Seq(8, 16, 32, 64)
    val withN = Tables.embeddings(spark, dir)
      .select(col("vec_id") +: col("embedding") +: dims.map(d =>
        sqrt(dotF(slice(col("embedding"), 1, d), slice(col("embedding"), 1, d)))
          .as(s"n$d")): _*)
    val q = withN.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id") +: col("embedding").as("q_emb") +:
        dims.map(d => col(s"n$d").as(s"qn$d")): _*)
    val scored = withN.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id") +: col("vec_id") +: dims.map(d =>
        round(dotF(slice(col("q_emb"), 1, d), slice(col("embedding"), 1, d))
          / (col(s"qn$d") * col(s"n$d")), 6).as(s"cos$d")): _*)
      .selectExpr("q_id", "vec_id",
        s"stack(${dims.size}, ${dims.map(d => s"$d, cos$d").mkString(", ")})" +
          " AS (dims, cos_sim)")
    val w = Window.partitionBy(col("dims"), col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val top = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("dims"), col("q_id"), col("vec_id"))
      .materializeOnce // truth leg (dims = 64) and all returned legs share it
    val truth = top.filter(col("dims") === 64)
      .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
    top.join(truth, Seq("q_id", "vec_id"), "left")
      .groupBy(col("dims"))
      .agg(count(lit(1)).as("n_returned"),
        sum(coalesce(col("hit"), lit(0))).cast("bigint").as("n_hits"))
      .withColumn("recall_at_5",
        floor(col("n_hits") * 1e4 / col("n_returned")) / lit(1e4))
      .orderBy("dims")
  }

  private val embeddingMrlRecallSql: String = {
    def cosD(d: Int) =
      s"""round(list_dot_product(a.embedding[1:$d]::DOUBLE[], b.embedding[1:$d]::DOUBLE[]) /
         |  (sqrt(list_dot_product(a.embedding[1:$d]::DOUBLE[], a.embedding[1:$d]::DOUBLE[])) *
         |   sqrt(list_dot_product(b.embedding[1:$d]::DOUBLE[], b.embedding[1:$d]::DOUBLE[]))), 6)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT b.vec_id AS q_id, a.vec_id AS vec_id,
       |         ${Seq(8, 16, 32, 64).map(d => s"${cosD(d)} AS cos$d").mkString(",\n         ")}
       |  FROM embeddings a
       |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) b
       |  WHERE a.vec_id <> b.vec_id),
       |u AS (
       |  ${Seq(8, 16, 32, 64).map(d =>
            s"SELECT $d AS dims, q_id, vec_id, cos$d AS cos_sim FROM pairs")
            .mkString("\n  UNION ALL\n  ")}),
       |top AS (
       |  SELECT dims, q_id, vec_id FROM (
       |    SELECT dims, q_id, vec_id,
       |           row_number() OVER (PARTITION BY dims, q_id
       |                              ORDER BY cos_sim DESC, vec_id) AS rank
       |    FROM u)
       |  WHERE rank <= 5),
       |truth AS (SELECT q_id, vec_id FROM top WHERE dims = 64)
       |SELECT t.dims,
       |       count(*) AS n_returned,
       |       CAST(count(b.q_id) AS BIGINT) AS n_hits,
       |       floor(count(b.q_id) * 1e4 / count(*)) / 1e4 AS recall_at_5
       |FROM top t LEFT JOIN truth b ON b.q_id = t.q_id AND b.vec_id = t.vec_id
       |GROUP BY t.dims
       |ORDER BY t.dims""".stripMargin
  }

  /** Cluster-quality report over the Lloyd-refined IVF cells — the
    * acceptance gate for the index build that [[kmeansParallelInit]]
    * seeds and [[ivfKmeansRefine]] iterates: per cell, member count,
    * total cohesion (Σ cos to own centroid) and the silhouette-style
    * separation margin (cos to own centroid − cos to the nearest OTHER
    * centroid, mean and worst member). A cell whose min margin ≈ 0 has
    * members sitting on a Voronoi boundary — the vectors multi-probe
    * search exists for; a cell with low cohesion is too diffuse to
    * prune by. This is the per-structure view the corpus-level
    * [[embeddingOutliers]] p95 filter cannot give.
    *
    * Scale shape: one broadcast-centroid map pass over the corpus (the
    * [[rankCentroids]] convention, kept to rn ≤ 2) and one K-row
    * aggregate. Exactness: similarities go micro through DECIMAL — the
    * margin means are truncating divisions of non-negative integers
    * (s1 ≥ s2 by the ranking), and cohesion is emitted as the exact SUM
    * so no negative-dividend dialect gap can arise. */
  def embeddingClusterQuality(spark: SparkSession, dir: String): DataFrame = {
    val dotF = dotFast(spark) _
    val emb = Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(dotF(col("embedding"), col("embedding"))))
    val cent = refinedCentroidsFrom(spark, Tables.embeddings(spark, dir))
      .materializeOnce
    val micro = (c: Column) => (c.cast("decimal(18,6)") * 1000000).cast("long")
    rankCentroids(emb, cent)
      .filter(col("rn") <= 2)
      .groupBy(col("vec_id"))
      .agg(max(when(col("rn") === 1, col("c_label"))).as("cluster"),
        max(when(col("rn") === 1, micro(col("c_sim")))).as("s1"),
        max(when(col("rn") === 2, micro(col("c_sim")))).as("s2"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("s1")).as("cohesion_sum_micro"),
        expr("sum(s1 - s2) div count(1)").as("margin_micro"),
        min(col("s1") - col("s2")).as("min_margin_micro"))
      .orderBy("cluster")
  }

  private val embeddingClusterQualitySql: String =
    s"""WITH ${refinedIdxCtes(3)},
       |r AS (
       |  SELECT vec_id, cl, c_sim,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY c_sim DESC, cl) AS rn
       |  FROM (
       |    SELECT e.vec_id, c.cl,
       |           round(list_dot_product(e.emb, c.centroid) / (e.norm * c.c_norm), 6) AS c_sim
       |    FROM e CROSS JOIN c3n c)),
       |per AS (
       |  SELECT vec_id,
       |         max(CASE WHEN rn = 1 THEN cl END) AS cluster,
       |         max(CASE WHEN rn = 1 THEN CAST(CAST(c_sim AS DECIMAL(18,6)) * 1000000 AS BIGINT) END) AS s1,
       |         max(CASE WHEN rn = 2 THEN CAST(CAST(c_sim AS DECIMAL(18,6)) * 1000000 AS BIGINT) END) AS s2
       |  FROM r WHERE rn <= 2 GROUP BY vec_id)
       |SELECT cluster, count(*) AS n_members,
       |       CAST(sum(s1) AS BIGINT) AS cohesion_sum_micro,
       |       CAST(sum(s1 - s2) // count(*) AS BIGINT) AS margin_micro,
       |       CAST(min(s1 - s2) AS BIGINT) AS min_margin_micro
       |FROM per GROUP BY cluster ORDER BY cluster""".stripMargin

  /** Per-position inverse log₂ discount for NDCG@5 (micro units, rank
    * r → round(10⁶/log₂(r+1))) — computed once here and shared as
    * literals by both dialects (the DFT trig-table precedent), so no
    * float log is ever evaluated inside either engine. */
  private val NdcgInvDiscMicro: Seq[Long] =
    (1 to 5).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))

  /** Ideal DCG@5 in micro units under the graded gain (6 − true_rank). */
  private val NdcgIdcgMicro: Long =
    (1 to 5).map(r => (6L - r) * NdcgInvDiscMicro(r - 1)).sum

  private val ndcgDiscCaseSql: String =
    NdcgInvDiscMicro.zipWithIndex
      .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }
      .mkString("CASE r.rank ", " ", " END")

  /** NDCG@5 of the IVF-probed search against the brute-force ranking —
    * the ORDER-sensitive retrieval metric beside [[knnRecallCurve]]'s
    * set-based recall: recall cannot see that the true #1 neighbor came
    * back fifth, NDCG discounts exactly that. Ground-truth gain is
    * graded by brute rank (6 − rank, so the top neighbor is worth 5),
    * returned positions discount by 1/log₂(pos+1); both the discounts
    * and the ideal DCG are micro-integer Scala literals shared by the
    * two dialects, making every per-query NDCG an exact integer ppm.
    * Same one-index-build three-budget sweep as the recall curve
    * (candidates scored once at the max budget).
    *
    * Scale shape: identical to [[knnRecallCurve]] — index build ∝
    * corpus, the metric arithmetic on \|probes\|·\|Q\|·5-row frames. */
  def knnNdcg(spark: SparkSession, dir: String): DataFrame = {
    val brute = knnBrute(spark, dir)
      .select(col("q_id"), col("vec_id"), col("rank").as("true_rank"))
    val ret = refinedTopPerProbe(spark, dir, Seq(1, 2, 4), iters = 3)
      .select(col("probes"), col("q_id"), col("vec_id"), col("rank"))
    val discCase = NdcgInvDiscMicro.zipWithIndex
      .map { case (d, i) => s"WHEN ${i + 1} THEN ${d}" }
      .mkString("CASE rank ", " ", " END")
    val perQ = ret
      .join(broadcast(brute), Seq("q_id", "vec_id"), "left")
      .withColumn("rel", coalesce(lit(6L) - col("true_rank"), lit(0L)))
      .withColumn("gain_micro", col("rel") * expr(discCase))
      .groupBy(col("probes"), col("q_id"))
      .agg(sum(col("gain_micro")).as("dcg_micro"))
      .withColumn("ndcg_ppm",
        expr(s"dcg_micro * 1000000 div $NdcgIdcgMicro"))
    perQ.groupBy(col("probes"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("ndcg_ppm")).as("sum_ndcg_ppm"),
        min(col("ndcg_ppm")).as("min_ndcg_ppm"))
      .select(col("probes"), col("n_queries"),
        lit(NdcgIdcgMicro).as("idcg_micro"),
        expr("sum_ndcg_ppm div n_queries").as("mean_ndcg_ppm"),
        col("min_ndcg_ppm"))
      .orderBy("probes")
  }

  private val knnNdcgSql: String = {
    val iters = 3
    s"""WITH ${refinedIdxCtes(iters)},
       |${refinedSearchCtes(1, iters)},
       |${refinedSearchCtes(2, iters)},
       |${refinedSearchCtes(4, iters)},
       |$bruteTopCtes,
       |r AS (
       |  SELECT 1 AS probes, q_id, vec_id, rank FROM top1 WHERE rank <= 5
       |  UNION ALL
       |  SELECT 2 AS probes, q_id, vec_id, rank FROM top2 WHERE rank <= 5
       |  UNION ALL
       |  SELECT 4 AS probes, q_id, vec_id, rank FROM top4 WHERE rank <= 5),
       |g AS (
       |  SELECT r.probes, r.q_id,
       |         (CASE WHEN b.rank IS NULL THEN 0 ELSE 6 - b.rank END)
       |           * ($ndcgDiscCaseSql) AS gain_micro
       |  FROM r LEFT JOIN bt b ON b.q_id = r.q_id AND b.vec_id = r.vec_id),
       |d AS (
       |  SELECT probes, q_id,
       |         sum(gain_micro) * 1000000 // $NdcgIdcgMicro AS ndcg_ppm
       |  FROM g GROUP BY 1, 2)
       |SELECT CAST(probes AS INT) AS probes,
       |       count(*) AS n_queries,
       |       CAST($NdcgIdcgMicro AS BIGINT) AS idcg_micro,
       |       CAST(sum(ndcg_ppm) // count(*) AS BIGINT) AS mean_ndcg_ppm,
       |       CAST(min(ndcg_ppm) AS BIGINT) AS min_ndcg_ppm
       |FROM d GROUP BY probes
       |ORDER BY probes""".stripMargin
  }

  /** One Lloyd (k-means) refinement of the IVF index: assign every vector
    * to its nearest current centroid (cosine, broadcast centroids —
    * map-side assignment, no shuffle of the corpus), then recompute
    * centroids from the new assignment. This is the step that turns
    * arbitrary seed partitions (here: labels) into geometric Voronoi
    * cells; production IVF runs it a handful of times on a sample. Emitted
    * flat as (cluster, pos, centroid_v, n_members). Each stage rounds to
    * 6 so the assignment argmax is engine-stable (tie-break on cluster
    * id). Shuffle cost: dim × N partials for the recompute — identical to
    * the initial build; assignment itself is embarrassingly parallel. */
  def ivfKmeansRefine(spark: SparkSession, dir: String): DataFrame = {
    val embIn = Tables.embeddings(spark, dir)
    val emb = embIn
      .withColumn("norm", sqrt(dotFast(spark)(col("embedding"), col("embedding"))))
    assignTo(emb, centroids(emb, cluster = "label"))
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cluster"), col("pos"))
      .agg(
        round(avg(col("v").cast("double")), 6).as("centroid_v"),
        count(lit(1)).as("n_members"))
      .orderBy("cluster", "pos")
  }

  private val ivfKmeansRefineSql: String =
    s"""WITH e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      |  FROM embeddings),
      |${centCtes(0, "e", "label")},
      |${assignCte("assign", "c0n")}
      |SELECT cluster, CAST(u.pos - 1 AS INT) AS pos,
      |       round(avg(u.v), 6) AS centroid_v,
      |       count(*) AS n_members
      |FROM assign,
      |     LATERAL (SELECT unnest(emb) AS v, generate_subscripts(emb, 1) AS pos) u
      |GROUP BY cluster, pos
      |ORDER BY cluster, pos""".stripMargin

  /** Semantic dedup (the SemDeDup move): cluster the corpus with the
    * Lloyd-refined centroids, then look for near-duplicate pairs ONLY
    * within each cluster — cosine ≥ 0.35, the same threshold as the exact
    * `near_dup_pairs` oracle — and drop the higher id of each pair.
    * Emits the dropped roster: (cluster, vec_id, witness_id, max_sim).
    * Drop rule: v is dropped iff ANY lower-id near-dup exists in its
    * cluster ("similar to any earlier doc"), so in a chain a–b–c the
    * witness b of c may itself be dropped (by a) — witness_id identifies
    * the evicting pair, NOT a guaranteed survivor. The kept set is
    * exactly the vec_ids absent from the roster.
    *
    * Scale design: this is the embedding-space answer to MinHash-LSH.
    * The pair join is an equi-join on cluster id, so comparisons are
    * Σ|cluster|² ≈ N²/K instead of N² — and each cluster's pair block is
    * an independent shuffle partition, so at 100 TB you raise K until a
    * cluster fits an executor (production SemDeDup uses K ~ 10k–100k).
    * Assignment stages are broadcast map-side passes; only the
    * dim × K centroid recomputes shuffle. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val embIn = Tables.embeddings(spark, dir)
    val dotF = dotFast(spark) _
    val emb = embIn
      .withColumn("norm", sqrt(dotFast(spark)(col("embedding"), col("embedding"))))
      .materializeOnce
    val idx = assignTo(emb, lloyd(emb, 2)).materializeOnce
    val a = idx.select(col("cluster"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("norm").as("a_norm"))
    val b = idx.select(col("cluster"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("norm").as("b_norm"))
    a.join(b, "cluster")
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos_sim",
        round(dotF(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")), 6))
      .filter(col("cos_sim") >= 0.35)
      .groupBy(col("cluster"), col("b_id").as("vec_id"))
      .agg(min(col("a_id")).as("witness_id"), max(col("cos_sim")).as("max_sim"))
      .orderBy("cluster", "vec_id")
  }

  private val semanticDedupSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
       |  FROM embeddings),
       |${centCtes(0, "e", "label")},
       |${assignCte("a1", "c0n")},
       |${centCtes(1, "a1", "cluster")},
       |${assignCte("a2", "c1n")},
       |${centCtes(2, "a2", "cluster")},
       |${assignCte("idx", "c2n")},
       |p AS (
       |  SELECT a.cluster AS cluster, a.vec_id AS a_id, b.vec_id AS b_id,
       |         round(list_dot_product(a.emb, b.emb) / (a.norm * b.norm), 6) AS cos_sim
       |  FROM idx a JOIN idx b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE round(list_dot_product(a.emb, b.emb) / (a.norm * b.norm), 6) >= 0.35)
       |SELECT cluster, b_id AS vec_id, min(a_id) AS witness_id, max(cos_sim) AS max_sim
       |FROM p GROUP BY cluster, b_id
       |ORDER BY cluster, vec_id""".stripMargin

  /** Embedding-space outlier pruning — the vector-side quality filter: a
    * vector far from EVERY cluster centroid is in no-man's land
    * (mislabeled, corrupted, or out-of-distribution) and gets flagged.
    * Distance = 1 − cosine to the nearest Lloyd-refined centroid; the
    * cut is the corpus p95 of that distance (rounded BEFORE the compare,
    * per the percentile-threshold convention). Scale shape: two
    * broadcast-centroid assignment passes + one global percentile — the
    * corpus is never self-joined. */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(dotFast(spark)(col("embedding"), col("embedding"))))
      .materializeOnce
    val dists = rankCentroids(emb, lloyd(emb, 1))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("c_label").as("cluster"),
        round(lit(1.0) - col("c_sim"), 6).as("dist"))
      .materializeOnce
    val bound = dists.agg(
      round(expr("percentile(dist, 0.95)"), 6).as("p95"))
    dists.crossJoin(broadcast(bound))
      .filter(col("dist") > col("p95"))
      .select(col("vec_id"), col("cluster"), col("dist"), col("p95"))
      .orderBy("vec_id")
  }

  private val embeddingOutliersSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
       |  FROM embeddings),
       |${centCtes(0, "e", "label")},
       |${assignCte("a1", "c0n")},
       |${centCtes(1, "a1", "cluster")},
       |d AS (
       |  SELECT vec_id, cluster, round(1.0 - c_sim, 6) AS dist FROM (
       |    SELECT e.vec_id, c.cl AS cluster,
       |           round(list_dot_product(e.emb, c.centroid) / (e.norm * c.c_norm), 6) AS c_sim,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY round(list_dot_product(e.emb, c.centroid) / (e.norm * c.c_norm), 6) DESC,
       |                      c.cl) AS rn
       |    FROM e CROSS JOIN c1n c)
       |  WHERE rn = 1),
       |b AS (SELECT round(quantile_cont(dist, 0.95), 6) AS p95 FROM d)
       |SELECT d.vec_id, d.cluster, d.dist, b.p95
       |FROM d CROSS JOIN b
       |WHERE d.dist > b.p95
       |ORDER BY d.vec_id""".stripMargin

  // ---- product quantization -----------------------------------------------

  private val NSub = 4       // subspaces
  private val SubDim = 16    // dims per subspace (4 × 16 = 64)
  private val PqSeeds = 10   // residual-codebook size (random-point init)

  /** Product quantization: the storage form of a billion-scale vector
    * index (64 floats → [[NSub]] small codes). The embedding is split
    * into [[NSub]] subspaces; each subspace gets its own codebook (here
    * seeded from label groups, like the IVF build); each subvector is
    * replaced by the id of its nearest codeword (squared-L2 argmin via
    * the dot-product identity ‖a−c‖² = a·a − 2a·c + c·c, rounded for an
    * engine-stable argmin, ties to the smaller code). Emits the per-
    * vector code tuple plus total squared reconstruction error — the
    * quality number a PQ index is tuned by. Scale shape: codebook build
    * is a dim×K partial-agg shuffle; assignment is broadcast map-side
    * argmin over K×[[NSub]] codewords — no shuffle of the corpus. */
  /** (vec_id, own_label, s, subv): every vector split into its [[NSub]]
    * subvectors. Cached — feeds both the codebook build and assignment. */
  private def pqSub(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").as("own_label"), col("embedding"),
        explode(sequence(lit(0), lit(NSub - 1))).as("s"))
      .withColumn("subv", slice(col("embedding"), col("s") * SubDim + 1, lit(SubDim)))
      .select("vec_id", "own_label", "s", "subv")
      .materializeOnce

  /** Per-subspace codebooks (code_label, s, centroid, cdot): the label
    * centroids of each subspace's subvectors. */
  private def pqCodebook(spark: SparkSession, sub: DataFrame): DataFrame =
    centroids(sub.withColumnRenamed("subv", "embedding"), Seq("s"), cluster = "own_label")
      .select(col("c_label").as("code_label"), col("s"), col("centroid"))
      .withColumn("cdot", dotFast(spark)(col("centroid"), col("centroid")))

  /** All (vec_id, s, code_label, sqd) subvector↔codeword distances —
    * squared L2 via the dot identity, rounded for a stable argmin. */
  private def pqDistances(spark: SparkSession, sub: DataFrame, codebook: DataFrame): DataFrame = {
    val dotF = dotFast(spark) _
    sub.join(broadcast(codebook), "s")
      .withColumn("sqd",
        round(dotF(col("subv"), col("subv"))
          - lit(2.0) * dotF(col("subv"), col("centroid")) + col("cdot"), 6))
      .select("vec_id", "s", "code_label", "sqd")
  }

  /** Argmin over codewords: each subvector's assigned code + its error. */
  private def pqCodes(dists: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"), col("s"))
      .orderBy(col("sqd"), col("code_label"))
    dists.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
  }

  def embeddingPq(spark: SparkSession, dir: String): DataFrame = {
    val sub = pqSub(spark, dir)
    val assigned = pqCodes(pqDistances(spark, sub, pqCodebook(spark, sub)))
    val codeCols = (0 until NSub).map(j =>
      max(when(col("s") === j, col("code_label"))).as(s"code$j"))
    assigned.groupBy(col("vec_id"))
      .agg(codeCols.head, codeCols.tail :+ sum(col("sqd").cast("decimal(18,6)")).cast("double").as("recon_err"): _*)
      .orderBy("vec_id")
  }

  /** PQ search via asymmetric distance computation — the query-time path
    * of a PQ index: the corpus exists ONLY as codes; each query computes
    * a small distance table (its exact subvector↔codeword distances,
    * [[NSub]]×K entries, broadcast), and a corpus vector's approximate
    * distance is the SUM of table lookups for its codes — no float math
    * against corpus vectors at all. Top-5 by ADC distance per query.
    * Scale shape: the scan is an equi-join of corpus codes against the
    * broadcast table + a (q, vec) partial-agg — the table-lookup scan
    * that makes PQ the billion-vector form. */
  def knnPqAdc(spark: SparkSession, dir: String): DataFrame = {
    val sub = pqSub(spark, dir)
    val dists = pqDistances(spark, sub, pqCodebook(spark, sub)).materializeOnce
    val codes = pqCodes(dists).select("vec_id", "s", "code_label")
    val dtable = dists.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("s"), col("code_label"), col("sqd"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc_dist"), col("vec_id"))
    codes.join(broadcast(dtable), Seq("s", "code_label"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("sqd").cast("decimal(18,6)")).cast("double").as("adc_dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "vec_id", "adc_dist")
      .orderBy("q_id", "rank")
  }

  /** DuckDB mirror of [[pqSub]] → [[pqCodebook]] → [[pqDistances]]:
    * CTEs sub, the keyed label centroids, cbn (code_label, s, centroid,
    * cdot), d (every subvector↔codeword distance) and a (codes ranked per
    * subvector; rn = 1 is the code [[pqCodes]] keeps). */
  private val pqCodeCtes: String =
    s"""e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
       |sub AS (
       |  SELECT vec_id, label AS own_label, st.s AS s,
       |         emb[CAST(st.s * $SubDim + 1 AS INT):CAST(st.s * $SubDim + $SubDim AS INT)] AS subv
       |  FROM e CROSS JOIN (SELECT unnest(range(0, $NSub)) AS s) st),
       |${centCtes(0, "sub", "own_label", "pq", Seq("s"), "subv")},
       |cbn AS (SELECT cl AS code_label, s, centroid,
       |               list_dot_product(centroid, centroid) AS cdot FROM pqc0),
       |d AS (
       |  SELECT sub.vec_id, sub.s AS s, cbn.code_label AS code,
       |         round(list_dot_product(subv, subv)
       |               - 2.0 * list_dot_product(subv, centroid) + cdot, 6) AS sqd
       |  FROM sub JOIN cbn ON sub.s = cbn.s),
       |a AS (
       |  SELECT vec_id, s, code, sqd,
       |         row_number() OVER (PARTITION BY vec_id, s ORDER BY sqd, code) AS rn
       |  FROM d)""".stripMargin

  private val knnPqAdcSql: String =
    s"""WITH $pqCodeCtes,
       |codes AS (SELECT vec_id, s, code FROM a WHERE rn = 1),
       |qd AS (SELECT vec_id AS q_id, s, code, sqd FROM d WHERE vec_id < 10),
       |adc AS (
       |  SELECT qd.q_id, c.vec_id, CAST(sum(CAST(qd.sqd AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
       |  FROM codes c JOIN qd ON qd.s = c.s AND qd.code = c.code
       |  WHERE c.vec_id <> qd.q_id
       |  GROUP BY qd.q_id, c.vec_id),
       |r AS (
       |  SELECT q_id, vec_id, adc_dist,
       |         row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rank
       |  FROM adc)
       |SELECT q_id, rank, vec_id, adc_dist FROM r WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  private val embeddingPqSql: String = {
    val codeSelects = (0 until NSub)
      .map(j => s"max(CASE WHEN s = $j THEN code END) AS code$j").mkString(",\n      |       ")
    s"""WITH $pqCodeCtes
       |SELECT vec_id,
       |       $codeSelects,
       |       CAST(sum(CAST(sqd AS DECIMAL(18,6))) AS DOUBLE) AS recon_err
       |FROM a WHERE rn = 1
       |GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  // ---- IVF-PQ (coarse cells + product-quantized residuals + ADC) ---------

  /** IVF-PQ — the billion-scale index form (coarse inverted cells with
    * product-quantized RESIDUALS, searched by asymmetric distance): each
    * corpus vector lives in a coarse cell (its label centroid, as in
    * [[knnIvf]]), stores only [[NSub]] codes quantizing (vector −
    * cell centroid), and a query probes its 2 nearest cells, builds a
    * per-cell distance table from its OWN residual against the trained
    * codebooks, and scores corpus vectors as sums of table lookups.
    *
    * Codebooks are TRAINED (random-point init from the first [[PqSeeds]]
    * vectors' residuals + one Lloyd step) — label-mean seeding would
    * degenerate: residuals within a cell average to ~zero by
    * construction, collapsing every codeword onto the origin.
    *
    * All PQ arithmetic runs in EXACT integer micro-units (residual
    * components quantized to 1e-6, distances as integer Σdiff², ADC as
    * integer sums — floats appear only in the final /1e12 display and
    * the coarse-probe cosine): float dot products over 6-decimal
    * residuals land on exact .5×10⁻⁶ rounding boundaries where engines
    * diverge, and a PQ index quantizes anyway.
    *
    * Shape: every vector is ONE row carrying its residual as an
    * `array<bigint>`, and every codebook is ONE row (`book`: an array of
    * (code, s, cw) entries) broadcast against it. Assignment is the
    * codegen'd `graft_pq_assign` kernel ([[graft.functions.PqAssign]]),
    * row-local: no exchange between the residual checkpoint and the code
    * frame. Exactness: the integer sums are order-free, and the kernel's
    * (distance, code) argmin is the old per-(vector, subspace)
    * `row_number() ORDER BY sqd, code` — so codes, tables and ADC
    * distances are bit-identical to the position-level join form this
    * replaced (PqAssignSpec; same oracle). The coarse centroids keep
    * their per-position `round(avg(v), 6)` over the scan's own
    * partitioning, so the double sums fold in the same order.
    *
    * Returns the index build (centroids, one-row codebook, corpus codes),
    * the half that scales with the corpus. */
  private[graft] def ivfPqParts(spark: SparkSession, embIn: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val assign = pqAssignFast(spark) _
    // coarse centroids (c_label, centroid, c_norm): the label centroids
    val cent = centroids(embIn, cluster = "label").materializeOnce
    // integer micro-unit residuals (vec_id, own_label, rv)
    val r = embIn.join(broadcast(cent), col("label") === col("c_label"))
      .select(col("vec_id"), col("label").as("own_label"),
        microResidual(col("embedding"), col("centroid")).as("rv"))
      .materializeOnce
    // random-point init: the first PqSeeds vectors' residuals ARE the seeds
    val seeds = pqBook(r.filter(col("vec_id") < PqSeeds)
      .select(col("vec_id").cast("int").as("code"),
        explode(array((0 until NSub).map(s =>
          struct(lit(s).as("s"), slice(col("rv"), s * SubDim + 1, SubDim).as("cw"))): _*)).as("e"))
      .select(col("code"), col("e.s").as("s"), col("e.cw").as("cw")))
    // one Lloyd step: per-(code, s) mean residual, one integer sum per
    // position, floor-quantized to micro units (floor, not round —
    // integer means land on exact halves)
    val sums = (0 until SubDim).map(i => sum(col("e.x")(i)).as(s"x$i"))
    val codebook = pqBook(r.crossJoin(broadcast(seeds))
      .select(col("rv"), assign(col("rv"), col("book")).as("a"))
      .select(explode(array((0 until NSub).map(s =>
        struct(col("a")(s).as("code"), lit(s).as("s"),
          slice(col("rv"), s * SubDim + 1, SubDim).as("x"))): _*)).as("e"))
      .groupBy(col("e.code").as("code"), col("e.s").as("s"))
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col("code"), col("s"), array((0 until SubDim).map(i =>
        floor(col(s"x$i").cast("double") / col("n")).cast("long")): _*).as("cw")))
      .materializeOnce
    // corpus codes (vec_id, cell, codes): one code per subspace
    val codes = r.crossJoin(broadcast(codebook))
      .select(col("vec_id"), col("own_label").as("cell"),
        assign(col("rv"), col("book")).as("codes"))
    (cent, codebook, codes)
  }

  /** round((v − c)·10⁶) per component, as `array<bigint>`. */
  private def microResidual(v: Column, c: Column): Column =
    zip_with(v, c, (x, y) => round((x.cast("double") - y) * 1e6).cast("long"))

  /** (code, s, cw) rows packed into the one-row `book` frame. */
  private def pqBook(entries: DataFrame): DataFrame =
    entries.agg(collect_list(struct(col("code"), col("s"), col("cw"))).as("book"))

  def knnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val wRank = Window.partitionBy(col("q_id")).orderBy(col("adc_dist"), col("vec_id"))
    ivfPqAdc(spark, dir)
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "cell", "vec_id", "adc_dist")
      .orderBy("q_id", "rank")
  }

  /** The shared IVF-PQ ADC scan: (q_id, vec_id, cell, adc_dist) for every
    * code row in the probed cells — [[knnIvfPq]] ranks it directly,
    * [[knnIvfPqRerank]] reranks its shortlist with exact vectors. Each
    * (query, probed cell) row carries its distance table as one map
    * (code → Σdiff²) per subspace, so a corpus row's ADC distance is
    * [[NSub]] lookups summed in place — no per-(q, vec) aggregate. */
  private def ivfPqAdc(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val (cent, codebook, codes) = ivfPqParts(spark, emb)
    val q = emb.filter(col("vec_id") < 10)
      .withColumn("norm", sqrt(dotFast(spark)(col("embedding"), col("embedding"))))
    // query cell probes: top-2 coarse cells by cosine, each with the
    // query's residual against that cell's centroid, same micro units
    val qr = rankCentroids(q, cent)
      .filter(col("rn") <= 2)
      .select(col("vec_id").as("q_id"), col("c_label").as("cell"),
        microResidual(col("embedding"), col("centroid")).as("rv"))
    // per-(query, probed cell) distance table: exact integer Σdiff²
    val dtable = qr.crossJoin(broadcast(codebook))
      .select(col("q_id"), col("cell"), array((0 until NSub).map(s =>
        map_from_entries(transform(filter(col("book"), e => e("s") === s),
          e => struct(e("code"), subspaceSqDist(col("rv"), e))))): _*).as("tbl"))
    // ADC scan: codes of probed cells only, distance = Σ table lookups
    val adc = (0 until NSub).map(s =>
      element_at(element_at(col("tbl"), s + 1), element_at(col("codes"), s + 1)))
      .reduce(_ + _)
    codes.join(broadcast(dtable), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("cell"),
        (adc.cast("double") / lit(1e12)).as("adc_dist"))
  }

  /** IVF-PQ search with exact REFINEMENT — the rerank step a production
    * ADC deployment always runs (FAISS's refine/`k_factor`): the
    * quantized scan is only used to cut the corpus to a top-20 shortlist
    * per query, then the shortlist's FULL vectors are fetched and the
    * final top-5 ranked by exact cosine. The output keeps each hit's
    * `adc_rank` next to its exact `rank`, so the reranking's effect
    * (codes-only ordering vs true ordering) is visible in the result —
    * the quality argument for paying the small exact pass.
    *
    * Scale shape: the ADC stages are [[knnIvfPq]]'s (broadcast distance
    * tables, codes never leave their cells); the refinement joins a
    * |Q|·20-row shortlist against the vector store by id — a hash
    * equi-join on the primary key, negligible next to the scan it
    * replaces. */
  def knnIvfPqRerank(spark: SparkSession, dir: String): DataFrame = {
    val dotF = dotFast(spark) _
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adc_dist"), col("vec_id"))
    val short = ivfPqAdc(spark, dir)
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= 20)
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val wCos = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    short
      .join(emb.select(col("vec_id").as("q_id"), col("embedding").as("qe")), "q_id")
      .join(emb.select(col("vec_id"), col("embedding").as("de")), "vec_id")
      .withColumn("cos_sim",
        round(dotF(col("qe"), col("de"))
          / (sqrt(dotF(col("qe"), col("qe"))) * sqrt(dotF(col("de"), col("de")))), 6))
      .withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "vec_id", "adc_rank", "cos_sim")
      .orderBy("q_id", "rank")
  }

  /** Shared CTE chain of the IVF-PQ oracle, through the ADC scan. */
  private val ivfPqAdcCtes: String =
    s"""WITH pts AS (
       |  SELECT vec_id, label, CAST(u.pos - 1 AS INT) AS pos, u.v AS v
       |  FROM embeddings,
       |       LATERAL (SELECT unnest(embedding::DOUBLE[]) AS v,
       |                       generate_subscripts(embedding, 1) AS pos) u),
       |cp AS (
       |  SELECT label AS c_label, pos, round(avg(v), 6) AS cv
       |  FROM pts GROUP BY label, pos),
       |r AS (
       |  SELECT p.vec_id, p.label AS own_label, p.pos, p.pos // $SubDim AS s,
       |         CAST(round((p.v - cp.cv) * 1e6) AS BIGINT) AS rv
       |  FROM pts p JOIN cp ON p.label = cp.c_label AND p.pos = cp.pos),
       |seeds AS (
       |  SELECT CAST(vec_id AS INT) AS code_label, s AS cs, pos AS cw_pos, rv AS cw
       |  FROM r WHERE vec_id < $PqSeeds),
       |d0 AS (
       |  SELECT r.vec_id, r.s AS s, sd.code_label AS code_label,
       |         sum((r.rv - sd.cw) * (r.rv - sd.cw)) AS sqd
       |  FROM r JOIN seeds sd ON r.s = sd.cs AND r.pos = sd.cw_pos
       |  GROUP BY r.vec_id, r.s, sd.code_label),
       |a0 AS (
       |  SELECT vec_id, s, code_label AS seed FROM (
       |    SELECT vec_id, s, code_label, sqd,
       |           row_number() OVER (PARTITION BY vec_id, s ORDER BY sqd, code_label) AS rn
       |    FROM d0)
       |  WHERE rn = 1),
       |cb AS (
       |  SELECT a0.seed AS code_label, r.s AS cs, r.pos AS cw_pos,
       |         CAST(floor(CAST(sum(r.rv) AS DOUBLE) / count(*)) AS BIGINT) AS cw
       |  FROM r JOIN a0 ON a0.vec_id = r.vec_id AND a0.s = r.s
       |  GROUP BY a0.seed, r.s, r.pos),
       |d AS (
       |  SELECT r.vec_id, r.own_label, r.s AS s, cb.code_label AS code_label,
       |         sum((r.rv - cb.cw) * (r.rv - cb.cw)) AS sqd
       |  FROM r JOIN cb ON r.s = cb.cs AND r.pos = cb.cw_pos
       |  GROUP BY r.vec_id, r.own_label, r.s, cb.code_label),
       |codes AS (
       |  SELECT vec_id, own_label AS cell, s, code_label FROM (
       |    SELECT vec_id, own_label, s, code_label, sqd,
       |           row_number() OVER (PARTITION BY vec_id, s ORDER BY sqd, code_label) AS rn
       |    FROM d)
       |  WHERE rn = 1),
       |cent AS (
       |  SELECT c_label, list(cv ORDER BY pos) AS centroid FROM cp GROUP BY c_label),
       |centn AS (SELECT c_label, centroid,
       |                 sqrt(list_dot_product(centroid, centroid)) AS c_norm FROM cent),
       |q AS (
       |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS q_norm
       |  FROM embeddings WHERE vec_id < 10),
       |probes AS (
       |  SELECT q_id, c_label AS cell FROM (
       |    SELECT q.q_id, c.c_label,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY round(list_dot_product(q.q_emb, c.centroid) / (q.q_norm * c.c_norm), 6) DESC,
       |                      c.c_label) AS rn
       |    FROM q CROSS JOIN centn c)
       |  WHERE rn <= 2),
       |qpts AS (
       |  SELECT vec_id AS q_id, CAST(u.pos - 1 AS INT) AS pos, u.v AS v
       |  FROM embeddings,
       |       LATERAL (SELECT unnest(embedding::DOUBLE[]) AS v,
       |                       generate_subscripts(embedding, 1) AS pos) u
       |  WHERE vec_id < 10),
       |qr AS (
       |  SELECT pr.q_id, pr.cell, p.pos, p.pos // $SubDim AS s,
       |         CAST(round((p.v - cp.cv) * 1e6) AS BIGINT) AS rv
       |  FROM probes pr
       |  JOIN qpts p ON p.q_id = pr.q_id
       |  JOIN cp ON pr.cell = cp.c_label AND p.pos = cp.pos),
       |dtable AS (
       |  SELECT qr.q_id, qr.cell, qr.s AS s, cb.code_label AS code_label,
       |         sum((qr.rv - cb.cw) * (qr.rv - cb.cw)) AS sqd
       |  FROM qr JOIN cb ON qr.s = cb.cs AND qr.pos = cb.cw_pos
       |  GROUP BY qr.q_id, qr.cell, qr.s, cb.code_label),
       |adc AS (
       |  SELECT dt.q_id, c.vec_id, c.cell,
       |         CAST(sum(dt.sqd) AS DOUBLE) / 1e12 AS adc_dist
       |  FROM codes c
       |  JOIN dtable dt ON dt.cell = c.cell AND dt.s = c.s AND dt.code_label = c.code_label
       |  WHERE c.vec_id <> dt.q_id
       |  GROUP BY dt.q_id, c.vec_id, c.cell)""".stripMargin

  private val knnIvfPqSql: String =
    s"""$ivfPqAdcCtes
       |SELECT q_id, rank, cell, vec_id, adc_dist FROM (
       |  SELECT q_id, cell, vec_id, adc_dist,
       |         row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rank
       |  FROM adc)
       |WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  private val knnIvfPqRerankSql: String =
    s"""$ivfPqAdcCtes,
       |short AS (
       |  SELECT q_id, vec_id, adc_rank FROM (
       |    SELECT q_id, vec_id, adc_dist,
       |           row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS adc_rank
       |    FROM adc)
       |  WHERE adc_rank <= 20),
       |ex AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |rr AS (
       |  SELECT s.q_id, s.vec_id, s.adc_rank,
       |         round(list_dot_product(a.e, b.e)
       |               / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cos_sim
       |  FROM short s
       |  JOIN ex a ON a.vec_id = s.q_id
       |  JOIN ex b ON b.vec_id = s.vec_id)
       |SELECT q_id, rank, vec_id, adc_rank, cos_sim FROM (
       |  SELECT q_id, vec_id, adc_rank, cos_sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM rr)
       |WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  /** Johnson–Lindenstrauss random projection, 64 → 16 dims — the
    * dimensionality-reduction pass a 100 TB embedding store runs before
    * indexing (4× less vector I/O for a bounded distance distortion).
    * The projection matrix is a DETERMINISTIC ±1 sign matrix derived from
    * the md5 integer hash of (i, j) — reproducible on any engine, nothing
    * random at run time, no matrix to ship. All arithmetic is exact:
    * inputs quantized to integer micro-units, projections are BIGINT
    * sign-sums, and the reported per-vector norm distortion
    * ‖y‖²/(m·‖x‖²) (expected 1 under JL) divides two exact integers.
    * Scale shape: one posexplode + a broadcast join against the 64-row
    * sign table + one aggregate — map-side everything except the final
    * per-vector combine. */
  def embeddingJlProjection(spark: SparkSession, dir: String): DataFrame = {
    val m = 16
    val signCols = (0 until m).map { j =>
      (lit(1L) - lit(2L) * pmod(graft.operators.DedupOps.h60(concat_ws("_", col("i"), lit(j))), lit(2L)))
        .as(s"s$j")
    }
    val signs = spark.range(0, 64)
      .select(col("id").cast("int").as("i"))
      .select((col("i") +: signCols): _*)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("vec_id"), col("i"), round(col("v") * 1e6).cast("long").as("xq"))
    val sums = (0 until m).map(j => sum(col(s"s$j") * col("xq")).as(s"y$j"))
    val agg = e.join(broadcast(signs), "i")
      .groupBy(col("vec_id"))
      .agg(sums.head, sums.tail :+ sum(col("xq") * col("xq")).as("nx2"): _*)
    val ny2 = (0 until m).map(j => col(s"y$j") * col(s"y$j")).reduce(_ + _)
    agg
      .select(col("vec_id"),
        col("y0"), col("y1"), col("y2"), col("y3"),
        when(col("nx2") > 0,
          round(ny2.cast("double") / (col("nx2") * m), 6)).as("norm_ratio"))
      .orderBy("vec_id")
  }

  private val embeddingJlProjectionSql: String = {
    val m = 16
    val signDefs = (0 until m).map { j =>
      s"1 - 2 * (CAST('0x' || substring(md5(CAST(i AS VARCHAR) || '_$j'), 1, 15) AS BIGINT) % 2) AS s$j"
    }.mkString(",\n      |         ")
    val sumDefs = (0 until m).map(j => s"sum(s$j * xq) AS y$j").mkString(", ")
    val ny2 = (0 until m).map(j => s"y$j * y$j").mkString(" + ")
    s"""WITH sm AS (
       |  SELECT i,
       |         $signDefs
       |  FROM (SELECT unnest(range(0, 64)) AS i)),
       |e AS (
       |  SELECT vec_id, u.pos - 1 AS i, CAST(round(u.v * 1e6) AS BIGINT) AS xq
       |  FROM embeddings,
       |       LATERAL (SELECT unnest(embedding::DOUBLE[]) AS v,
       |                       generate_subscripts(embedding, 1) AS pos) u),
       |a AS (
       |  SELECT vec_id, $sumDefs, sum(xq * xq) AS nx2
       |  FROM e JOIN sm USING (i)
       |  GROUP BY vec_id)
       |SELECT vec_id,
       |       CAST(y0 AS BIGINT) AS y0, CAST(y1 AS BIGINT) AS y1,
       |       CAST(y2 AS BIGINT) AS y2, CAST(y3 AS BIGINT) AS y3,
       |       CASE WHEN nx2 > 0
       |            THEN round(CAST($ny2 AS DOUBLE) / CAST(nx2 * $m AS DOUBLE), 6) END AS norm_ratio
       |FROM a
       |ORDER BY vec_id""".stripMargin
  }

  /** Top principal component of the embedding corpus by POWER ITERATION
    * over the exact scaled-covariance matrix — the spectral view of the
    * embedding store (dominant drift/variance direction, the PCA step
    * before whitening or picking a JL/PQ budget), computed without any
    * linear-algebra library and engine-exactly.
    *
    * Exactness strategy: floating-point matrix iteration diverges across
    * engines through SUM ORDER, so every sum here is over exact integers.
    * Inputs quantize to micro-units; the scaled covariance
    * A = n·Σxxᵀ − (Σx)(Σx)ᵀ (= n²·Cov, PSD, same eigenvectors) is exact
    * DECIMAL(38,0) from one nested-posexplode pass (n·d² rows, map-side
    * partials into d² = 4096 groups — the moment-matrix shape; for
    * d ≫ 10³ you'd sketch instead). Each of the [[PcaIters]] iterations
    * is w = A·v (exact DECIMAL products/sums), then L∞ renormalization
    * back to ±1e6 micro-units via ONE double division per component
    * (floor(w·1e6 / max|w|)) — identical IEEE ops both engines, no
    * accumulated float error because the next iteration is exact again.
    * λ falls out of the last iteration for free (max|w|/1e6 at a
    * max|v| = 1e6 input); `lambda_share` = λ/trace(A) is the explained
    * variance fraction, floor-fixed-pointed. The d-row window max is a
    * bounded frame (64 rows at any corpus size), not a data-sized global
    * sort. */
  private val PcaIters = 6
  private val EmbDim = 64

  /** The exact scaled-covariance matrix A = n·Σxxᵀ − (Σx)(Σx)ᵀ as a
    * materialized (i, j, a) frame of d² = 4096 DECIMAL(38,0) rows —
    * shared by [[embeddingPcaPower]] and [[embeddingPcaTwo]].
    *
    * Moment shape, adjudicated in r6: the double posexplode (N·d² narrow
    * rows into a d²-key map-side partial agg) BEATS the per-vector
    * Gram-row fold end-to-end. The fold's aggregate alone is faster
    * (0.4 s vs 0.7 s at 10× sf0.1), but re-shaping its 64-wide decimal
    * sum row back to (i, j, sxx) costs a 64-element array unpivot whose
    * generated code dominates the stage (seconds of compile, flat
    * 10×→25× — compile-bound, not data-bound). Narrow rows keep every
    * stage's codegen small, and the shuffle was always bounded at d²
    * keys either way. */
  private def pcaMoment(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddingsWide(spark, dir)
    val mvec = emb.select(
      transform(col("embedding"), x => round(x * 1e6).cast("long")).as("m"))
      .materializeOnce // feeds the moment pass AND the per-dim sums
    // UPPER TRIANGLE ONLY (r15, guide §1.2 "don't compute what you throw
    // away"): Σx_i·x_j is symmetric, so the N·d² row expansion — the
    // moment pass's whole cost — only needs j ≥ i (d(d+1)/2 of d² rows,
    // a measured ~2× on the expansion stage); the mirror is re-created
    // on the d²-row aggregate afterwards. Exact: decimal sums of
    // identical products are order-free, so sxx(j,i) ≡ sxx(i,j) to the
    // bit. The second posexplode runs over slice(m, i+1, d) — 1-based
    // slice start i+1 = 0-based elements i.. — giving j = i + pos.
    val opUp = mvec
      .select(col("m"), posexplode(col("m")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"),
        posexplode(slice(col("m"), col("i") + 1, lit(EmbDim))).as(Seq("dj", "xj")))
      .groupBy(col("i"), (col("i") + col("dj")).as("j"))
      .agg(sum((col("xi") * col("xj")).cast("decimal(38,0)")).as("sxx"))
    val op = opUp.unionAll(opUp.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("sxx")))
    val sx = mvec.select(posexplode(col("m")).as(Seq("i", "xi")))
      .groupBy(col("i")).agg(sum(col("xi").cast("decimal(38,0)")).as("sx"))
    // (no checkpoint: both uses are one cheap scan of the mvec
    // checkpoint each — a materialization point here costs more in job
    // latency than the recompute)
    val nRow = mvec.agg(count(lit(1)).as("n"))
    // the checkpoint boundary hides stats, so every tiny frame is
    // broadcast EXPLICITLY — otherwise Catalyst plans sort-merge joins
    // (3 shuffles each) for 64-row sides, which dominated the wall in
    // the r6 probe (the moment pass ~5 s, of which the aggregate was 0.4 s)
    op.join(broadcast(sx.select(col("i"), col("sx").as("sx_i"))), "i")
      .join(broadcast(sx.select(col("i").as("j"), col("sx").as("sx_j"))), "j")
      .crossJoin(broadcast(nRow))
      .select(col("i"), col("j"),
        (col("n") * col("sxx") - col("sx_i") * col("sx_j")).as("a"))
      .materializeOnce // the 4096-row matrix drives every iteration
  }

  private val pcaWhole = Window.partitionBy() // d-row frame: bounded at any scale

  /** w = A·v — exact DECIMAL products/sums over the d²-row matrix. */
  /** The moment matrix reshaped to its d ROW VECTORS — 64 rows of
    * (i, row: array<decimal>) — the form the iterations consume with
    * ROW-LOCAL array arithmetic. The r6 finding behind this shape: the
    * (i, j, a)-row join form planned every 64-row iterate through its
    * own checkpoint + join + window jobs, so six iterations cost ~15
    * driver-latency-bound jobs (~5 s at sf0.1 for 4096 trivial rows);
    * carrying the iterate as ONE ROW of arrays makes each round two
    * tiny stages inside a single linear job. */
  private def pcaMatrixRows(a: DataFrame): DataFrame = {
    import QueryConventions.MaterializeSyntax
    a.groupBy(col("i"))
      .agg(array_sort(collect_list(struct(col("j"), col("a")))).as("ja"))
      .select(col("i"), transform(col("ja"), e => e.getField("a")).as("row"))
      .materializeOnce // 64 rows drive every iteration
  }

  private def decZero = lit(0).cast("decimal(38,0)")

  /** Σ over zip_with products — the exact row-local dot product. */
  private def dotArr(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (a, b) => (a * b).cast("decimal(38,0)")),
      decZero, (acc, e) => acc + e)

  /** One fused power-iteration round: w = A·v (64 row-local exact
    * dots), then L∞ renormalization back to ±1e6 micro-units via ONE
    * double division per component (identical IEEE ops both engines) —
    * returned as the next ONE-ROW iterate `varr`. Nothing materializes:
    * the chain is strictly linear, so the whole iteration tower
    * executes as one job. */
  private def pcaIterate(aRows: DataFrame)(v: DataFrame): DataFrame =
    aRows.crossJoin(broadcast(v))
      .select(col("i"), dotArr(col("row"), col("varr")).as("w"))
      .agg(max(abs(col("w"))).as("mx"),
        array_sort(collect_list(struct(col("i"), col("w")))).as("iw"))
      .select(transform(col("iw"), e =>
        floor(e.getField("w").cast("double") * lit(1e6) / col("mx").cast("double")))
        .as("varr"))

  /** The UN-normalized last step as (i, w) rows — the report tail reads
    * the L∞ norm (→ λ) and the loadings off it. */
  private def pcaLastStep(aRows: DataFrame)(v: DataFrame): DataFrame =
    aRows.crossJoin(broadcast(v))
      .select(col("i"), dotArr(col("row"), col("varr")).as("w"))

  private def pcaOnes(spark: SparkSession): DataFrame =
    spark.range(1).select(array_repeat(lit(1000000L), EmbDim).as("varr"))

  def embeddingPcaPower(spark: SparkSession, dir: String): DataFrame = {
    val a = pcaMoment(spark, dir)
    val aRows = pcaMatrixRows(a)
    val vPen = (1 until PcaIters).foldLeft(pcaOnes(spark)) { (v, _) =>
      pcaIterate(aRows)(v)
    }
    val tr = a.filter(col("i") === col("j")).agg(sum(col("a")).as("tr"))
    pcaLastStep(aRows)(vPen)
      .withColumn("mx", max(abs(col("w"))).over(pcaWhole))
      .crossJoin(broadcast(tr))
      .select(col("i").as("dim"),
        floor(col("w").cast("double") * lit(1e6) / col("mx").cast("double"))
          .as("loading"),
        (floor(col("mx").cast("double") / col("tr").cast("double")) / 1e6)
          .as("lambda_share"))
      .orderBy("dim")
  }

  /** Second principal component by DEFLATION — the rank-2 spectral view
    * an embedding-drift dashboard wants (plot the corpus on PC1×PC2):
    * run the [[embeddingPcaPower]] power iteration to convergence for
    * PC1's micro-unit loadings c, then iterate again with every step
    * re-orthogonalized against c, so the iterate converges to the
    * dominant direction of the COMPLEMENT — the classic deflation
    * w′ = w·(cᵀc) − (cᵀw)·c, kept in exact integers (micro-unit inputs
    * bound every product by ~1e20 ≪ the DECIMAL(38,0) envelope). Each
    * iteration is: exact w = A·v, float-floor renormalize to micro
    * (the sanctioned single division), exact orthogonalize, float-floor
    * renormalize again — so float error never accumulates across
    * iterations on either engine. λ₂ share falls out of the last
    * iteration's L∞ norm exactly like PC1's. */
  def embeddingPcaTwo(spark: SparkSession, dir: String): DataFrame = {
    import QueryConventions.MaterializeSyntax
    val a = pcaMoment(spark, dir)
    val aRows = pcaMatrixRows(a)
    val vPen1 = (1 until PcaIters).foldLeft(pcaOnes(spark)) { (v, _) =>
      pcaIterate(aRows)(v)
    }
    // c = PC1's normalized loadings + den = cᵀc, carried as the ONE ROW
    // every deflation round crosses in — computed once and materialized
    // (it is read by all six rounds AND the report tail)
    val cRow = pcaLastStep(aRows)(vPen1)
      .agg(max(abs(col("w"))).as("mx"),
        array_sort(collect_list(struct(col("i"), col("w")))).as("iw"))
      .select(transform(col("iw"), e =>
        floor(e.getField("w").cast("double") * lit(1e6) / col("mx").cast("double")))
        .as("carr"))
      .withColumn("den", dotArr(col("carr"), col("carr")))
      .materializeOnce
    // v ← normalize(v·den − (cᵀv)·c): exact-integer Gram–Schmidt
    // against c, ALL row-local on the one-row iterate
    def orth(v: DataFrame): DataFrame =
      v.crossJoin(broadcast(cRow))
        .withColumn("dot", dotArr(col("varr"), col("carr")))
        .withColumn("u", zip_with(col("varr"), col("carr"),
          (x, c) => x * col("den") - col("dot") * c))
        .withColumn("mx", array_max(transform(col("u"), e => abs(e))))
        .select(transform(col("u"), e =>
          floor(e.cast("double") * lit(1e6) / col("mx").cast("double"))).as("varr"))
    val vPen2 = (1 until PcaIters).foldLeft(orth(pcaOnes(spark))) { (v, _) =>
      orth(pcaIterate(aRows)(v))
    }
    val tr = a.filter(col("i") === col("j")).agg(sum(col("a")).as("tr"))
    val c1 = cRow.select(posexplode(col("carr")).as(Seq("i", "c")))
    pcaLastStep(aRows)(vPen2)
      .withColumn("mx", max(abs(col("w"))).over(pcaWhole))
      .crossJoin(broadcast(tr))
      .join(broadcast(c1), "i")
      .select(col("i").as("dim"),
        col("c").as("loading1"),
        floor(col("w").cast("double") * lit(1e6) / col("mx").cast("double"))
          .as("loading2"),
        (floor(col("mx").cast("double") / col("tr").cast("double")) / 1e6)
          .as("lambda2_share"))
      .orderBy("dim")
  }

  /** Shared CTE chain for the PCA oracles: micro-quantized coordinates →
    * moment matrix `am` → PC1 power iterations `w1..w{PcaIters}` (with
    * normalized iterates `v1..v{PcaIters}`) → `tr`. */
  private def pcaBaseCtes: String = {
    val iters = (2 to PcaIters).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT am.i, sum(am.a * v${t - 1}.v) AS w
         |  FROM am JOIN v${t - 1} ON v${t - 1}.j = am.i_j GROUP BY am.i),
         |v$t AS MATERIALIZED (
         |  SELECT i AS j,
         |         CAST(floor(CAST(w AS DOUBLE) * 1e6 / CAST(max(abs(w)) OVER () AS DOUBLE)) AS BIGINT) AS v
         |  FROM w$t),""".stripMargin
    }.mkString("\n")
    s"""px AS MATERIALIZED (
       |  SELECT vec_id, u.pos - 1 AS i, CAST(round(u.v * 1e6) AS BIGINT) AS xi
       |  FROM embeddings,
       |       LATERAL (SELECT unnest(embedding::DOUBLE[]) AS v,
       |                       generate_subscripts(embedding, 1) AS pos) u),
       |op AS MATERIALIZED (
       |  SELECT a.i AS i, b.i AS i_j, sum(CAST(a.xi * b.xi AS HUGEINT)) AS sxx
       |  FROM px a JOIN px b USING (vec_id) GROUP BY 1, 2),
       |sx AS MATERIALIZED (SELECT i, sum(CAST(xi AS HUGEINT)) AS sx FROM px GROUP BY i),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM embeddings),
       |am AS MATERIALIZED (
       |  SELECT op.i, op.i_j, nn.n * op.sxx - sa.sx * sb.sx AS a
       |  FROM op CROSS JOIN nn
       |  JOIN sx sa ON sa.i = op.i
       |  JOIN sx sb ON sb.i = op.i_j),
       |v1 AS MATERIALIZED (
       |  SELECT i AS j,
       |         CAST(floor(CAST(w AS DOUBLE) * 1e6 / CAST(max(abs(w)) OVER () AS DOUBLE)) AS BIGINT) AS v
       |  FROM (SELECT am.i, sum(am.a * 1000000) AS w FROM am GROUP BY am.i)),
       |$iters
       |tr AS MATERIALIZED (SELECT sum(a) AS tr FROM am WHERE i = i_j)""".stripMargin
  }

  private val embeddingPcaPowerSql: String =
    s"""WITH $pcaBaseCtes,
       |f AS MATERIALIZED (SELECT i, w, max(abs(w)) OVER () AS mx FROM w$PcaIters)
       |SELECT CAST(f.i AS INT) AS dim,
       |       CAST(floor(CAST(f.w AS DOUBLE) * 1e6 / CAST(f.mx AS DOUBLE)) AS BIGINT) AS loading,
       |       floor(CAST(f.mx AS DOUBLE) / CAST(tr.tr AS DOUBLE)) / 1e6 AS lambda_share
       |FROM f CROSS JOIN tr
       |ORDER BY dim""".stripMargin

  private val embeddingPcaTwoSql: String = {
    // deflation chain mirroring the Scala foldLeft exactly: uw1 = A·orth(v0),
    // then each round normalizes, re-orthogonalizes against c1, multiplies
    val defl = (2 to PcaIters).map { t =>
      s"""un${t - 1} AS MATERIALIZED (
         |  SELECT i AS j,
         |         CAST(floor(CAST(w AS DOUBLE) * 1e6 / CAST(max(abs(w)) OVER () AS DOUBLE)) AS BIGINT) AS v
         |  FROM uw${t - 1}),
         |ud${t - 1} AS MATERIALIZED (SELECT sum(CAST(un.v * c1.c AS HUGEINT)) AS dot
         |               FROM un${t - 1} un JOIN c1 USING (j)),
         |uo${t - 1} AS MATERIALIZED (
         |  SELECT un.j, un.v * dd.den - d.dot * c1.c AS w
         |  FROM un${t - 1} un JOIN c1 USING (j)
         |  CROSS JOIN den dd CROSS JOIN ud${t - 1} d),
         |uv${t - 1} AS MATERIALIZED (
         |  SELECT j,
         |         CAST(floor(CAST(w AS DOUBLE) * 1e6 / CAST(max(abs(w)) OVER () AS DOUBLE)) AS BIGINT) AS v
         |  FROM uo${t - 1}),
         |uw$t AS MATERIALIZED (
         |  SELECT am.i, sum(am.a * uv${t - 1}.v) AS w
         |  FROM am JOIN uv${t - 1} ON uv${t - 1}.j = am.i_j GROUP BY am.i),""".stripMargin
    }.mkString("\n")
    s"""WITH $pcaBaseCtes,
       |c1 AS MATERIALIZED (SELECT j, v AS c FROM v$PcaIters),
       |den AS MATERIALIZED (SELECT sum(CAST(c * c AS HUGEINT)) AS den FROM c1),
       |ud0 AS MATERIALIZED (SELECT sum(CAST(1000000 * c AS HUGEINT)) AS dot FROM c1),
       |uv0 AS MATERIALIZED (
       |  SELECT j,
       |         CAST(floor(CAST(w AS DOUBLE) * 1e6 / CAST(max(abs(w)) OVER () AS DOUBLE)) AS BIGINT) AS v
       |  FROM (SELECT c1.j, CAST(1000000 AS HUGEINT) * dd.den - d0.dot * c1.c AS w
       |        FROM c1 CROSS JOIN den dd CROSS JOIN ud0 d0)),
       |uw1 AS MATERIALIZED (
       |  SELECT am.i, sum(am.a * uv0.v) AS w
       |  FROM am JOIN uv0 ON uv0.j = am.i_j GROUP BY am.i),
       |$defl
       |f2 AS MATERIALIZED (SELECT i, w, max(abs(w)) OVER () AS mx FROM uw$PcaIters)
       |SELECT CAST(f2.i AS INT) AS dim,
       |       c1.c AS loading1,
       |       CAST(floor(CAST(f2.w AS DOUBLE) * 1e6 / CAST(f2.mx AS DOUBLE)) AS BIGINT) AS loading2,
       |       floor(CAST(f2.mx AS DOUBLE) / CAST(tr.tr AS DOUBLE)) / 1e6 AS lambda2_share
       |FROM f2 CROSS JOIN tr JOIN c1 ON c1.j = f2.i
       |ORDER BY dim""".stripMargin
  }

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998)
    * diversified top-k: greedily picks [[MmrK]] results per query from its
    * [[MmrCand]]-candidate shortlist, each step taking the candidate that
    * maximizes λ·rel(c,q) − (1−λ)·max_{s∈S} sim(c,s) at λ = ½ — the
    * standard redundancy-suppressing rerank (a dense near-dup clique in
    * the top-k yields one representative, not five). For a training-data
    * engine this is the retrieval-side diversity selector: hard-negative
    * mining and demonstration selection both want relevant-but-mutually-
    * diverse sets, which plain top-k cannot produce.
    *
    * Engine-exactness: every comparison the greedy argmax makes is over
    * BIGINT micro-unit similarities (cosine rounded to 1e-6 once, at
    * candidate build), with vec_id tie-break — λ = ½ makes the score
    * 2·MMR = rel − maxsim, so no float arithmetic exists anywhere in the
    * selection and both engines walk the identical greedy path. The k−1
    * selection rounds are unrolled (the [[embeddingPcaPower]] technique);
    * the oracle mirrors them as a CTE chain.
    *
    * Scale shape: candidate build is the [[knnBrute]] scan (broadcast
    * query set, per-partition top-k; an IVF probe at index scale);
    * everything after operates on |Q|·k² bounded frames — the candidate
    * pair matrix is |Q|·k(k−1) rows and each greedy round is a join +
    * aggregate on frames whose size is independent of corpus size. */
  private val MmrCand = 20
  private val MmrK = 5

  def knnMmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val dotF = dotFast(spark) _
    val emb = Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(dotF(col("embedding"), col("embedding"))))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val wRel = Window.partitionBy(col("q_id")).orderBy(col("rel_micro").desc, col("vec_id"))
    val cand = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("rel_micro",
        round(dotF(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")) * 1e6)
          .cast("long"))
      .withColumn("rk", row_number().over(wRel))
      .filter(col("rk") <= MmrCand)
      .select(col("q_id"), col("vec_id"), col("rel_micro"))
      .materializeOnce // feeds the pair matrix and every greedy round
    val ca = cand.join(emb, "vec_id")
      .select(col("q_id"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb"), col("norm").as("a_norm"))
    val cb = cand.join(emb, "vec_id")
      .select(col("q_id"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb"), col("norm").as("b_norm"))
    val sims = ca.join(cb, Seq("q_id"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("sim_micro",
        round(dotF(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")) * 1e6)
          .cast("long"))
      .select(col("q_id"), col("a_id"), col("b_id"), col("sim_micro"))
      .materializeOnce // reused by each of the k−1 greedy rounds
    var selected = cand
      .withColumn("rk", row_number().over(wRel))
      .filter(col("rk") === 1)
      .select(col("q_id"), col("vec_id"), lit(1).as("step"), col("rel_micro"),
        lit(0L).as("maxsim_micro"), col("rel_micro").as("score2x_micro"))
      .materializeOnce
    for (t <- 2 to MmrK) {
      val selIds = selected.select(col("q_id"), col("vec_id").as("b_id"))
      val msim = sims.join(selIds, Seq("q_id", "b_id"))
        .groupBy(col("q_id"), col("a_id"))
        .agg(max(col("sim_micro")).as("maxsim_micro"))
      val wScore = Window.partitionBy(col("q_id"))
        .orderBy(col("score2x_micro").desc, col("vec_id"))
      val pick = cand
        .join(selected.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"), "left_anti")
        .join(msim.withColumnRenamed("a_id", "vec_id"), Seq("q_id", "vec_id"))
        .withColumn("score2x_micro", col("rel_micro") - col("maxsim_micro"))
        .withColumn("rk", row_number().over(wScore))
        .filter(col("rk") === 1)
        .select(col("q_id"), col("vec_id"), lit(t).as("step"), col("rel_micro"),
          col("maxsim_micro"), col("score2x_micro"))
      selected = selected.unionByName(pick).materializeOnce
    }
    selected.orderBy("q_id", "step")
  }

  private val knnMmrRerankSql: String = {
    val steps = (2 to MmrK).map { t =>
      s"""s$t AS (
         |  SELECT q_id, vec_id, $t AS step, rel_micro, maxsim_micro,
         |         rel_micro - maxsim_micro AS score2x_micro
         |  FROM (
         |    SELECT c.q_id, c.vec_id, c.rel_micro, m.maxsim_micro,
         |           row_number() OVER (PARTITION BY c.q_id
         |                              ORDER BY c.rel_micro - m.maxsim_micro DESC,
         |                                       c.vec_id) AS rk
         |    FROM cand c
         |    JOIN (SELECT s.q_id, s.a_id, max(s.sim_micro) AS maxsim_micro
         |          FROM sims s JOIN u${t - 1} p ON p.q_id = s.q_id AND p.vec_id = s.b_id
         |          GROUP BY s.q_id, s.a_id) m
         |      ON m.q_id = c.q_id AND m.a_id = c.vec_id
         |    WHERE NOT EXISTS (SELECT 1 FROM u${t - 1} p2
         |                      WHERE p2.q_id = c.q_id AND p2.vec_id = c.vec_id))
         |  WHERE rk = 1),
         |u$t AS (SELECT * FROM u${t - 1} UNION ALL SELECT * FROM s$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH emb AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
       |  FROM embeddings),
       |cand AS (
       |  SELECT q_id, vec_id, rel_micro FROM (
       |    SELECT b.vec_id AS q_id, a.vec_id AS vec_id,
       |           CAST(round(list_dot_product(a.e, b.e) / (a.n * b.n) * 1e6) AS BIGINT) AS rel_micro,
       |           row_number() OVER (PARTITION BY b.vec_id
       |                              ORDER BY CAST(round(list_dot_product(a.e, b.e) / (a.n * b.n) * 1e6) AS BIGINT) DESC,
       |                                       a.vec_id) AS rk
       |    FROM emb a CROSS JOIN (SELECT * FROM emb WHERE vec_id < 10) b
       |    WHERE a.vec_id <> b.vec_id)
       |  WHERE rk <= $MmrCand),
       |sims AS (
       |  SELECT c1.q_id, c1.vec_id AS a_id, c2.vec_id AS b_id,
       |         CAST(round(list_dot_product(ea.e, eb.e) / (ea.n * eb.n) * 1e6) AS BIGINT) AS sim_micro
       |  FROM cand c1
       |  JOIN cand c2 ON c2.q_id = c1.q_id AND c2.vec_id <> c1.vec_id
       |  JOIN emb ea ON ea.vec_id = c1.vec_id
       |  JOIN emb eb ON eb.vec_id = c2.vec_id),
       |u1 AS (
       |  SELECT q_id, vec_id, 1 AS step, rel_micro,
       |         CAST(0 AS BIGINT) AS maxsim_micro, rel_micro AS score2x_micro
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |                                     ORDER BY rel_micro DESC, vec_id) AS rk
       |        FROM cand)
       |  WHERE rk = 1),
       |$steps
       |SELECT q_id, step, vec_id, rel_micro, maxsim_micro, score2x_micro
       |FROM u$MmrK
       |ORDER BY q_id, step""".stripMargin
  }

  /** Greedy k-center coreset (Gonzalez 1985 farthest-point traversal) over
    * the embedding corpus — the geometric data-selection pass: pick
    * [[KCenterK]] vectors such that every corpus vector is close to some
    * pick, by repeatedly taking the vector FARTHEST from the current
    * picks. The emitted radius sequence (each pick's distance² to the
    * prior picks) is the coverage curve — the 2-approximation certificate
    * of the optimal k-center cost, and the diminishing-returns signal
    * that tells a curation pipeline when additional coreset points stop
    * buying coverage. Complements [[knnMmrRerank]]: MMR diversifies a
    * query-relative shortlist; k-center covers the corpus globally.
    *
    * Engine-exactness: vectors quantize once to BIGINT micro-units, every
    * distance² is an exact integer sum of squares, and each greedy argmax
    * is a max-struct aggregate over (dist², −vec_id) — integer compare
    * with deterministic tie-break, no float op anywhere. The walk seeds
    * at the ORIGIN (round 1 picks the max-norm² vector): deterministic
    * and data-independent, so both engines start identically.
    *
    * Scale shape: k passes over the corpus, each a map-only distance
    * update against a broadcast ONE-ROW pick frame plus a max-struct
    * aggregate with map-side partials — the textbook distributed
    * Gonzalez. No corpus-sized window, sort, or pairwise join exists; the
    * running min-distance column is the only state and it lives in the
    * rows themselves. */
  private val KCenterK = 8

  def coresetKcenter(spark: SparkSession, dir: String): DataFrame = {
    def d2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)
    var state = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), v => round(v * 1e6).cast("long")).as("xq"))
      .withColumn("mind2", d2(col("xq"), transform(col("xq"), _ => lit(0L))))
      .materializeOnce
    var picks = Vector.empty[DataFrame]
    for (t <- 1 to KCenterK) {
      val top = state
        .agg(max(struct(col("mind2").as("d"), (-col("vec_id")).as("nv"))).as("m"))
        .select((-col("m.nv")).as("sel_id"), col("m.d").as("sel_d"))
      val sel = state.join(broadcast(top), col("vec_id") === col("sel_id"))
        .select(col("sel_id"), col("xq").as("sel_xq"), col("sel_d"))
        .materializeOnce // one row: feeds the pick output AND the update pass
      picks :+= sel.select(lit(t).as("step"), col("sel_id").as("vec_id"),
        col("sel_d").as("radius2"))
      if (t < KCenterK)
        state = state.crossJoin(broadcast(sel))
          .withColumn("mind2", least(col("mind2"), d2(col("xq"), col("sel_xq"))))
          .select("vec_id", "xq", "mind2")
          .materializeOnce
    }
    picks.reduce(_ unionByName _).orderBy("step")
  }

  private val coresetKcenterSql: String = {
    val dim = EmbDim
    val steps = (2 to KCenterK).map { t =>
      s"""st$t AS (
         |  SELECT s.vec_id, s.xq,
         |         LEAST(s.mind2,
         |               CAST(list_sum(list_transform(range(1, ${dim + 1}),
         |                 i -> (s.xq[i] - p.sel_xq[i]) * (s.xq[i] - p.sel_xq[i]))) AS BIGINT)) AS mind2
         |  FROM st${t - 1} s CROSS JOIN p${t - 1} p),
         |p$t AS (
         |  SELECT vec_id AS sel_id, xq AS sel_xq, mind2 AS sel_d
         |  FROM st$t ORDER BY mind2 DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to KCenterK)
      .map(t => s"SELECT $t AS step, sel_id AS vec_id, sel_d AS radius2 FROM p$t")
      .mkString("\n|", "\n|UNION ALL\n|", "")
      .stripMargin
    s"""WITH st1 AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], v -> CAST(round(v * 1e6) AS BIGINT)) AS xq,
       |         CAST(list_sum(list_transform(
       |           list_transform(embedding::DOUBLE[], v -> CAST(round(v * 1e6) AS BIGINT)),
       |           v -> v * v)) AS BIGINT) AS mind2
       |  FROM embeddings),
       |p1 AS (
       |  SELECT vec_id AS sel_id, xq AS sel_xq, mind2 AS sel_d
       |  FROM st1 ORDER BY mind2 DESC, vec_id LIMIT 1),
       |$steps
       |SELECT step, vec_id, radius2 FROM ($unions)
       |ORDER BY step""".stripMargin
  }

  /** Embedding-space drift per label between the even/odd vec_id halves
    * (the same split convention as label_psi) — the vector-tier member
    * of the drift family: PSI/χ²/JS watch categorical and token
    * distributions, this watches whether each label's REGION of
    * embedding space moved. Cosine between the two half-centroids is
    * computed from SUM vectors (cosine is scale-invariant, so means
    * never need to be formed — no per-element float division anywhere):
    * per (label, half, dim) exact micro-integer sums, then one dot/norm
    * aggregate per label, decimal-first products so d·Σ² can't overflow
    * BIGINT at corpus scale. cos_micro near 10⁶ = stable geometry;
    * a drop flags embedding drift for that label.
    *
    * Scale shape: one corpus scan exploded to (label, half, dim) —
    * map-side partial sums into |labels|·2·64 keys; everything after is
    * dimension-sized. */
  def embeddingCentroidDrift(spark: SparkSession, dir: String): DataFrame = {
    val sums = Tables.embeddings(spark, dir)
      .select(col("label"), (col("vec_id") % 2 === 0).cast("int").as("even"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("label"), col("even"), col("i"),
        expr("cast(round(cast(x as double) * 1000000) as bigint)").as("xm"))
      .groupBy(col("label"), col("even"), col("i"))
      .agg(sum(col("xm")).as("s"), count(lit(1)).as("n"))
    val a = sums.filter(col("even") === 1)
      .select(col("label"), col("i"), col("s").as("sa"), col("n").as("na"))
    val b = sums.filter(col("even") === 0)
      .select(col("label"), col("i"), col("s").as("sb"), col("n").as("nb"))
    a.join(b, Seq("label", "i"))
      .groupBy(col("label"))
      .agg(max(col("na")).as("n_even"), max(col("nb")).as("n_odd"),
        sum(col("sa").cast("decimal(38,0)") * col("sb")).as("dot"),
        sum(col("sa").cast("decimal(38,0)") * col("sa")).as("naa"),
        sum(col("sb").cast("decimal(38,0)") * col("sb")).as("nbb"))
      .select(col("label"), col("n_even"), col("n_odd"),
        floor(col("dot").cast("double")
          / sqrt(col("naa").cast("double") * col("nbb").cast("double")) * 1e6)
          .cast("long").as("cos_micro"))
      .orderBy("label")
  }

  private val embeddingCentroidDriftSql: String =
    """WITH e AS (
      |  SELECT label, CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END AS even,
      |         CAST(u.i - 1 AS INT) AS i,
      |         CAST(round(CAST(u.x AS DOUBLE) * 1000000) AS BIGINT) AS xm
      |  FROM embeddings,
      |       LATERAL (SELECT unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i) u),
      |s AS (
      |  SELECT label, even, i, sum(xm) AS s, count(*) AS n
      |  FROM e GROUP BY 1, 2, 3),
      |j AS (
      |  SELECT a.label, a.i, a.s AS sa, a.n AS na, b.s AS sb, b.n AS nb
      |  FROM s a JOIN s b
      |    ON a.label = b.label AND a.i = b.i AND a.even = 1 AND b.even = 0),
      |g AS (
      |  SELECT label, max(na) AS n_even, max(nb) AS n_odd,
      |         sum(CAST(sa AS HUGEINT) * sb) AS dot,
      |         sum(CAST(sa AS HUGEINT) * sa) AS naa,
      |         sum(CAST(sb AS HUGEINT) * sb) AS nbb
      |  FROM j GROUP BY label)
      |SELECT label, CAST(n_even AS BIGINT) AS n_even, CAST(n_odd AS BIGINT) AS n_odd,
      |       CAST(floor(CAST(dot AS DOUBLE)
      |            / sqrt(CAST(naa AS DOUBLE) * CAST(nbb AS DOUBLE)) * 1e6) AS BIGINT) AS cos_micro
      |FROM g ORDER BY label""".stripMargin

  private val KmppRounds = 3
  private val KmppOversample = 8L // l: expected samples per round
  private val KmppM = 1048576L    // 2^20 hash-fraction denominator
  private val KmppK = 10          // final center count

  /** k-means‖ (k-means parallel) initialization — the scalable seeding
    * that replaced sequential k-means++ for cluster-scale data (Bahmani
    * et al., VLDB 2012): k-means++ needs k strictly sequential passes
    * (each draw depends on the last), while k-means‖ OVERSAMPLES —
    * [[KmppRounds]] rounds each drawing ~[[KmppOversample]] points with
    * probability ∝ their squared distance to the current candidate set —
    * then keeps the [[KmppK]] heaviest candidates by attraction weight
    * (the top-weight reduction standing in for the final weighted local
    * k-means, deterministically). The output is the seed set a Lloyd
    * refinement ([[ivfKmeansRefine]]) would start from — this entry is
    * the missing INIT half of that pipeline.
    *
    * Scale shape: every round is one broadcast-candidates map pass over
    * the corpus (candidate set ≤ 1 + rounds·O(l) rows) + a one-row φ
    * aggregate; no shuffle ever carries more than the corpus scan.
    * Exactness: components quantize to micro-unit BIGINTs, so every
    * squared distance is an exact integer (d² = |a|²+|b|²−2a·b, all
    * ≤ ~2.6e14 at 64 dims); the d²-proportional draw is the integer
    * inequality hash_frac·φ < l·M·d² in DECIMAL(38,0) (the probability-
    * integral-transform trick — reproducible and cluster-size-
    * independent, no RNG); weights are exact counts. No float anywhere. */
  def kmeansParallelInit(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val ldot = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    val mv = emb
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x * 1e6).cast("long")).as("mv"))
      .withColumn("nrm", ldot(col("mv"), col("mv")))
      .materializeOnce // one scan feeds every round + the weight pass
    val seed = mv.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("cand_id"), col("mv").as("cmv"),
        col("nrm").as("cnrm"), lit(0).as("round_added"))
    def minD2(cands: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("d2"), col("cand_id"))
      mv.crossJoin(broadcast(cands))
        .withColumn("d2",
          col("nrm") + col("cnrm") - lit(2L) * ldot(col("mv"), col("cmv")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cand_id").as("nearest"), col("d2"))
    }
    val cands = (1 to KmppRounds).foldLeft(seed) { (cs, r) =>
      val d = minD2(cs)
      val phi = d.agg(sum(col("d2")).as("phi"))
      val hfrac = pmod(graft.operators.DedupOps.h60(
        concat(lit(s"kmpp$r:"), col("vec_id").cast("string"))), lit(KmppM))
      val picked = d.crossJoin(broadcast(phi))
        .filter(hfrac.cast("decimal(38,0)") * col("phi")
          < lit(KmppOversample * KmppM).cast("decimal(38,0)") * col("d2"))
        .join(mv, Seq("vec_id"))
        .select(col("vec_id").as("cand_id"), col("mv").as("cmv"),
          col("nrm").as("cnrm"), lit(r).as("round_added"))
      cs.unionByName(picked).materializeOnce
    }
    val weights = minD2(cands)
      .groupBy(col("nearest").as("cand_id"))
      .agg(count(lit(1)).as("weight"))
    cands.select(col("cand_id"), col("round_added"))
      .join(broadcast(weights), Seq("cand_id"))
      .orderBy(col("weight").desc, col("cand_id"))
      .limit(KmppK)
      .select(col("cand_id"), col("round_added").cast("long").as("round_added"),
        col("weight"))
      .orderBy(col("weight").desc, col("cand_id"))
  }

  private val kmeansParallelInitSql: String = {
    def h(r: Int) =
      s"CAST('0x' || substring(md5('kmpp$r:' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)"
    def round(r: Int): String =
      s"""d$r AS (
         |  SELECT n.vec_id, min(n.nrm + c.cnrm
         |           - 2 * CAST(list_dot_product(n.mv, c.cmv) AS BIGINT)) AS d2
         |  FROM n, c${r - 1} c GROUP BY n.vec_id),
         |phi$r AS (SELECT sum(d2) AS phi FROM d$r),
         |s$r AS (
         |  SELECT d.vec_id FROM d$r d, phi$r
         |  WHERE CAST(${h(r)} % $KmppM AS HUGEINT) * phi
         |        < ${KmppOversample * KmppM}::HUGEINT * d.d2),
         |c$r AS (
         |  SELECT * FROM c${r - 1}
         |  UNION ALL
         |  SELECT n.vec_id AS cand_id, n.mv AS cmv, n.nrm AS cnrm,
         |         $r AS round_added
         |  FROM n JOIN s$r USING (vec_id))""".stripMargin
    s"""WITH m AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS mv
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, mv,
       |         CAST(list_dot_product(mv, mv) AS BIGINT) AS nrm
       |  FROM m),
       |c0 AS (
       |  SELECT vec_id AS cand_id, mv AS cmv, nrm AS cnrm, 0 AS round_added
       |  FROM n WHERE vec_id = (SELECT min(vec_id) FROM n)),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |assign AS (
       |  SELECT vec_id, cand_id FROM (
       |    SELECT n.vec_id, c.cand_id,
       |           row_number() OVER (
       |             PARTITION BY n.vec_id
       |             ORDER BY n.nrm + c.cnrm
       |               - 2 * CAST(list_dot_product(n.mv, c.cmv) AS BIGINT),
       |               c.cand_id) AS rn
       |    FROM n, c$KmppRounds c) WHERE rn = 1),
       |w AS (SELECT cand_id, count(*) AS weight FROM assign GROUP BY cand_id)
       |SELECT c.cand_id, CAST(c.round_added AS BIGINT) AS round_added,
       |       CAST(w.weight AS BIGINT) AS weight
       |FROM c$KmppRounds c JOIN w USING (cand_id)
       |ORDER BY w.weight DESC, c.cand_id
       |LIMIT $KmppK""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "kmeans_parallel_init" -> (kmeansParallelInit _),
    "embedding_mrl_recall" -> (embeddingMrlRecall _),
    "embedding_cluster_quality" -> (embeddingClusterQuality _),
    "embedding_centroid_drift" -> (embeddingCentroidDrift _),
    "coreset_kcenter" -> (coresetKcenter _),
    "knn_mmr_rerank"  -> (knnMmrRerank _),
    "embedding_pca_power" -> (embeddingPcaPower _),
    "embedding_pca_two"   -> (embeddingPcaTwo _),
    "embedding_jl_projection" -> (embeddingJlProjection _),
    "knn_ivfpq"       -> (knnIvfPq _),
    "knn_ivfpq_rerank" -> (knnIvfPqRerank _),
    "semantic_dedup"  -> (semanticDedup _),
    "embedding_pq"    -> (embeddingPq _),
    "knn_pq_adc"      -> (knnPqAdc _),
    "ivf_kmeans_refine" -> (ivfKmeansRefine _),
    "knn_ivf"         -> (knnIvf _),
    "knn_ivf_probe2"  -> ((s: SparkSession, d: String) => knnIvfProbes(s, d, probes = 2)),
    "knn_ivf_refined" -> ((s: SparkSession, d: String) => knnIvfRefined(s, d, probes = 2)),
    "knn_ivf_incremental" -> (knnIvfIncremental _),
    "knn_incremental_recall" -> (knnIncrementalRecall _),
    "knn_recall_curve" -> (knnRecallCurve _),
    "knn_filtered_recall" -> (knnFilteredRecall _),
    "knn_ndcg" -> (knnNdcg _),
    "knn_brute"       -> (knnBrute _),
    "knn_filtered"    -> (knnFiltered _),
    "knn_ivf_filtered" -> (knnIvfFiltered _),
    "hard_negatives"  -> (hardNegatives _),
    "embedding_outliers" -> (embeddingOutliers _),
    "near_dup_pairs"  -> (nearDupPairs _),
    "lsh_buckets"     -> (lshBuckets _),
    "embedding_mutual_nn" -> (embeddingMutualNn _),
    "lsh_near_dup"    -> (lshNearDup _),
    "label_centroids" -> (labelCentroids _))

  val oracle: Map[String, String] = Map(
    "kmeans_parallel_init" -> kmeansParallelInitSql,
    "embedding_mrl_recall" -> embeddingMrlRecallSql,
    "embedding_cluster_quality" -> embeddingClusterQualitySql,
    "coreset_kcenter" -> coresetKcenterSql,
    "knn_mmr_rerank"  -> knnMmrRerankSql,
    "embedding_centroid_drift" -> embeddingCentroidDriftSql,
    "embedding_pca_power" -> embeddingPcaPowerSql,
    "embedding_pca_two"   -> embeddingPcaTwoSql,
    "embedding_jl_projection" -> embeddingJlProjectionSql,
    "knn_ivfpq"       -> knnIvfPqSql,
    "knn_ivfpq_rerank" -> knnIvfPqRerankSql,
    "semantic_dedup"  -> semanticDedupSql,
    "embedding_pq"    -> embeddingPqSql,
    "knn_pq_adc"      -> knnPqAdcSql,
    "ivf_kmeans_refine" -> ivfKmeansRefineSql,
    "knn_ivf"         -> knnIvfSqlProbes(1),
    "knn_ivf_probe2"  -> knnIvfSqlProbes(2),
    "knn_ivf_refined" -> knnIvfRefinedSql(2),
    "knn_ivf_incremental" -> knnIvfIncrementalSql,
    "knn_incremental_recall" -> knnIncrementalRecallSql,
    "knn_recall_curve" -> knnRecallCurveSql,
    "knn_filtered_recall" -> knnFilteredRecallSql,
    "knn_ndcg" -> knnNdcgSql,
    "knn_brute"       -> knnBruteSql,
    "knn_filtered"    -> knnFilteredSql,
    "knn_ivf_filtered" -> knnIvfSqlProbes(2,
      "\n      AND e.vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 200)"),
    "hard_negatives"  -> hardNegativesSql,
    "embedding_outliers" -> embeddingOutliersSql,
    "near_dup_pairs"  -> nearDupPairsSql,
    "lsh_buckets"     -> lshBucketsSql,
    "embedding_mutual_nn" -> embeddingMutualNnSql,
    "lsh_near_dup"    -> lshNearDupSql,
    "label_centroids" -> labelCentroidsSql)
}
