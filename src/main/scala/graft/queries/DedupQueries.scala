package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.QueryConventions.MaterializeSyntax

import graft.functions.TextFunctions
import graft.operators.DedupOps
import graft.operators.DedupOps._
import graft.sources.Tables

/** Near-dup dedup queries over `documents`: MinHash signatures, LSH-banded
  * candidate pairs verified by exact Jaccard, an exact n-gram Jaccard
  * baseline on a bounded subset, and SimHash with Hamming-distance pairs.
  * Every stage is mirrored in DuckDB SQL via the md5-derived integer hash
  * (DedupOps.h60), so intermediate signatures — not just final pairs —
  * are oracle-verified.
  */
object DedupQueries {

  type Q = (SparkSession, String) => DataFrame

  // ---- shared oracle fragments -------------------------------------------

  private val toksCte =
    s"""toks AS (
      |  SELECT doc_id,
      |         ${TextFunctions.tokensSql} AS toks
      |  FROM documents)""".stripMargin

  /** [[toksCte]] over the deterministic 25% md5 hash-sample — the tuning
    * report's corpus view. Derived by string surgery so the two CTEs
    * cannot drift; the require fails the build if the base shape moves. */
  private val sampledToksCte = {
    val out = toksCte.replace("FROM documents)",
      "FROM documents WHERE md5(CAST(doc_id AS VARCHAR)) < '4')")
    require(out != toksCte, "toksCte shape changed — update the sample surgery")
    out
  }

  private val shinglesCte =
    """sh AS (
      |  SELECT doc_id,
      |         list_distinct(
      |           CASE WHEN len(toks) >= 3
      |                THEN list_transform(range(1, CAST(len(toks) - 1 AS BIGINT)),
      |                       i -> concat_ws(' ', toks[CAST(i AS INT)], toks[CAST(i AS INT)+1], toks[CAST(i AS INT)+2]))
      |                WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
      |                ELSE []::VARCHAR[] END) AS shingles
      |  FROM toks)""".stripMargin

  private val seedsValues: String =
    seeds.map { case (k, a, b) => s"($k, ${a}, ${b})" }.mkString(", ")

  private val minhashCte =
    s"""e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |h AS (SELECT doc_id, CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) % ${P} AS h31 FROM e),
       |mh AS (
       |  SELECT doc_id, k, min((a * h31 + b) % ${P}) AS minhash
       |  FROM h JOIN (VALUES ${seedsValues}) seeds(k, a, b) ON TRUE
       |  GROUP BY doc_id, k)""".stripMargin

  private val jaccardExpr =
    """CAST(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE)
      | / (len(sa.shingles) + len(sb.shingles)
      |    - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))))""".stripMargin

  // ---- queries -----------------------------------------------------------

  /** Flat MinHash signatures (doc_id, k, minhash). */
  def minhashSigs(spark: SparkSession, dir: String): DataFrame =
    DedupOps.minhashSignatures(spark, Tables.documentsWide(spark, dir))
      .orderBy("doc_id", "k")

  private val minhashSigsSql: String =
    s"""WITH $toksCte,
       |$shinglesCte,
       |$minhashCte
       |SELECT doc_id, k, minhash FROM mh ORDER BY doc_id, k""".stripMargin

  /** LSH-banded near-dup pairs verified with exact shingle Jaccard. */
  def minhashLshDups(spark: SparkSession, dir: String): DataFrame =
    minhashLshDupsFrom(spark, Tables.documentsWide(spark, dir))

  /** Frame-based core of [[minhashLshDups]] over (doc_id, text) rows. */
  def minhashLshDupsFrom(spark: SparkSession, docs: DataFrame): DataFrame = {
    // candidate PAIRS are tiny (ids only) — materialize them once; the
    // expensive signature pipeline then runs once, downstream reuses
    val cand = DedupOps.lshCandidates(spark, docs).materializeOnce
    // Jaccard verification re-derives shingles ONLY for candidate docs
    // (semi-join): candidates are a vanishing fraction of the corpus, and
    // caching the full corpus's shingle arrays measured super-linear at
    // 50x scale (memory pressure) — recompute-narrow beats cache-wide.
    val candIds = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    val shCand = DedupOps.docShingles(
        docs.join(candIds, Seq("doc_id"), "left_semi"))
      .materializeOnce // candidate-sized; both verify join sides read it
    cand
      .join(shCand.select(col("doc_id").as("a_id"), col("shingles").as("sa")), "a_id")
      .join(shCand.select(col("doc_id").as("b_id"), col("shingles").as("sb")), "b_id")
      .withColumn("jaccard", round(jaccard(col("sa"), col("sb")), 6))
      .filter(col("jaccard") >= 0.2)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** Shared banding CTEs: band keys → distinct candidate pairs. */
  private val bandsCandCtes =
    s"""bands AS (
       |  SELECT doc_id, k // $BandRows AS band,
       |         md5(string_agg(CAST(minhash AS VARCHAR), '_' ORDER BY k)) AS band_key
       |  FROM mh GROUP BY doc_id, k // $BandRows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)""".stripMargin

  private val minhashLshDupsSql: String =
    s"""WITH $toksCte,
       |$shinglesCte,
       |$minhashCte,
       |$bandsCandCtes
       |SELECT a_id, b_id, round($jaccardExpr, 6) AS jaccard
       |FROM cand
       |JOIN sh sa ON sa.doc_id = a_id
       |JOIN sh sb ON sb.doc_id = b_id
       |WHERE round($jaccardExpr, 6) >= 0.2
       |ORDER BY a_id, b_id""".stripMargin

  /** Duplicate-CLUSTER extraction (the step after pair generation in a
    * production dedup pipeline): near-dup pairs form a graph; each
    * connected component is one duplicate cluster; the component id (the
    * cluster's min doc_id) deterministically picks the canonical doc to
    * keep (`is_kept`). Spark side is DedupOps.connectedComponents —
    * min-label propagation, one equi-join + groupBy per round, rounds =
    * graph diameter; the oracle is DuckDB's recursive CTE computing the
    * same transitive closure. At 100 TB the pair graph is sparse (pairs
    * ∝ dup cliques, see the LSH scale notes), so each round shuffles a
    * frame proportional to the DUPLICATE subset, not the corpus. */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    DedupOps.connectedComponents(spark, minhashLshDups(spark, dir).select("a_id", "b_id"))
      .withColumn("is_kept", col("doc_id") === col("component_id"))
      .select("doc_id", "component_id", "is_kept")
      .orderBy("component_id", "doc_id")

  private val dedupComponentsSql: String =
    s"""WITH RECURSIVE $toksCte,
       |$shinglesCte,
       |$minhashCte,
       |$bandsCandCtes,
       |pairs AS (
       |  SELECT a_id, b_id
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = a_id
       |  JOIN sh sb ON sb.doc_id = b_id
       |  WHERE round($jaccardExpr, 6) >= 0.2),
       |edges AS (
       |  SELECT a_id AS node, b_id AS nbr FROM pairs
       |  UNION ALL
       |  SELECT b_id, a_id FROM pairs),
       |walk(node, reach) AS (
       |  SELECT node, node FROM (SELECT DISTINCT node FROM edges) n
       |  UNION
       |  SELECT e.node, w.reach FROM edges e JOIN walk w ON w.node = e.nbr)
       |SELECT node AS doc_id,
       |       min(reach) AS component_id,
       |       node = min(reach) AS is_kept
       |FROM walk GROUP BY node
       |ORDER BY component_id, doc_id""".stripMargin

  /** Per-document BOILERPLATE share — the corpus-frequency complement of
    * doc_repetition's within-doc signal: the fraction of a doc's
    * distinct shingles whose corpus document-frequency is ≥ 5
    * (navigation chrome, legal footers, templates — content that is
    * nobody's near-dup pair yet trains nothing). This is the per-doc
    * number the C4/RefinedWeb-style line filters threshold on (production uses a
    * corpus-share threshold; a fixed df ≥ 5 keeps both test SFs
    * exercising the filter); `keep`
    * flags docs under 50% boilerplate. One shingle explode feeds the df
    * aggregate and the join-back (hash-keyed, map-side partials); at
    * 100 TB the df table is the vocabulary of shingles — large but
    * ∝ distinct content, never corpus positions. */
  def docBoilerplateShare(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsWide(spark, dir)
    val ex = DedupOps.docShingles(docs)
      // explode_outer + null-filter: see DedupOps.minhashWide (a bare
      // explode re-runs the shingle pipeline 2x in the inferred filter)
      .select(col("doc_id"), explode_outer(col("shingles")).as("s"))
      .filter(col("s").isNotNull)
      .materializeOnce // feeds the df aggregate AND the join-back
    val dfreq = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    ex.join(dfreq, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 5, 1L).otherwise(0L)).as("n_common"))
      .withColumn("boilerplate_ppm", expr("n_common * 1000000 div n_shingles"))
      .withColumn("keep", col("boilerplate_ppm") < 500000)
      .orderBy("doc_id")
  }

  private val docBoilerplateShareSql: String =
    s"""WITH $toksCte,
       |$shinglesCte,
       |e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |f AS (SELECT s, count(*) AS df FROM e GROUP BY s)
       |SELECT e.doc_id, count(*) AS n_shingles,
       |       CAST(sum(CASE WHEN f.df >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
       |       CAST(sum(CASE WHEN f.df >= 5 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS boilerplate_ppm,
       |       sum(CASE WHEN f.df >= 5 THEN 1 ELSE 0 END) * 1000000 // count(*) < 500000 AS keep
       |FROM e JOIN f USING (s)
       |GROUP BY e.doc_id
       |ORDER BY e.doc_id""".stripMargin

  /** Duplicate-cluster SIZE distribution — the one-page ops view of the
    * near-dup landscape a curation run reports before deleting anything:
    * for each cluster size, how many clusters and how many documents
    * (and therefore how many deletions keep-one implies:
    * docs − clusters). A long tail of pairs is organic duplication; a
    * few giant clusters are template/boilerplate families that deserve
    * a dedicated exact pass — the histogram is how you notice which
    * regime a corpus is in. Shape: the verified LSH pair pipeline +
    * min-label components, then two tiny aggregates (per-component
    * size, per-size histogram) — everything after pair generation
    * ∝ the duplicate subset. */
  def dupClusterHistogram(spark: SparkSession, dir: String): DataFrame =
    DedupOps.connectedComponents(spark, minhashLshDups(spark, dir).select("a_id", "b_id"))
      .groupBy(col("component_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .withColumn("n_deletions_keep_one", col("n_docs") - col("n_clusters"))
      .orderBy("cluster_size")

  private val dupClusterHistogramSql: String =
    s"""WITH RECURSIVE $toksCte,
       |$shinglesCte,
       |$minhashCte,
       |$bandsCandCtes,
       |pairs AS (
       |  SELECT a_id, b_id
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = a_id
       |  JOIN sh sb ON sb.doc_id = b_id
       |  WHERE round($jaccardExpr, 6) >= 0.2),
       |edges AS (
       |  SELECT a_id AS node, b_id AS nbr FROM pairs
       |  UNION ALL
       |  SELECT b_id, a_id FROM pairs),
       |walk(node, reach) AS (
       |  SELECT node, node FROM (SELECT DISTINCT node FROM edges) n
       |  UNION
       |  SELECT e.node, w.reach FROM edges e JOIN walk w ON w.node = e.nbr)
       |, comp AS (
       |  SELECT node AS doc_id, min(reach) AS component_id
       |  FROM walk GROUP BY node),
       |sz AS (
       |  SELECT component_id, count(*) AS cluster_size
       |  FROM comp GROUP BY component_id)
       |SELECT cluster_size, count(*) AS n_clusters,
       |       CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
       |       CAST(cluster_size * count(*) - count(*) AS BIGINT) AS n_deletions_keep_one
       |FROM sz GROUP BY cluster_size
       |ORDER BY cluster_size""".stripMargin

  /** Canonical-keeper selection — the decision step BETWEEN clustering
    * and deletion in a production dedup pipeline: within each duplicate
    * cluster, keep the doc with the most content (max n_chars, doc_id as
    * the tie-break) and map every other member to its keeper. This is the
    * "keep longest" convention of web-corpus dedup (the min-id keeper of
    * [[dedupComponents]] is layout-stable but content-blind); the emitted
    * (doc_id → keeper_id) table is exactly what a downstream delete/remap
    * join consumes. Shape: components (pairs-sized) ⋈ documents metadata
    * (one hash join on doc_id) + one per-component window — every stage
    * after pair generation is proportional to the DUPLICATE subset, not
    * the corpus. */
  def dedupCanonicalKeep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsWide(spark, dir)
    val meta = Tables.documents(spark, dir)
    val comps = DedupOps.connectedComponents(
      spark, minhashLshDupsFrom(spark, docs).select("a_id", "b_id"))
    val w = Window.partitionBy(col("component_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    comps.join(meta.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .withColumn("keeper_id", first(col("doc_id")).over(w))
      .select(
        col("doc_id"), col("component_id"), col("n_chars"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("is_kept"))
      .orderBy("component_id", "doc_id")
  }

  private val dedupCanonicalKeepSql: String =
    s"""WITH RECURSIVE $toksCte,
       |$shinglesCte,
       |$minhashCte,
       |$bandsCandCtes,
       |pairs AS (
       |  SELECT a_id, b_id
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = a_id
       |  JOIN sh sb ON sb.doc_id = b_id
       |  WHERE round($jaccardExpr, 6) >= 0.2),
       |edges AS (
       |  SELECT a_id AS node, b_id AS nbr FROM pairs
       |  UNION ALL
       |  SELECT b_id, a_id FROM pairs),
       |walk(node, reach) AS (
       |  SELECT node, node FROM (SELECT DISTINCT node FROM edges) n
       |  UNION
       |  SELECT e.node, w.reach FROM edges e JOIN walk w ON w.node = e.nbr),
       |comp AS (
       |  SELECT node AS doc_id, min(reach) AS component_id
       |  FROM walk GROUP BY node)
       |SELECT c.doc_id, c.component_id, d.n_chars,
       |       first_value(c.doc_id)
       |         OVER (PARTITION BY c.component_id
       |               ORDER BY d.n_chars DESC, c.doc_id) AS keeper_id,
       |       c.doc_id = first_value(c.doc_id)
       |         OVER (PARTITION BY c.component_id
       |               ORDER BY d.n_chars DESC, c.doc_id) AS is_kept
       |FROM comp c JOIN documents d ON d.doc_id = c.doc_id
       |ORDER BY c.component_id, c.doc_id""".stripMargin

  private val SnmWindow = 5
  private val SnmKeyLen = 40

  /** Sorted-neighborhood near-dup detection — the fourth member of the
    * similarity-join taxonomy alongside MinHash-LSH (probabilistic
    * bucketing), SimHash banding (pigeonhole bucketing) and the prefix
    * join (exact filtering): sort the corpus by a normalized key (first
    * [[SnmKeyLen]] chars of the canonical text), compare each doc only to
    * its [[SnmWindow]]−1 successors in sort order, verify candidates with
    * exact Jaccard. The classic record-linkage SNM move — candidates are
    * exactly N·(w−1) regardless of how skewed the key distribution is
    * (blocking's hot-bucket pathology cannot occur by construction),
    * at the price of missing near-dups whose edits fall inside the key
    * prefix; production runs multi-pass SNM with rotated keys.
    *
    * Shape: the global numbering runs through [[GlobalWindow.rowNumber]]
    * — range-partitioned sort, per-partition row_number, broadcast
    * per-partition offsets — so no single-task sort appears anywhere in
    * the plan, and the neighborhood join stays a plain equi-join on the
    * shifted rank, output ∝ N·w.
    * Verification re-derives shingles for candidate docs only
    * (semi-join), the same recompute-narrow discipline as the LSH verify
    * path. */
  def sortedNeighborDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    snmVerify(docs, snmCandidates(docs, snmKey(0)))
  }

  /** The pass-p SNM sort key: [[SnmKeyLen]] chars of the normalized text
    * starting at offset p·[[SnmKeyLen]] — pass 0 is the classic prefix
    * key, pass 1 the "rotated" key that catches near-dups whose edits
    * fall inside the pass-0 prefix (they sort far apart on pass 0 but
    * adjacent on pass 1 when the later content still matches). */
  private[graft] def snmKey(pass: Int): Column =
    substring(graft.functions.TextFunctions.normText(col("text")),
      pass * SnmKeyLen + 1, SnmKeyLen)

  /** Window-[[SnmWindow]] neighborhood candidates under an arbitrary
    * sort key: two-phase global numbering by (key, doc_id) via
    * [[GlobalWindow.rowNumber]], then each doc pairs with its w−1
    * successors through an equi-join on the shifted rank — exactly
    * N·(w−1) candidates regardless of key skew. Exposed to the spec so
    * per-pass recall can be asserted directly. */
  private[graft] def snmCandidates(docs: DataFrame, key: Column): DataFrame = {
    val rn = GlobalWindow.rowNumber(
      docs.select(col("doc_id"), key.as("snm_key")),
      "rn")(col("snm_key"), col("doc_id"))
      .select("doc_id", "rn")
      .materializeOnce // both sides of the neighborhood join
    rn.withColumn("d", explode(array((1 until SnmWindow).map(lit(_)): _*)))
      .select(col("doc_id").as("l_id"), (col("rn") + col("d")).as("rn_b"))
      .join(rn.select(col("doc_id").as("r_id"), col("rn").as("rn_b")), Seq("rn_b"))
      .select(least(col("l_id"), col("r_id")).as("a_id"),
        greatest(col("l_id"), col("r_id")).as("b_id"))
  }

  /** Multi-key SNM candidates in ONE numbering pass (r16, guide §2.4):
    * the per-pass [[snmCandidates]] form ran one two-phase global
    * numbering (range shuffle + eager checkpoint + offset pipeline) PER
    * KEY, in strict driver sequence. The passes are independent orders
    * over the same docs, so they stack into one (pass, key, doc_id)
    * frame numbered group-major by [[GlobalWindow.groupedRowNumberWithCount]]
    * — within-pass ranks are identical to the per-pass numbering (groups
    * are contiguous in the stacked order), and the neighborhood join
    * keys on (pass, shifted rank), so each pass pairs exactly as before.
    * Output is the UNION-ALL of the per-pass candidate pairs. */
  private[graft] def snmCandidatesMulti(keyed: DataFrame,
      keys: Seq[Column]): DataFrame = {
    val stacked = keys.zipWithIndex.map { case (k, p) =>
      keyed.select(col("doc_id"), k.as("snm_key"), lit(p).as("snm_pass"))
    }.reduce(_ unionAll _)
    val rn = GlobalWindow.groupedRowNumberWithCount(stacked, "snm_pass",
      "rn", "__snm_cnt")(col("snm_key"), col("doc_id"))
      .select(col("snm_pass"), col("doc_id"), col("rn"))
      .materializeOnce // both sides of the neighborhood join
    rn.withColumn("d", explode(array((1 until SnmWindow).map(lit(_)): _*)))
      .select(col("snm_pass"), col("doc_id").as("l_id"),
        (col("rn") + col("d")).as("rn_b"))
      .join(rn.select(col("snm_pass"), col("doc_id").as("r_id"),
        col("rn").as("rn_b")), Seq("snm_pass", "rn_b"))
      .select(least(col("l_id"), col("r_id")).as("a_id"),
        greatest(col("l_id"), col("r_id")).as("b_id"))
  }

  /** Exact-Jaccard verification of SNM candidate pairs — shingles
    * re-derived for candidate docs only (semi-join), the same
    * recompute-narrow discipline as the LSH verify path. */
  private[graft] def snmVerify(docs: DataFrame, cand0: DataFrame): DataFrame = {
    val cand = cand0
      .materializeOnce // ids only; feeds the semi-join and the verify join
    val candIds = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    val shCand = DedupOps.docShingles(
        docs.join(candIds, Seq("doc_id"), "left_semi"))
      .materializeOnce // candidate-sized; both verify join sides read it
    // NOTE (r16, tried and REVERTED): explicit repartition(n, key) on
    // both sides of each verify join — the prefix-join coalescing fix —
    // measured +28% here (QueryProf min 2.75→3.51 on sorted_neighbor,
    // 2.98→3.81 on er_fellegi): AQE already converts these joins to
    // broadcast at runtime (candidate-doc shingle frame is small), so
    // the explicit exchanges only added barriers. Left as planner joins.
    cand
      .join(shCand.select(col("doc_id").as("a_id"), col("shingles").as("sa")), Seq("a_id"))
      .join(shCand.select(col("doc_id").as("b_id"), col("shingles").as("sb")), Seq("b_id"))
      .filter(size(col("sa")) > 0 && size(col("sb")) > 0)
      .withColumn("jaccard", round(DedupOps.jaccard(col("sa"), col("sb")), 6))
      .filter(col("jaccard") >= 0.2)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** Multi-pass SNM — the production answer to single-pass SNM's one
    * blind spot (near-dups whose edits fall inside the sort-key prefix):
    * run the neighborhood pass under BOTH the prefix key and the rotated
    * key ([[snmKey]]), union + distinct the candidate id pairs, verify
    * once. Candidates stay ≤ 2·N·(w−1) by construction — the skew
    * immunity survives the extra pass — and recall strictly improves on
    * prefix-edited near-dups (`SnmMultipassSpec` plants them). */
  def snmMultipassDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // normalize ONCE (r9): both passes sort substrings of the same
    // normalized text, so the regex pass runs once and the checkpoint
    // carries only the two 40-char keys per doc, not the corpus text
    val keyed = docs.select(col("doc_id"),
        substring(graft.functions.TextFunctions.normText(col("text")),
          1, SnmKeyLen).as("k0"),
        substring(graft.functions.TextFunctions.normText(col("text")),
          SnmKeyLen + 1, SnmKeyLen).as("k1"))
      .materializeOnce
    // one stacked numbering for both passes (r16): see snmCandidatesMulti
    // — the union of the two per-pass candidate streams, then one
    // distinct, exactly as the per-pass form
    snmVerify(docs,
      snmCandidatesMulti(keyed, Seq(col("k0"), col("k1")))
        .distinct())
  }

  private val sortedNeighborDupsSql: String =
    s"""WITH $toksCte,
       |$shinglesCte,
       |keyed AS (
       |  SELECT doc_id,
       |         substring(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), 1, $SnmKeyLen) AS snm_key
       |  FROM documents),
       |rn AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY snm_key, doc_id) AS rn
       |  FROM keyed),
       |cand AS (
       |  SELECT least(a.doc_id, b.doc_id) AS a_id,
       |         greatest(a.doc_id, b.doc_id) AS b_id
       |  FROM rn a JOIN rn b ON b.rn BETWEEN a.rn + 1 AND a.rn + ${SnmWindow - 1})
       |SELECT a_id, b_id, round($jaccardExpr, 6) AS jaccard
       |FROM cand
       |JOIN sh sa ON sa.doc_id = a_id
       |JOIN sh sb ON sb.doc_id = b_id
       |WHERE len(sa.shingles) > 0 AND len(sb.shingles) > 0
       |  AND round($jaccardExpr, 6) >= 0.2
       |ORDER BY a_id, b_id""".stripMargin

  private val snmMultipassDupsSql: String =
    s"""WITH $toksCte,
       |$shinglesCte,
       |keyed AS (
       |  SELECT doc_id,
       |         substring(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), 1, $SnmKeyLen) AS k0,
       |         substring(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ${SnmKeyLen + 1}, $SnmKeyLen) AS k1
       |  FROM documents),
       |r0 AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY k0, doc_id) AS rn
       |  FROM keyed),
       |r1 AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY k1, doc_id) AS rn
       |  FROM keyed),
       |cand AS (
       |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS a_id,
       |                  greatest(a.doc_id, b.doc_id) AS b_id
       |  FROM r0 a JOIN r0 b ON b.rn BETWEEN a.rn + 1 AND a.rn + ${SnmWindow - 1}
       |  UNION
       |  SELECT DISTINCT least(a.doc_id, b.doc_id),
       |                  greatest(a.doc_id, b.doc_id)
       |  FROM r1 a JOIN r1 b ON b.rn BETWEEN a.rn + 1 AND a.rn + ${SnmWindow - 1})
       |SELECT a_id, b_id, round($jaccardExpr, 6) AS jaccard
       |FROM cand
       |JOIN sh sa ON sa.doc_id = a_id
       |JOIN sh sb ON sb.doc_id = b_id
       |WHERE len(sa.shingles) > 0 AND len(sb.shingles) > 0
       |  AND round($jaccardExpr, 6) >= 0.2
       |ORDER BY a_id, b_id""".stripMargin

  /** Fellegi–Sunter parameter estimation — the probabilistic record-
    * linkage layer over the SNM blocking: for each comparison field
    * (language, source, 10%-length band), the m-probability
    * P(agree | match) and u-probability P(agree | non-match) counted over
    * the bounded SNM candidate pairs, with the resulting log-likelihood
    * agreement/disagreement weights (nats; a pair's linkage score is the
    * sum of its per-field weights). Truth for the estimation pass is
    * exact shingle Jaccard ≥ 1/2, evaluated as the INTEGER predicate
    * 3·|∩| ≥ |A|+|B| — no float compare. This is the classical
    * supervised-by-rule FS fit (count agreements inside/outside the
    * verified-match set) rather than the EM variant — deterministic and
    * one-pass, which is what a production linkage run calibrates from a
    * labeled block anyway.
    *
    * Degenerate guards: an all-match or no-match candidate set yields
    * NULL probabilities (not division errors); weights are NULL whenever
    * a log argument would be 0 or the ratio undefined, in both engines.
    *
    * Scale shape: candidates are exactly N·(w−1) by SNM construction
    * (skew-immune); shingles re-derived for candidate docs only
    * (semi-join); the field unpivot triples a pair-aggregate frame, not
    * the corpus; final frame = 3 rows. */
  def erFellegiSunter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cand = snmCandidates(docs, snmKey(0))
      .materializeOnce // feeds the id semi-join and the verify join
    val candIds = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    val shCand = DedupOps.docShingles(docs.join(candIds, Seq("doc_id"), "left_semi"))
    val meta = docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val pairs = cand
      .join(shCand.select(col("doc_id").as("a_id"), col("shingles").as("sa")), Seq("a_id"))
      .join(shCand.select(col("doc_id").as("b_id"), col("shingles").as("sb")), Seq("b_id"))
      .filter(size(col("sa")) > 0 && size(col("sb")) > 0)
      .withColumn("is_match",
        size(array_intersect(col("sa"), col("sb"))) * 3 >=
          size(col("sa")) + size(col("sb")))
      .join(meta.select(col("doc_id").as("a_id"), col("lang").as("la"),
        col("source").as("pa"), col("n_chars").as("na")), Seq("a_id"))
      .join(meta.select(col("doc_id").as("b_id"), col("lang").as("lb"),
        col("source").as("pb"), col("n_chars").as("nb")), Seq("b_id"))
    pairs
      .select(col("is_match"), explode(array(
        struct(lit("lang").as("field"), (col("la") === col("lb")).as("agree")),
        struct(lit("source").as("field"), (col("pa") === col("pb")).as("agree")),
        struct(lit("len10").as("field"),
          (abs(col("na") - col("nb")) * 10 <= greatest(col("na"), col("nb")))
            .as("agree")))).as("f"))
      .select(col("is_match"), col("f.field"), col("f.agree"))
      .groupBy(col("field"))
      .agg(
        sum(when(col("is_match"), 1L).otherwise(0L)).as("n_match"),
        sum(when(!col("is_match"), 1L).otherwise(0L)).as("n_unmatch"),
        sum(when(col("is_match") && col("agree"), 1L).otherwise(0L)).as("agree_match"),
        sum(when(!col("is_match") && col("agree"), 1L).otherwise(0L)).as("agree_unmatch"))
      .withColumn("m_ppm",
        when(col("n_match") === 0, lit(null).cast("long"))
          .otherwise(expr("agree_match * 1000000 div n_match")))
      .withColumn("u_ppm",
        when(col("n_unmatch") === 0, lit(null).cast("long"))
          .otherwise(expr("agree_unmatch * 1000000 div n_unmatch")))
      .withColumn("w_agree_nats",
        when(col("m_ppm") > 0 && col("u_ppm") > 0,
          round(log(col("m_ppm").cast("double") / col("u_ppm")), 6)))
      .withColumn("w_disagree_nats",
        when(col("m_ppm") < 1000000L && col("u_ppm").isNotNull &&
          col("u_ppm") < 1000000L,
          round(log((lit(1000000L) - col("m_ppm")).cast("double") /
            (lit(1000000L) - col("u_ppm"))), 6)))
      .select(col("field"), col("n_match"), col("n_unmatch"),
        col("agree_match"), col("agree_unmatch"), col("m_ppm"), col("u_ppm"),
        col("w_agree_nats"), col("w_disagree_nats"))
      .orderBy("field")
  }

  private val erFellegiSunterSql: String =
    s"""WITH $toksCte,
       |$shinglesCte,
       |keyed AS (
       |  SELECT doc_id,
       |         substring(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), 1, $SnmKeyLen) AS snm_key
       |  FROM documents),
       |rn AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY snm_key, doc_id) AS rn
       |  FROM keyed),
       |cand AS (
       |  SELECT least(a.doc_id, b.doc_id) AS a_id,
       |         greatest(a.doc_id, b.doc_id) AS b_id
       |  FROM rn a JOIN rn b ON b.rn BETWEEN a.rn + 1 AND a.rn + ${SnmWindow - 1}),
       |p AS (
       |  SELECT c.a_id, c.b_id,
       |         len(list_intersect(sa.shingles, sb.shingles)) * 3
       |           >= len(sa.shingles) + len(sb.shingles) AS is_match,
       |         da.lang = db.lang AS f_lang,
       |         da.source = db.source AS f_source,
       |         abs(da.n_chars - db.n_chars) * 10
       |           <= greatest(da.n_chars, db.n_chars) AS f_len10
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.a_id
       |  JOIN sh sb ON sb.doc_id = c.b_id
       |  JOIN documents da ON da.doc_id = c.a_id
       |  JOIN documents db ON db.doc_id = c.b_id
       |  WHERE len(sa.shingles) > 0 AND len(sb.shingles) > 0),
       |u AS (
       |  SELECT is_match, 'lang' AS field, f_lang AS agree FROM p
       |  UNION ALL
       |  SELECT is_match, 'source', f_source FROM p
       |  UNION ALL
       |  SELECT is_match, 'len10', f_len10 FROM p),
       |g AS (
       |  SELECT field,
       |         sum(CASE WHEN is_match THEN 1 ELSE 0 END) AS n_match,
       |         sum(CASE WHEN NOT is_match THEN 1 ELSE 0 END) AS n_unmatch,
       |         sum(CASE WHEN is_match AND agree THEN 1 ELSE 0 END) AS agree_match,
       |         sum(CASE WHEN NOT is_match AND agree THEN 1 ELSE 0 END) AS agree_unmatch
       |  FROM u GROUP BY field),
       |q AS (
       |  SELECT field, n_match, n_unmatch, agree_match, agree_unmatch,
       |         CASE WHEN n_match = 0 THEN NULL
       |              ELSE agree_match * 1000000 // n_match END AS m_ppm,
       |         CASE WHEN n_unmatch = 0 THEN NULL
       |              ELSE agree_unmatch * 1000000 // n_unmatch END AS u_ppm
       |  FROM g)
       |SELECT field,
       |       CAST(n_match AS BIGINT) AS n_match,
       |       CAST(n_unmatch AS BIGINT) AS n_unmatch,
       |       CAST(agree_match AS BIGINT) AS agree_match,
       |       CAST(agree_unmatch AS BIGINT) AS agree_unmatch,
       |       CAST(m_ppm AS BIGINT) AS m_ppm,
       |       CAST(u_ppm AS BIGINT) AS u_ppm,
       |       CASE WHEN m_ppm > 0 AND u_ppm > 0
       |            THEN round(ln(CAST(m_ppm AS DOUBLE) / u_ppm), 6) END AS w_agree_nats,
       |       CASE WHEN m_ppm < 1000000 AND u_ppm IS NOT NULL AND u_ppm < 1000000
       |            THEN round(ln(CAST(1000000 - m_ppm AS DOUBLE) / (1000000 - u_ppm)), 6)
       |            END AS w_disagree_nats
       |FROM q ORDER BY field""".stripMargin

  /** Exact all-pairs n-gram Jaccard baseline on a bounded id range —
    * the recall reference for the LSH path (O(N²); test-scale only). */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = DedupOps.docShingles(
      Tables.documents(spark, dir).filter(col("doc_id") < 150))
    val a = sh.select(col("doc_id").as("a_id"), col("shingles").as("sa"))
    val b = sh.select(col("doc_id").as("b_id"), col("shingles").as("sb"))
    a.crossJoin(b)
      .filter(col("a_id") < col("b_id"))
      .withColumn("jaccard", round(jaccard(col("sa"), col("sb")), 6))
      .filter(col("jaccard") >= 0.2)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  private val ngramJaccardPairsSql: String =
    s"""WITH $toksCte,
       |$shinglesCte,
       |sub AS (SELECT * FROM sh WHERE doc_id < 150)
       |SELECT sa.doc_id AS a_id, sb.doc_id AS b_id, round($jaccardExpr, 6) AS jaccard
       |FROM sub sa JOIN sub sb ON sa.doc_id < sb.doc_id
       |WHERE round($jaccardExpr, 6) >= 0.2
       |ORDER BY a_id, b_id""".stripMargin

  /** Cross-source duplication rates: the verified LSH near-dup pairs
    * rolled up by unordered source pair — the curation diagnostic that
    * says WHICH feeds copy each other (mirror sites, syndication,
    * scraper overlap) and whether boilerplate is intra-source (template
    * pages) or cross-source (plagiarism/mirrors). Pair discovery is the
    * production LSH path; the rollup adds two broadcast-sized dimension
    * joins and an enum-keyed aggregate — free at any scale. Mean Jaccard
    * in fixed-point (sum of 6-decimal values is exact in doubles;
    * floor-division per the round-half divergence rule). */
  def sourceDedupCrossrate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsWide(spark, dir)
    val meta = Tables.documents(spark, dir)
    val src = meta.select(col("doc_id"), col("source"))
    minhashLshDupsFrom(spark, docs)
      .join(src.select(col("doc_id").as("a_id"), col("source").as("src_a")), "a_id")
      .join(src.select(col("doc_id").as("b_id"), col("source").as("src_b")), "b_id")
      .groupBy(
        least(col("src_a"), col("src_b")).as("source_1"),
        greatest(col("src_a"), col("src_b")).as("source_2"))
      .agg(
        count(lit(1)).as("n_dup_pairs"),
        (floor(sum(col("jaccard") * 1e6) / count(lit(1))) / 1e6).as("mean_jaccard"))
      .withColumn("cross_source", col("source_1") =!= col("source_2"))
      .orderBy("source_1", "source_2")
  }

  private val sourceDedupCrossrateSql: String =
    s"""WITH $toksCte,
       |$shinglesCte,
       |$minhashCte,
       |$bandsCandCtes,
       |dup AS (
       |  SELECT a_id, b_id, round($jaccardExpr, 6) AS jaccard
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = a_id
       |  JOIN sh sb ON sb.doc_id = b_id
       |  WHERE round($jaccardExpr, 6) >= 0.2)
       |SELECT least(da.source, db.source) AS source_1,
       |       greatest(da.source, db.source) AS source_2,
       |       count(*) AS n_dup_pairs,
       |       floor(sum(jaccard * 1e6) / count(*)) / 1e6 AS mean_jaccard,
       |       least(da.source, db.source) <> greatest(da.source, db.source) AS cross_source
       |FROM dup
       |JOIN documents da ON da.doc_id = a_id
       |JOIN documents db ON db.doc_id = b_id
       |GROUP BY 1, 2
       |ORDER BY source_1, source_2""".stripMargin

  /** Prefix-filtered EXACT similarity join (the AllPairs/PPJoin family) —
    * the deterministic no-miss counterpart to the MinHash-LSH and SimHash
    * sketch paths: every pair with Jaccard ≥ τ is guaranteed found, with
    * no sketch false-negative rate to tune. The filter is the classic
    * prefix lemma: order each doc's shingles by a global rarest-first
    * canonical order (ascending document frequency, ties by shingle) —
    * any pair with |A∩B| ≥ ⌈τ·|A|⌉ must share a shingle among A's first
    * |A|−⌈τ·|A|⌉+1, so the candidate join runs only on the RARE prefix of
    * each set, whose per-shingle bucket sizes are tiny at scale (the
    * frequency head that makes a naive shared-shingle join explode is
    * exactly what the prefix excludes). Candidates are then verified with
    * exact Jaccard re-derived only for candidate docs, the
    * [[minhashLshDupsFrom]] pattern. The oracle is the full brute-force
    * shared-shingle join — stronger than mirroring the algorithm, it
    * PROVES the no-miss property on this corpus. */
  def jaccardPrefixJoin(spark: SparkSession, dir: String): DataFrame =
    jaccardPrefixJoinFrom(spark, Tables.documentsWide(spark, dir))

  /** Prefix-join threshold: pairs with exact Jaccard ≥ τ are emitted. */
  val PrefixTau = 0.5

  /** Frame-based core of [[jaccardPrefixJoin]].
    *
    * @param maxBucket the standard frequent-bucket guard, same shape as
    *   `DedupOps.candidatesFromShingles` / `simhashBandedCandidates`:
    *   prefix-shingle values held by more than this many docs are dropped
    *   from the candidate join (a bucket of b docs contributes b²/2
    *   candidates — boilerplate-saturated shingles blow the join up as
    *   bucket² while signaling exact-dup cliques that belong to a
    *   dedicated exact pass). With a cap the no-miss guarantee narrows to
    *   pairs retaining at least one sub-cap prefix shingle; the oracled
    *   registry entry stays exact (None). */
  def jaccardPrefixJoinFrom(spark: SparkSession, docs: DataFrame,
      maxBucket: Option[Int] = None): DataFrame =
    jaccardPrefixJoinFromShingles(spark, DedupOps.docShingles(docs), maxBucket)

  /** [[jaccardPrefixJoinFrom]] over a prebuilt (doc_id, shingles) frame —
    * lets a caller that already materialized the shingle arrays (the LSH
    * tuning sweep shares one build between the signature pipeline and
    * this exact leg) feed them in instead of re-tokenizing the corpus. */
  def jaccardPrefixJoinFromShingles(spark: SparkSession, sh: DataFrame,
      maxBucket: Option[Int] = None): DataFrame = {
    val tau = PrefixTau
    val ex = sh
      // explode_outer + null-filter: see DedupOps.minhashWide
      .select(col("doc_id"), explode_outer(col("shingles")).as("s"))
      .filter(col("s").isNotNull)
      .materializeOnce // feeds the df window pass and the verify rebuild
    // df as a WINDOW over s, not aggregate-then-join-back (r16, guide
    // §2.4): groupBy(s)+join(ex, "s") planned two hash(s) exchanges (one
    // reused) plus a sort-merge join — the r15 profile's hottest
    // remaining stage in this family. count() OVER (PARTITION BY s) is
    // the same per-shingle row count attached in ONE hash(s) pass, no
    // join; rows and df values are identical (the join was inner on a
    // key built from ex itself, so no row was ever dropped).
    val wdf = Window.partitionBy(col("s"))
    // ONE ordered window spec for both pos and sz: the size count runs
    // as an unbounded frame over the SAME (partition, order) as the
    // row_number, so Catalyst plans a single Window node — the previous
    // unordered-count spec added a second Window pass that doubled this
    // stage's wall measured in isolation (2.6 → 1.1 s at sf0.1; the
    // full query is candidate-join-bound, so its total moves little)
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val prefixAll = ex.withColumn("df", count(lit(1)).over(wdf))
      .withColumn("pos", row_number().over(ord))
      .withColumn("sz", count(lit(1)).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("pos") <= col("sz") - ceil(col("sz") * lit(tau)) + lit(1))
      .select(col("doc_id"), col("s"), col("df"), col("pos"), col("sz"))
    val prefix = maxBucket.fold(prefixAll) { cap =>
      // df is the global bucket size — the hot-bucket drop is a filter,
      // not an extra aggregate + anti-join
      prefixAll.filter(col("df") <= cap)
    }.select(col("doc_id"), col("s"), col("pos"), col("sz"))
    // PPJoin positional filter: if |A∩B| ≥ t := ⌈τ/(1+τ)·(|A|+|B|)⌉ (the
    // overlap form of Jaccard ≥ τ), the FIRST shared token in canonical
    // order sits at positions (pa, pb) with every other common token after
    // it on both sides, so |A∩B| ≤ 1 + min(|A|−pa, |B|−pb) — that
    // occurrence always survives the bound below, keeping no-miss intact,
    // while deep-position coincidental shares are pruned BEFORE the
    // distinct (the pre-distinct candidate stream is the memory hot spot).
    val tFrac = tau / (1.0 + tau)
    val cand = prefix.select(
        col("doc_id").as("a_id"), col("s"),
        col("pos").as("a_pos"), col("sz").as("a_sz"))
      .join(prefix.select(
        col("doc_id").as("b_id"), col("s"),
        col("pos").as("b_pos"), col("sz").as("b_sz")), "s")
      .filter(col("a_id") < col("b_id"))
      .filter(lit(1) + least(col("a_sz") - col("a_pos"), col("b_sz") - col("b_pos"))
        >= ceil(lit(tFrac) * (col("a_sz") + col("b_sz"))))
      .select("a_id", "b_id").distinct()
      .materializeOnce // ids only; the verify pipeline below reuses it thrice
    // Exact-Jaccard verify, ADAPTIVE by candidate count (the count is one
    // cheap job on the already-materialized pair frame — the tfidfTop
    // scalar-count precedent, not a collect of rows):
    //  - small candidate sets (the LSH-like regime: candidates ≪ corpus)
    //    verify by carrying whole shingle arrays per pair — fewest
    //    shuffles, measured fastest at sf0.1;
    //  - large candidate sets (duplicate-saturated corpora, where the
    //    prefix join's candidates ARE the qualifying pairs and grow as
    //    cliques × K²) verify in NARROW form: stream (a, b, shingle)
    //    rows through two equi-joins and count — identical |A∩B| with
    //    constant-width rows. The array-carry form (2 × ~40-string
    //    arrays per pair row) OOM'd the 25× replica probe; narrow form
    //    completes it.
    // An r10 unification attempt (narrow ALWAYS) re-measured both forms
    // and CONFIRMED the crossover, with sharper regime detail: on the
    // organic sf0.1 corpus the narrow verify wins the isolated stage
    // (2.6 s vs 5.7 s at 125k pairs — per-pair array_intersect over two
    // ~50-string arrays is the cost) but is end-to-end NEUTRAL under
    // AQE exchange reuse, while on dup-saturated replica corpora —
    // where |A∩B| ≈ |A| per pair, so the narrow expansion carries ~50×
    // the pair count through TWO joins — narrow ran the capped 10×/50×
    // probes 2× SLOWER (14.9/36.5 s vs 6.1/19.3 s). Wide stays the
    // moderate-pair-count fast path; narrow remains the memory-safe
    // huge-candidate path.
    val candIds = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    val verified =
      if (cand.count() <= WideVerifyMaxPairs) {
        // rebuild candidate shingle ARRAYS from the checkpointed explode
        // (order-free: jaccard is array_intersect/size) — a semi-join on
        // the un-materialized sh would re-shingle the whole corpus, and
        // re-tokenizing the candidate docs (the pre-r9 form) reads the
        // source twice; the grouped rebuild touches candidate rows only.
        // broadcast(candIds) is BOUNDED-SAFE here (r15, guide §3.1): this
        // branch only runs when cand.count() ≤ WideVerifyMaxPairs, so
        // candIds ≤ 2×500k longs ≈ 8 MB — without the hint the planner
        // saw unknown stats behind the checkpoint and sorted the full
        // exploded-shingle frame for a sort-merge semi-join TWICE (both
        // broadcast subtrees), the r15 stage profile's hottest verify cost
        val shCand = ex.join(broadcast(candIds), Seq("doc_id"), "left_semi")
          .groupBy(col("doc_id"))
          .agg(collect_list(col("s")).as("shingles"))
        // the per-pair array_intersect is the verify's CPU floor (r11);
        // the checkpointed pair frame coalesces to a handful of
        // partitions, so without an explicit fan-out the whole floor runs
        // on that handful of cores (r15 stage profile: 4 s of CPU on 4
        // tasks). Deterministic hash fan-out; pairs ≤ WideVerifyMaxPairs
        // by the branch guard, so the extra exchange is bounded-small.
        // r16: BOTH shCand sides get explicit broadcast() (bounded-safe:
        // candidate-doc arrays only, ≤ the pair bound) — the r15 form
        // left the join strategy to the planner, which shuffled the pair
        // frame again for the verify joins and AQE-coalesced that
        // ENSURE_REQUIREMENTS exchange back down to ~3 tasks (bytes are
        // tiny, the CPU is not — the r16 profile caught the intersect
        // floor at 4 s CPU / 3 tasks). With broadcasts the probe runs in
        // the repartitioned 32-task stage, never coalesced (explicit
        // numPartitions), so the floor finally spreads (guide §2.5/§3.1).
        cand
          .repartition(spark.sparkContext.defaultParallelism,
            col("a_id"), col("b_id"))
          .join(broadcast(shCand.select(col("doc_id").as("a_id"), col("shingles").as("sa"))), "a_id")
          .join(broadcast(shCand.select(col("doc_id").as("b_id"), col("shingles").as("sb"))), "b_id")
          .withColumn("jaccard", round(jaccard(col("sa"), col("sb")), 6))
      } else {
        val exCand = ex.join(candIds, Seq("doc_id"), "left_semi")
          .materializeOnce // feeds the sizes aggregate and both join sides
        val sizes = exCand.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
        cand
          .join(exCand.select(col("doc_id").as("a_id"), col("s")), "a_id")
          .join(exCand.select(col("doc_id").as("b_id"), col("s")), Seq("b_id", "s"))
          .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("n_inter"))
          .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("n_a")), "a_id")
          .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("n_b")), "b_id")
          .withColumn("jaccard", round(
            col("n_inter").cast("double")
              / (col("n_a") + col("n_b") - col("n_inter")), 6))
      }
    verified
      .filter(col("jaccard") >= tau)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** Verify-strategy crossover: below this many candidate pairs the
    * array-carry verify wins (fewest shuffles); above it, pair rows
    * dragging two ~40-string arrays dominate memory and the narrow
    * exploded-join verify takes over. ~2 KB/pair ⇒ 500k pairs ≈ 1 GB
    * spread over the shuffle — comfortably inside executor heaps. */
  private val WideVerifyMaxPairs = 500000L

  private val jaccardPrefixJoinSql: String =
    s"""WITH $toksCte,
       |$shinglesCte,
       |e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, round($jaccardExpr, 6) AS jaccard
       |FROM cand
       |JOIN sh sa ON sa.doc_id = a_id
       |JOIN sh sb ON sb.doc_id = b_id
       |WHERE round($jaccardExpr, 6) >= 0.5
       |ORDER BY a_id, b_id""".stripMargin

  /** Shingle-df cap for the containment join's candidate stage — the
    * standard frequent-bucket guard (boilerplate shingles shared by more
    * docs than this generate bucket²/2 candidates while proving nothing
    * about containment). */
  val ContainCap = 64

  /** Asymmetric CONTAINMENT join — the near-dup relation Jaccard misses:
    * a short document quoted wholesale inside a long one has tiny Jaccard
    * (the union is dominated by the long doc) but containment
    * C(A→B) = |S_A ∩ S_B| / |S_A| ≈ 1. This is the subsumption detector
    * (quote farms, wrapper pages, chunk-of-another-doc) every curation
    * stack runs next to the symmetric near-dup pass. Emits every ORDERED
    * pair with containment ≥ 0.8 — near-identical docs appear in both
    * directions, a strict quote only as (quoted → quoter).
    *
    * Candidates are pairs sharing at least one shingle with document
    * frequency ≤ [[ContainCap]] (a df aggregate + semi-filter before the
    * pair join — the same hot-bucket guard as the banded/prefix
    * families, so candidate volume is Σ df²_subcap, never corpus²);
    * verification runs in NARROW form — constant-width (pair, shingle)
    * rows through two equi-joins counting the exact intersection, with
    * per-doc shingle counts joined on afterwards — so no stage ever
    * carries a shingle array per candidate pair; the containment ratio
    * is an exact integer micro-division. */
  def docContainmentPairs(spark: SparkSession, dir: String): DataFrame =
    docContainmentPairsFrom(spark, Tables.documentsWide(spark, dir))

  /** Frame-based core of [[docContainmentPairs]] over (doc_id, text) rows. */
  def docContainmentPairsFrom(spark: SparkSession, docs: DataFrame): DataFrame = {
    val ex = DedupOps.docShingles(docs)
      // explode_outer + null-filter: see DedupOps.minhashWide
      .select(col("doc_id"), explode_outer(col("shingles")).as("s"))
      .filter(col("s").isNotNull)
      .materializeOnce // both rare/non-rare slices + sizes read it
    val freq = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .materializeOnce // vocab-sized; the rare and non-rare filters share it
    // one vocab-frame probe on the materialized freq: when no shingle
    // exceeds the cap (true at sf0.1 — boilerplate saturation is a
    // replica/large-corpus phenomenon) the rare slice IS the corpus and
    // the non-rare correction term is identically zero, so both the
    // semi-join on the candidate sides and the correction join vanish —
    // the same scalar-probe adaptivity as the prefix join's verify
    // crossover
    val hasNonRare = !freq.filter(col("df") > ContainCap).isEmpty
    val exRare =
      if (!hasNonRare) ex
      else ex.join(freq.filter(col("df") <= ContainCap).select("s"),
        Seq("s"), "left_semi")
    // NARROW split-intersection verify (the jaccard_prefix_join
    // discipline, sharpened for this join's own structure): the
    // containment ratio needs only (|A∩B|, |A|, |B|), and
    // |A∩B| = |rare(A)∩rare(B)| + |nonrare(A)∩nonrare(B)| since the
    // df≤cap split partitions each doc's (distinct-by-construction)
    // shingle set. The FIRST term is exactly what the candidate
    // self-join already streams — one groupBy(a,b).count() where the
    // old form ran distinct() over the same shuffle — and the SECOND
    // term touches only the non-rare (boilerplate) slice, which the
    // ContainCap makes a small fraction of the corpus by construction
    // (at sf0.1 it is empty; under replica saturation it stays a
    // per-doc handful). The previous array-carry form dragged both
    // full shingle arrays per candidate pair in both ordered
    // directions (the r9 bench tail at 5.5 s), and the plain narrow
    // re-expansion streamed Σ_pairs |A| ≈ 72M rows at sf0.1 — this
    // form never expands a pair beyond its non-rare slice.
    val cand = exRare.select(col("doc_id").as("a_id"), col("s"))
      .join(exRare.select(col("doc_id").as("b_id"), col("s")), Seq("s"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("rare_inter"))
      .materializeOnce // feeds the non-rare term join and the final assembly
    val withInter = if (!hasNonRare) {
      cand.withColumn("inter", col("rare_inter"))
    } else {
      // correction term by SMALL-array carry, not re-expansion: each
      // candidate doc's non-rare shingles collapse to one array (a
      // strict subset of the full array the r9 wide form carried), so
      // the join output stays |cand| rows — the exploded alternative
      // (cand ⋈ exNon on a_id then (b_id, s)) streams
      // Σ_pairs |nonrare(A)| rows, which the 10× replica probe measured
      // at 39 s vs ~16 s for this form (boilerplate saturation makes
      // the non-rare slice corpus-sized exactly when candidates peak)
      val exNonArr = ex.join(freq.filter(col("df") > ContainCap).select("s"),
          Seq("s"), "left_semi")
        .groupBy(col("doc_id")).agg(collect_list(col("s")).as("nsh"))
      val empty = array().cast("array<string>")
      cand
        .join(exNonArr.select(col("doc_id").as("a_id"), col("nsh").as("nsa")),
          Seq("a_id"), "left")
        .join(exNonArr.select(col("doc_id").as("b_id"), col("nsh").as("nsb")),
          Seq("b_id"), "left")
        .withColumn("inter", col("rare_inter") +
          size(array_intersect(coalesce(col("nsa"), empty),
            coalesce(col("nsb"), empty))).cast("long"))
    }
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // both ordered directions in ONE pass: each undirected pair explodes
    // into its two (contained, container) orientations and the threshold
    // filter keeps the qualifying ones — no second read of the verify
    // frame, no union of two branches
    withInter
      .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("sza")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("szb")), "b_id")
      .select(col("inter"), explode(array(
        struct(col("a_id").as("contained_id"), col("b_id").as("container_id"),
          col("sza").as("sz_contained"), col("szb").as("sz_container")),
        struct(col("b_id").as("contained_id"), col("a_id").as("container_id"),
          col("szb").as("sz_contained"), col("sza").as("sz_container")))).as("d"))
      .select(col("d.contained_id"), col("d.container_id"), col("inter"),
        col("d.sz_contained"), col("d.sz_container"))
      .filter(col("sz_contained") > 0 &&
        expr("inter * 1000000 div sz_contained") >= 800000)
      .withColumn("containment_micro", expr("inter * 1000000 div sz_contained"))
      .orderBy("contained_id", "container_id")
  }

  private val docContainmentPairsSql: String =
    s"""WITH $toksCte,
       |$shinglesCte,
       |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |rare AS (
       |  SELECT ex.doc_id, ex.s FROM ex
       |  JOIN (SELECT s FROM ex GROUP BY s HAVING count(*) <= $ContainCap) r
       |    ON r.s = ex.s),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id),
       |v AS (
       |  SELECT a_id, b_id,
       |         CAST(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS BIGINT) AS inter,
       |         CAST(len(sa.shingles) AS BIGINT) AS sza,
       |         CAST(len(sb.shingles) AS BIGINT) AS szb
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = a_id
       |  JOIN sh sb ON sb.doc_id = b_id),
       |u AS (
       |  SELECT a_id AS contained_id, b_id AS container_id, inter,
       |         sza AS sz_contained, szb AS sz_container
       |  FROM v WHERE sza > 0 AND inter * 1000000 // sza >= 800000
       |  UNION ALL
       |  SELECT b_id, a_id, inter, szb, sza
       |  FROM v WHERE szb > 0 AND inter * 1000000 // szb >= 800000)
       |SELECT contained_id, container_id, inter, sz_contained, sz_container,
       |       CAST(inter * 1000000 // sz_contained AS BIGINT) AS containment_micro
       |FROM u ORDER BY contained_id, container_id""".stripMargin

  /** LSH parameter-tuning report — the (bands × rows-per-band) sweep an
    * engineer runs on a corpus SAMPLE before committing a 100 TB dedup
    * pass to one operating point: all five factorizations of the same
    * [[DedupOps.NumHashes]]=12 MinHash signature (12×1, 6×2, 4×3, 3×4,
    * 2×6) are banded, and each configuration's candidate volume is scored
    * against the EXACT Jaccard-≥-0.5 pair set (the no-miss prefix join,
    * [[jaccardPrefixJoinFrom]]) as recall and precision in integer
    * micro-units. More rows per band → sharper S-curve → fewer, more
    * precise candidates at lower recall; this report is the measured
    * trade-off, the dedup twin of knn_recall_curve.
    *
    * Scale shape: the signature build (shingle explode + 12 partial
    * mins) runs ONCE and is materialized; each configuration adds only a
    * vocabulary-of-buckets equi-join on its band keys, and the exact
    * baseline is shared across all five legs. Counts come from a tagged
    * union → one aggregate per leg (no one-row cross joins).
    *
    * The REGISTERED entry runs on a deterministic 25% md5 hash-sample of
    * documents (`md5(doc_id) < '4'` — same lowercase-hex md5 both
    * dialects, so the oracle sees the identical sample), because that IS
    * the production shape: the exact ground-truth leg is quadratic-ish in
    * sample size (Σ df² of the prefix join), and a 100 TB corpus can only
    * ever be tuned on a sample — recall/precision estimates off 25% of a
    * corpus carry the same information at 1/16 the exact-leg cost. The
    * full-corpus form stays available as [[lshTuningReportFull]], a
    * spec-only baseline (GovernanceTuningSpec runs banding-theory checks
    * on BOTH). */
  def lshTuningReport(spark: SparkSession, dir: String): DataFrame =
    lshTuningReportFrom(spark,
      Tables.documents(spark, dir)
        .filter(md5(col("doc_id").cast("string")) < lit("4")))

  /** The full-corpus sweep — spec-only baseline, NOT registered (its
    * exact leg is the corpus-quadratic cost the sampled form avoids). */
  def lshTuningReportFull(spark: SparkSession, dir: String): DataFrame =
    lshTuningReportFrom(spark, Tables.documents(spark, dir))

  private def lshTuningReportFrom(
      spark: SparkSession, docs: DataFrame): DataFrame = {
    // ONE shingle build (r9): the signature pipeline AND the exact
    // ground-truth leg read the same checkpointed arrays — the corpus is
    // tokenized once instead of twice
    val sh = DedupOps.docShingles(docs).materializeOnce
    val wide = DedupOps.minhashWide(spark, sh)
      .materializeOnce // one signature build feeds all five band layouts
    val exact = jaccardPrefixJoinFromShingles(spark, sh)
      .select("a_id", "b_id").materializeOnce // shared ground truth
    val legs = Seq(1, 2, 3, 4, 6).map { r =>
      val nB = DedupOps.NumHashes / r
      val bandStructs = (0 until nB).map { b =>
        val keyCols = (0 until r).map(i => col(s"mh${b * r + i}").cast("string"))
        struct(lit(b).as("band"), md5(concat_ws("_", keyCols: _*)).as("band_key"))
      }
      val bands = wide
        .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
      val cand = bands.select(col("doc_id").as("a_id"), col("band"), col("band_key"))
        .join(bands.select(col("doc_id").as("b_id"), col("band"), col("band_key")),
          Seq("band", "band_key"))
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()
      // NO materializeOnce on the per-leg candidate frame (r16, guide
      // §2.6 overlap independent work): the two consumers (count leg,
      // exact probe) sit in the SAME final action and share the distinct
      // aggregate's exchange via reuse, while the five legs' stages now
      // run CONCURRENTLY inside one job instead of five eager checkpoint
      // jobs in strict driver sequence.
      val hits = cand.join(exact, Seq("a_id", "b_id"), "left_semi")
      cand.select(lit(1L).as("c"), lit(0L).as("h"), lit(0L).as("e"))
        .union(hits.select(lit(0L).as("c"), lit(1L).as("h"), lit(0L).as("e")))
        .union(exact.select(lit(0L).as("c"), lit(0L).as("h"), lit(1L).as("e")))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_candidates"),
          coalesce(sum(col("h")), lit(0L)).as("n_hits"),
          coalesce(sum(col("e")), lit(0L)).as("n_exact"))
        .select(lit(r.toLong).as("rows_per_band"), lit(nB.toLong).as("n_bands"),
          col("n_candidates"), col("n_exact"), col("n_hits"))
    }
    legs.reduce(_ union _)
      .withColumn("recall_micro",
        expr("CASE WHEN n_exact > 0 THEN n_hits * 1000000 div n_exact ELSE 0 END"))
      .withColumn("precision_micro",
        expr("CASE WHEN n_candidates > 0 THEN n_hits * 1000000 div n_candidates ELSE 0 END"))
      .orderBy("rows_per_band")
  }

  private val lshTuningReportSql: String = {
    val legs = Seq(1, 2, 3, 4, 6).map { r =>
      val nB = DedupOps.NumHashes / r
      s"""bands$r AS (
         |  SELECT doc_id, k // $r AS band,
         |         md5(string_agg(CAST(minhash AS VARCHAR), '_' ORDER BY k)) AS band_key
         |  FROM mh GROUP BY doc_id, k // $r),
         |cand$r AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands$r a JOIN bands$r b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |leg$r AS (
         |  SELECT $r AS rows_per_band, $nB AS n_bands,
         |         (SELECT count(*) FROM cand$r) AS n_candidates,
         |         (SELECT count(*) FROM exact) AS n_exact,
         |         (SELECT count(*) FROM cand$r c JOIN exact e
         |            ON c.a_id = e.a_id AND c.b_id = e.b_id) AS n_hits)""".stripMargin
    }.mkString(",\n")
    val unions = Seq(1, 2, 3, 4, 6).map(r => s"SELECT * FROM leg$r")
      .mkString("\nUNION ALL\n")
    s"""WITH $sampledToksCte,
       |$shinglesCte,
       |$minhashCte,
       |bf AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id),
       |exact AS (
       |  SELECT a_id, b_id FROM bf
       |  JOIN sh sa ON sa.doc_id = a_id
       |  JOIN sh sb ON sb.doc_id = b_id
       |  WHERE round($jaccardExpr, 6) >= 0.5),
       |$legs,
       |u AS ($unions)
       |SELECT CAST(rows_per_band AS BIGINT) AS rows_per_band,
       |       CAST(n_bands AS BIGINT) AS n_bands,
       |       CAST(n_candidates AS BIGINT) AS n_candidates,
       |       CAST(n_exact AS BIGINT) AS n_exact,
       |       CAST(n_hits AS BIGINT) AS n_hits,
       |       CAST(CASE WHEN n_exact > 0 THEN n_hits * 1000000 // n_exact ELSE 0 END AS BIGINT) AS recall_micro,
       |       CAST(CASE WHEN n_candidates > 0 THEN n_hits * 1000000 // n_candidates ELSE 0 END AS BIGINT) AS precision_micro
       |FROM u ORDER BY rows_per_band""".stripMargin
  }

  /** Hot-bucket cap for the PRODUCTION prefix-join configuration: prefix
    * shingles held by more than this many docs are excluded from
    * candidate generation (they contribute bucket²/2 candidates while
    * signaling boilerplate / exact-dup cliques that belong to the exact
    * pass). This is the bound that kept the 10×-replica scale probe
    * (SCALE_r14.json `jaccard_prefix_capped`) from the OOM the uncapped
    * shape hit. */
  val PrefixCap = 64

  /** The CAPPED prefix join as its own oracled entry — the configuration
    * a 100 TB run would actually execute (candidate volume bounded by
    * Σ df²_prefix over sub-cap buckets), coexisting with the uncapped
    * [[jaccardPrefixJoin]] exactly as [[simhashBandedDup]] coexists with
    * the exact [[simhashNearDup]] baseline: the uncapped entry's
    * brute-force oracle proves the no-miss lemma, this entry's oracle
    * mirrors the df-filter so the driver verifies the PRODUCTION plan.
    * `PrefixJoinSpec` separately proves capped ⊆ exact. */
  def jaccardPrefixJoinCapped(spark: SparkSession, dir: String): DataFrame =
    jaccardPrefixJoinFrom(spark, Tables.documentsWide(spark, dir),
      maxBucket = Some(PrefixCap))

  private val jaccardPrefixJoinCappedSql: String =
    s"""WITH $toksCte,
       |$shinglesCte,
       |e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |f AS (SELECT s, count(*) AS df FROM e GROUP BY s),
       |p0 AS (
       |  SELECT e.doc_id, e.s, f.df,
       |         row_number() OVER (PARTITION BY e.doc_id ORDER BY f.df, e.s) AS pos,
       |         count(*) OVER (PARTITION BY e.doc_id) AS sz
       |  FROM e JOIN f USING (s)),
       |p AS (
       |  SELECT doc_id, s, pos, sz FROM p0
       |  WHERE pos <= sz - ceil(sz * $PrefixTau) + 1 AND df <= $PrefixCap),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
       |  WHERE 1 + least(a.sz - a.pos, b.sz - b.pos)
       |        >= ceil(($PrefixTau/(1+$PrefixTau)) * (a.sz + b.sz)))
       |SELECT a_id, b_id, round($jaccardExpr, 6) AS jaccard
       |FROM cand
       |JOIN sh sa ON sa.doc_id = a_id
       |JOIN sh sb ON sb.doc_id = b_id
       |WHERE round($jaccardExpr, 6) >= $PrefixTau
       |ORDER BY a_id, b_id""".stripMargin

  /** 48-bit SimHash per document. */
  def docSimhash(spark: SparkSession, dir: String): DataFrame =
    DedupOps.simhash48(spark, Tables.documents(spark, dir))
      .orderBy("doc_id")

  private val docSimhashSql: String =
    s"""WITH $toksCte,
       |tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS t FROM toks),
       |th AS (SELECT doc_id, CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) AS h60 FROM tok),
       |bits AS (
       |  SELECT doc_id, j,
       |         sum(CASE WHEN (h60 // CAST(pow(2, j) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM th JOIN (SELECT unnest(range(0, 48)) AS j) jt ON TRUE
       |  GROUP BY doc_id, j)
       |SELECT doc_id,
       |       CAST(sum(CASE WHEN s >= 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
       |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** SimHash near-dup pairs: Hamming distance ≤ 1 over the 48 bits.
    * Unbanded all-pairs join, bounded to a fixed doc range (doc_id < 1500,
    * mirrored in the oracle's WHERE) — kept strictly as the labeled exact
    * recall oracle for [[simhashBandedDup]], the production/scale form:
    * restricted to the SAME doc range, the pigeonhole equi-join provably
    * returns this exact result set (compare against the banded path run
    * on the bounded corpus — on the full corpus the banded path finds
    * strictly more pairs, since this baseline never sees docs ≥ 1500).
    * The bound is what keeps this baseline O(const²) instead of
    * O(corpus²) — the same move as ngramJaccardPairs (doc_id < 150). */
  def simhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    // deliberately NOT materialized: the bounded input is tiny, so the
    // signature pipeline running once per join side is cheap, and the
    // full plan (including the pushed doc_id bound) stays visible to the
    // RegistryAuditSpec plan walk
    val sh = DedupOps.simhash48(spark,
      Tables.documents(spark, dir).filter(col("doc_id") < 1500))
    val a = sh.select(col("doc_id").as("a_id"), col("simhash").as("ha"))
    val b = sh.select(col("doc_id").as("b_id"), col("simhash").as("hb"))
    a.crossJoin(b)
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= 1)
      .select("a_id", "b_id", "hamming")
      .orderBy("a_id", "b_id")
  }

  private val simhashNearDupSql: String =
    s"""WITH $toksCte,
       |tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS t FROM toks),
       |th AS (SELECT doc_id, CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) AS h60 FROM tok),
       |bits AS (
       |  SELECT doc_id, j,
       |         sum(CASE WHEN (h60 // CAST(pow(2, j) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM th JOIN (SELECT unnest(range(0, 48)) AS j) jt ON TRUE
       |  GROUP BY doc_id, j),
       |sh2 AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN s >= 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits WHERE doc_id < 1500 GROUP BY doc_id)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
       |ORDER BY a_id, b_id""".stripMargin

  // Pigeonhole banding parameters for the SimHash scale path: for
  // Hamming <= k over 48 bits, split the signature into k+1 chunks — any
  // pair within distance k has all its differing bits confined to at most
  // k chunks, so it agrees EXACTLY on at least one chunk.
  private val SimhashBits = 48
  private val HammingK    = 1
  private val NBands      = HammingK + 1          // 2 chunks
  private val BandBits    = SimhashBits / NBands  // of 24 bits each
  private val BandMask    = (1L << BandBits) - 1

  /** SimHash near-dup, banded (the scale path). Same result set as
    * [[simhashNearDup]] — pigeonhole guarantees no recall loss at
    * Hamming <= [[HammingK]] — but the pair step is an equi-join on
    * (band, 24-bit chunk) instead of an N² cross join: candidate count
    * tracks duplicate-clique size, not corpus², so it survives 100 TB
    * (measured candidates ∝ dups: SCALE_r14.json `simhash_banded_cand`).
    * Candidates are then Hamming-verified exactly. */
  def simhashBandedDup(spark: SparkSession, dir: String): DataFrame =
    simhashBandedCandidates(spark, Tables.documents(spark, dir))
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= HammingK)
      .select("a_id", "b_id", "hamming")
      .orderBy("a_id", "b_id")

  /** Candidate pairs from the banding equi-join — distinct (a_id, b_id)
    * with both signatures, BEFORE Hamming verification. Exposed so
    * the skew-guard spec can count candidates before verification.
    *
    * `maxBucket` is the LSH hot-bucket skew guard: a (band, chunk) bucket
    * holding b docs contributes b²/2 candidate pairs, so one hot chunk
    * value (boilerplate-heavy corpora, or a 50× replica
    * corpus — 324M candidates from replica-saturated buckets, SCALE_r14.json
    * `simhash_banded_cand`) can
    * dominate the whole join. Capping drops ONLY buckets above the
    * threshold (the standard LSH trick: a bucket that large is either
    * boilerplate — near-dup detection on it is meaningless — or must be
    * handled by a dedicated exact pass on that bucket's members). The
    * pigeonhole recall guarantee then holds for every pair not entirely
    * confined to dropped buckets. Default None = exact (the oracled
    * query's setting). */
  def simhashBandedCandidates(spark: SparkSession, docs: DataFrame,
      maxBucket: Option[Int] = None): DataFrame = {
    // one signature row per doc, consumed by both join sides
    val sh = DedupOps.simhash48(spark, docs).materializeOnce
    val banded0 = sh
      .select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(NBands - 1))).as("band"))
      .withColumn("chunk",
        expr(s"(simhash >> (band * $BandBits)) & $BandMask"))
    val banded = maxBucket match {
      case None => banded0
      case Some(cap) =>
        // one aggregate over the banded rows; the anti-join drops hot
        // buckets from BOTH join sides in a single pass
        val hot = banded0.groupBy(col("band"), col("chunk"))
          .agg(count(lit(1)).as("n")).filter(col("n") > cap)
          .select(col("band"), col("chunk"))
        banded0.join(hot, Seq("band", "chunk"), "left_anti")
    }
    val a = banded.select(col("doc_id").as("a_id"), col("simhash").as("ha"),
      col("band"), col("chunk"))
    val b = banded.select(col("doc_id").as("b_id"), col("simhash").as("hb"),
      col("band"), col("chunk"))
    a.join(b, Seq("band", "chunk"))
      .filter(col("a_id") < col("b_id"))
      // a pair with Hamming 0 in both chunks matches in both bands
      .select("a_id", "b_id", "ha", "hb").distinct()
  }

  private val simhashBandedDupSql: String =
    s"""WITH $toksCte,
       |tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS t FROM toks),
       |th AS (SELECT doc_id, CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) AS h60 FROM tok),
       |bits AS (
       |  SELECT doc_id, j,
       |         sum(CASE WHEN (h60 // CAST(pow(2, j) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM th JOIN (SELECT unnest(range(0, 48)) AS j) jt ON TRUE
       |  GROUP BY doc_id, j),
       |sh2 AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN s >= 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, simhash, band,
       |         (simhash >> CAST(band * $BandBits AS INT)) & $BandMask AS chunk
       |  FROM sh2 CROSS JOIN (SELECT unnest(range(0, $NBands)) AS band) bt),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |                  a.simhash AS ha, b.simhash AS hb
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(ha, hb)) <= $HammingK
       |ORDER BY a_id, b_id""".stripMargin

  /** Winnowing fingerprints (rolling hash over token triples, min per
    * 4-window, distinct) — see DedupOps.winnowFingerprints. */
  def winnowFps(spark: SparkSession, dir: String): DataFrame =
    DedupOps.winnowFingerprints(Tables.documentsWide(spark, dir))
      .orderBy("doc_id", "fp")

  /** Shared winnowing CTE chain (token hashes → rolling triple hashes →
    * 4-window minima → distinct fingerprints per doc), ending in a `fps`
    * relation — the oracle mirror of DedupOps.winnowFingerprints, reused
    * by the fingerprint dump AND the fingerprint-level decontamination. */
  private val winnowCte =
    s"""th AS (
       |  SELECT doc_id,
       |         list_transform(toks, t -> CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) % ${P}) AS th
       |  FROM toks),
       |r AS (
       |  SELECT doc_id,
       |         list_transform(range(1, CAST(len(th) - 1 AS BIGINT)),
       |           i -> ((th[CAST(i AS INT)] * ${B} + th[CAST(i AS INT) + 1]) % ${P} * ${B} + th[CAST(i AS INT) + 2]) % ${P}) AS r
       |  FROM th),
       |w AS (
       |  SELECT doc_id,
       |         CASE WHEN len(r) = 0 THEN []::BIGINT[]
       |              WHEN len(r) < ${WinnowW} THEN [list_min(r)]
       |              ELSE list_transform(range(1, CAST(len(r) - 2 AS BIGINT)),
       |                     i -> least(r[CAST(i AS INT)], r[CAST(i AS INT) + 1],
       |                                r[CAST(i AS INT) + 2], r[CAST(i AS INT) + 3])) END AS wn
       |  FROM r),
       |fps AS (SELECT doc_id, unnest(list_distinct(wn)) AS fp FROM w)""".stripMargin

  private val winnowFpsSql: String =
    s"""WITH $toksCte,
       |$winnowCte
       |SELECT doc_id, fp
       |FROM fps
       |ORDER BY doc_id, fp""".stripMargin

  /** Winnowing window-size sweep — the third tuning report beside
    * [[lshTuningReport]] (bands) and knn_recall_curve (probes): the
    * window w trades fingerprint STORAGE density against the shortest
    * verbatim run winnowing is guaranteed to sample (w+2 tokens). For
    * w ∈ {4, 8, 16}, from ONE rolling-hash build: total rolling hashes,
    * per-doc-distinct fingerprints kept, globally distinct fingerprints,
    * measured density in ppm, and the 2/(w+1) random-hash reference
    * density. A decontamination deployment reads this to size its
    * fingerprint store against its shortest-span detection contract.
    *
    * Scale shape: the rolling build (posexplode + per-doc windows) runs
    * per leg on the same doc-partitioned shape as [[DedupOps
    * .winnowFingerprints]]; counts come from tagged unions → one
    * aggregate per leg, no one-row cross joins. */
  def winnowTuningReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // ONE rolling-hash build (r9): the frame is window-size-independent,
    // so all three sweep legs AND the n_rolling denominator read the
    // same checkpoint instead of re-tokenizing/re-hashing per leg
    val rolled = DedupOps.winnowRolling(docs).materializeOnce
    val rolling = rolled.select(lit(1L).as("nr"))
    val legs = Seq(4, 8, 16).map { w =>
      // per-leg materializeOnce KEPT (r16 A/B): dropping it (the
      // lsh_tuning_report de-checkpoint) measured 1.76→1.99 s — the
      // sliding-min winnow pass is expensive per row and its two
      // consumers do NOT share an exchange, so it recomputed twice
      val fps = DedupOps.winnowFromRolling(rolled, w).materializeOnce
      fps.select(lit(1L).as("kept"), lit(0L).as("gd"), lit(0L).as("nr"))
        .union(fps.select(col("fp")).distinct()
          .select(lit(0L).as("kept"), lit(1L).as("gd"), lit(0L).as("nr")))
        .union(rolling.select(lit(0L).as("kept"), lit(0L).as("gd"), col("nr")))
        .agg(coalesce(sum(col("kept")), lit(0L)).as("n_kept"),
          coalesce(sum(col("gd")), lit(0L)).as("n_global_distinct"),
          coalesce(sum(col("nr")), lit(0L)).as("n_rolling"))
        .select(lit(w.toLong).as("w"), col("n_rolling"), col("n_kept"),
          col("n_global_distinct"))
    }
    legs.reduce(_ union _)
      .withColumn("density_ppm",
        expr("CASE WHEN n_rolling > 0 THEN n_kept * 1000000 div n_rolling ELSE 0 END"))
      .withColumn("theory_ppm", expr("2000000 div (w + 1)"))
      .orderBy("w")
  }

  private val winnowTuningReportSql: String = {
    val legs = Seq(4, 8, 16).map { w =>
      s"""w$w AS (
         |  SELECT doc_id,
         |         CASE WHEN len(r) = 0 THEN []::BIGINT[]
         |              WHEN len(r) < $w THEN [list_min(r)]
         |              ELSE list_transform(range(1, CAST(len(r) - $w + 2 AS BIGINT)),
         |                     i -> list_min(r[CAST(i AS INT):CAST(i + $w - 1 AS INT)])) END AS wn
         |  FROM r),
         |f$w AS (SELECT doc_id, unnest(list_distinct(wn)) AS fp FROM w$w),
         |leg$w AS (
         |  SELECT $w AS w,
         |         (SELECT coalesce(sum(len(r)), 0) FROM r) AS n_rolling,
         |         (SELECT count(*) FROM f$w) AS n_kept,
         |         (SELECT count(DISTINCT fp) FROM f$w) AS n_global_distinct)""".stripMargin
    }.mkString(",\n")
    val unions = Seq(4, 8, 16).map(w => s"SELECT * FROM leg$w").mkString("\nUNION ALL\n")
    s"""WITH $toksCte,
       |th AS (
       |  SELECT doc_id,
       |         list_transform(toks, t -> CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) % ${P}) AS th
       |  FROM toks),
       |r AS (
       |  SELECT doc_id,
       |         list_transform(range(1, CAST(len(th) - 1 AS BIGINT)),
       |           i -> ((th[CAST(i AS INT)] * ${B} + th[CAST(i AS INT) + 1]) % ${P} * ${B} + th[CAST(i AS INT) + 2]) % ${P}) AS r
       |  FROM th),
       |$legs,
       |u AS ($unions)
       |SELECT CAST(w AS BIGINT) AS w,
       |       CAST(n_rolling AS BIGINT) AS n_rolling,
       |       CAST(n_kept AS BIGINT) AS n_kept,
       |       CAST(n_global_distinct AS BIGINT) AS n_global_distinct,
       |       CAST(CASE WHEN n_rolling > 0 THEN n_kept * 1000000 // n_rolling ELSE 0 END AS BIGINT) AS density_ppm,
       |       CAST(2000000 // (w + 1) AS BIGINT) AS theory_ppm
       |FROM u ORDER BY w""".stripMargin
  }

  /** Fingerprint-level decontamination — the substring-robust sibling of
    * [[contaminationContainment]]: winnowing fingerprints (guaranteed to
    * sample any shared run of ≥ WinnowW+2 tokens) replace raw shingles,
    * so a benchmark answer PARAPHRASED AROUND a verbatim span still
    * collides with the train doc that contains the span, while the
    * position-independent distinct-fingerprint sets keep containment a
    * simple integer ratio. Per benchmark doc (the doc_id % 97 eval
    * stand-in): fingerprint count, overlapping corpus docs, max
    * fingerprint containment by any one doc, docs above 50%. Scale shape
    * is the decontamination standard: equi-join on the fingerprint —
    * candidates ∝ shared fingerprints (winnowing keeps ~2/WinnowW of
    * rolling hashes, so the join input is a fixed-density sample of the
    * corpus), never eval × corpus. */
  def winnowContamination(spark: SparkSession, dir: String): DataFrame = {
    val fps = DedupOps.winnowFingerprints(Tables.documentsWide(spark, dir))
      .materializeOnce // feeds the eval side, corpus side and size aggregate
    val isBench = pmod(col("doc_id"), lit(97)) === 0
    val bSize = fps.filter(isBench)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps"))
      .select(col("doc_id").as("b_id"), col("n_fps"))
    val shared = fps.filter(isBench).select(col("doc_id").as("b_id"), col("fp"))
      .join(fps.filter(!isBench).select(col("doc_id").as("c_id"), col("fp")), "fp")
      .groupBy(col("b_id"), col("c_id")).agg(count(lit(1)).as("n_shared"))
    val agg = shared.join(bSize, "b_id")
      .withColumn("containment", col("n_shared").cast("double") / col("n_fps"))
      .groupBy(col("b_id"))
      .agg(
        count(lit(1)).as("n_overlap_docs"),
        max(col("containment")).as("max_c"),
        sum(when(col("containment") >= 0.5, 1L).otherwise(0L)).as("n_high"))
    bSize.join(agg, Seq("b_id"), "left")
      .select(
        col("b_id"), col("n_fps"),
        coalesce(col("n_overlap_docs"), lit(0L)).as("n_overlap_docs"),
        round(coalesce(col("max_c"), lit(0.0)), 6).as("max_containment"),
        coalesce(col("n_high"), lit(0L)).as("n_high_containment"))
      .orderBy("b_id")
  }

  private val winnowContaminationSql: String =
    s"""WITH $toksCte,
       |$winnowCte,
       |bs AS (SELECT doc_id AS b_id, count(*) AS n_fps FROM fps WHERE doc_id % 97 = 0 GROUP BY 1),
       |shared AS (
       |  SELECT b.doc_id AS b_id, c.doc_id AS c_id, count(*) AS n_shared
       |  FROM fps b JOIN fps c ON b.fp = c.fp
       |  WHERE b.doc_id % 97 = 0 AND c.doc_id % 97 <> 0
       |  GROUP BY 1, 2),
       |agg AS (
       |  SELECT shared.b_id, count(*) AS n_overlap,
       |         max(CAST(n_shared AS DOUBLE) / bs.n_fps) AS max_c,
       |         sum(CASE WHEN CAST(n_shared AS DOUBLE) / bs.n_fps >= 0.5 THEN 1 ELSE 0 END) AS n_high
       |  FROM shared JOIN bs ON shared.b_id = bs.b_id
       |  GROUP BY 1)
       |SELECT bs.b_id, CAST(bs.n_fps AS BIGINT) AS n_fps,
       |       CAST(coalesce(agg.n_overlap, 0) AS BIGINT) AS n_overlap_docs,
       |       round(coalesce(agg.max_c, 0.0), 6) AS max_containment,
       |       CAST(coalesce(agg.n_high, 0) AS BIGINT) AS n_high_containment
       |FROM bs LEFT JOIN agg ON bs.b_id = agg.b_id
       |ORDER BY bs.b_id""".stripMargin

  /** Benchmark decontamination: for each "benchmark" document (the
    * doc_id % 97 == 0 subset standing in for an eval set), count corpus
    * documents sharing at least one 3-gram shingle — the n-gram-overlap
    * contamination check run before training. The join is an equi-join
    * on the shingle (same banding-style scale shape as LSH: candidates
    * ∝ shared shingles, never N²); benchmark docs with no overlap (or
    * no shingles) surface with 0 via the left join. */
  def benchmarkContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsWide(spark, dir)
    // materialized PRE-explode: both join sides derive from the shingle
    // computation (tokenize + md5 — the expensive part, and Catalyst does
    // not dedupe common subtrees), but the explode itself is a cheap
    // in-memory fanout — checkpointing the compact per-doc array frame
    // stores ~docs rows instead of ~shingles rows (the r8 eager-
    // checkpoint store pass made the exploded form a 9× bench outlier)
    val sh = DedupOps.docShingles(docs).materializeOnce
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
    val b = ex.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("b_id"), col("s"))
    val c = ex.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      .select(col("doc_id").as("c_id"), col("s"))
    val hits = b.join(c, "s")
      .groupBy(col("b_id"))
      .agg(countDistinct(col("c_id")).as("n_contaminating"))
    docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("b_id"))
      .join(hits, Seq("b_id"), "left")
      .select(col("b_id"), coalesce(col("n_contaminating"), lit(0L)).as("n_contaminating"))
      .orderBy("b_id")
  }

  private val benchmarkContaminationSql: String =
    s"""WITH $toksCte,
       |$shinglesCte,
       |e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |b AS (SELECT doc_id AS b_id, s FROM e WHERE doc_id % 97 = 0),
       |c AS (SELECT doc_id AS c_id, s FROM e WHERE doc_id % 97 <> 0),
       |hits AS (SELECT b_id, count(DISTINCT c_id) AS n FROM b JOIN c USING (s) GROUP BY b_id)
       |SELECT d.doc_id AS b_id, CAST(coalesce(hits.n, 0) AS BIGINT) AS n_contaminating
       |FROM documents d LEFT JOIN hits ON hits.b_id = d.doc_id
       |WHERE d.doc_id % 97 = 0
       |ORDER BY b_id""".stripMargin

  /** Containment-based decontamination — the standard eval-overlap METRIC
    * (|train ∩ eval| / |eval|, asymmetric: right for a small eval set
    * inside a huge train corpus, where Jaccard washes out). Per benchmark
    * doc: its shingle count, the MAX containment by any single corpus
    * doc, and how many corpus docs exceed 50% containment. Same
    * shingle-equi-join scale shape as benchmark_contamination: candidates
    * ∝ shared shingles, never N². The 0.5 threshold compares the raw
    * integer ratio (identical IEEE division both engines). */
  def contaminationContainment(spark: SparkSession, dir: String): DataFrame = {
    val ex = DedupOps.docShingles(Tables.documentsWide(spark, dir))
      // explode_outer + null-filter: see DedupOps.minhashWide
      .select(col("doc_id"), explode_outer(col("shingles")).as("s"))
      .filter(col("s").isNotNull)
      .materializeOnce // feeds the benchmark side, corpus side and size aggregate
    val isBench = pmod(col("doc_id"), lit(97)) === 0
    val bSize = ex.filter(isBench)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      .select(col("doc_id").as("b_id"), col("n_shingles"))
    val shared = ex.filter(isBench).select(col("doc_id").as("b_id"), col("s"))
      .join(ex.filter(!isBench).select(col("doc_id").as("c_id"), col("s")), "s")
      .groupBy(col("b_id"), col("c_id")).agg(count(lit(1)).as("n_shared"))
    val perPair = shared.join(bSize, "b_id")
      .withColumn("containment",
        col("n_shared").cast("double") / col("n_shingles"))
    bSize.join(
        perPair.groupBy(col("b_id")).agg(
          max(col("containment")).as("max_c"),
          sum(when(col("containment") >= 0.5, 1L).otherwise(0L)).as("n_high")),
        Seq("b_id"), "left")
      .select(
        col("b_id"), col("n_shingles"),
        round(coalesce(col("max_c"), lit(0.0)), 6).as("max_containment"),
        coalesce(col("n_high"), lit(0L)).as("n_high_containment"))
      .orderBy("b_id")
  }

  private val contaminationContainmentSql: String =
    s"""WITH $toksCte,
       |$shinglesCte,
       |e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |bs AS (SELECT doc_id AS b_id, count(*) AS n_shingles FROM e WHERE doc_id % 97 = 0 GROUP BY 1),
       |shared AS (
       |  SELECT b.doc_id AS b_id, c.doc_id AS c_id, count(*) AS n_shared
       |  FROM e b JOIN e c ON b.s = c.s
       |  WHERE b.doc_id % 97 = 0 AND c.doc_id % 97 <> 0
       |  GROUP BY 1, 2),
       |pp AS (
       |  SELECT shared.b_id, CAST(n_shared AS DOUBLE) / bs.n_shingles AS containment
       |  FROM shared JOIN bs ON shared.b_id = bs.b_id),
       |agg AS (
       |  SELECT b_id, max(containment) AS max_c,
       |         sum(CASE WHEN containment >= 0.5 THEN 1 ELSE 0 END) AS n_high
       |  FROM pp GROUP BY b_id)
       |SELECT bs.b_id, CAST(bs.n_shingles AS BIGINT) AS n_shingles,
       |       round(coalesce(agg.max_c, 0.0), 6) AS max_containment,
       |       CAST(coalesce(agg.n_high, 0) AS BIGINT) AS n_high_containment
       |FROM bs LEFT JOIN agg ON bs.b_id = agg.b_id
       |ORDER BY bs.b_id""".stripMargin

  /** Ingestion-order novelty — the marginal-contribution signal a data
    * valuation/curation pass ranks sources by: per document, the fraction
    * of its (distinct) shingles never seen in any EARLIER document
    * (first-occurrence = min doc_id over the corpus). Duplicate-heavy or
    * boilerplate docs score ≈0, fresh content ≈1. Aggregate-only shape:
    * because per-doc shingles are DISTINCT (array_distinct in
    * [[DedupOps.shingles]]), "shingles of doc d that first occur in d"
    * equals "first-occurrence rows whose min doc is d" — so instead of
    * joining the full exploded table back to the first-occurrence frame
    * (a shingle-count-sized shuffle join), the query reduces BOTH sides
    * to per-doc counts first (map-side partial agg makes each shuffle
    * ~|docs| rows) and joins the two tiny frames on doc_id. At 100 TB
    * the only shingle-sized shuffle left is the unavoidable
    * groupBy(shingle) min. Docs with no shingles (empty text) have no
    * novelty denominator and are omitted (inner semantics, like
    * doc_lm_score). */
  def docNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsWide(spark, dir)
    val ex = DedupOps.docShingles(docs)
      // explode_outer + null-filter: see DedupOps.minhashWide
      .select(col("doc_id"), explode_outer(col("shingles")).as("s"))
      .filter(col("s").isNotNull)
      .materializeOnce // feeds the denominator aggregate and the first-occurrence pass
    val perDoc = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val novel = ex.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc")).agg(count(lit(1)).as("n_novel"))
      .select(col("first_doc").as("doc_id"), col("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        floor(col("n_novel") * 1e6 / col("n_shingles")) / lit(1e6))
      .orderBy("doc_id")
  }

  private val docNgramNoveltySql: String =
    s"""WITH $toksCte,
       |$shinglesCte,
       |e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |f AS (SELECT s, min(doc_id) AS first_doc FROM e GROUP BY s)
       |SELECT e.doc_id,
       |       count(*) AS n_shingles,
       |       CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |       floor(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) * 1e6 / count(*)) / 1e6 AS novelty
       |FROM e JOIN f ON e.s = f.s
       |GROUP BY e.doc_id
       |ORDER BY e.doc_id""".stripMargin

  /** Estimator-quality report for the MinHash sketch: for every LSH
    * candidate pair, the Jaccard ESTIMATE (fraction of agreeing signature
    * components — what the sketch promises, E[est] = J) next to the exact
    * shingle Jaccard and the absolute error. This is the validation view
    * that justifies trusting the sketch at scales where exact Jaccard is
    * unaffordable. Reuses the candidate-bounded shape of
    * [[minhashLshDups]]: signatures and shingles are re-derived ONLY for
    * candidate docs (semi-join), the signature agreement is an equi-join
    * on (doc, k) — nothing touches corpus×corpus. */
  def minhashJaccardEst(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsWide(spark, dir)
    val cand = DedupOps.lshCandidates(spark, docs).materializeOnce
    val candIds = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    val shCand = DedupOps.docShingles(
      docs.join(candIds, Seq("doc_id"), "left_semi")).materializeOnce
    val mh = DedupOps.minhashFromShingles(spark, shCand)
    val agree = cand
      .join(mh.select(col("doc_id").as("a_id"), col("k"), col("minhash").as("ma")), Seq("a_id"))
      .join(mh.select(col("doc_id").as("b_id"), col("k"), col("minhash").as("mb")), Seq("b_id", "k"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(when(col("ma") === col("mb"), 1).otherwise(0)).cast("int").as("n_match"))
    agree
      .join(shCand.select(col("doc_id").as("a_id"), col("shingles").as("sa")), "a_id")
      .join(shCand.select(col("doc_id").as("b_id"), col("shingles").as("sb")), "b_id")
      .select(
        col("a_id"), col("b_id"), col("n_match"),
        round(col("n_match").cast("double") / DedupOps.NumHashes, 6).as("est_jaccard"),
        round(jaccard(col("sa"), col("sb")), 6).as("exact_jaccard"))
      .withColumn("abs_err", round(abs(col("est_jaccard") - col("exact_jaccard")), 6))
      .orderBy("a_id", "b_id")
  }

  /** Containment ESTIMATED from MinHash signatures — the sketch-scale
    * path for [[docContainmentPairs]], exactly as [[minhashJaccardEst]]
    * is for the Jaccard join: with Ĵ = signature agreement and the two
    * exact set sizes (one integer per doc — cheap to keep next to any
    * signature store), inclusion–exclusion gives
    * |A∩B| ≈ Ĵ·(|A|+|B|)/(1+Ĵ), so Ĉ(A→B) = that over |A| — both
    * directions estimated from ONE signature comparison, clamped to 1.
    * The exact containments and absolute errors ride along per LSH
    * candidate, so the report quantifies whether the sketch suffices
    * before a 100 TB run pays for exact verification.
    *
    * Scale shape: identical to minhashJaccardEst — candidates from
    * banding, signatures and shingles re-derived for candidate docs
    * only. */
  def containmentMinhashEst(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsWide(spark, dir)
    val cand = DedupOps.lshCandidates(spark, docs).materializeOnce
    val candIds = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    val shCand = DedupOps.docShingles(
      docs.join(candIds, Seq("doc_id"), "left_semi")).materializeOnce
    val mh = DedupOps.minhashFromShingles(spark, shCand)
    val agree = cand
      .join(mh.select(col("doc_id").as("a_id"), col("k"), col("minhash").as("ma")), Seq("a_id"))
      .join(mh.select(col("doc_id").as("b_id"), col("k"), col("minhash").as("mb")), Seq("b_id", "k"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(when(col("ma") === col("mb"), 1).otherwise(0)).cast("int").as("n_match"))
    val ej = col("n_match").cast("double") / DedupOps.NumHashes
    val estInter = ej * (col("sza") + col("szb")) / (ej + lit(1.0))
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
    agree
      .join(shCand.select(col("doc_id").as("a_id"), col("shingles").as("sa")), "a_id")
      .join(shCand.select(col("doc_id").as("b_id"), col("shingles").as("sb")), "b_id")
      .withColumn("sza", size(col("sa")).cast("long"))
      .withColumn("szb", size(col("sb")).cast("long"))
      .withColumn("est_cont_a", round(least(lit(1.0), estInter / col("sza")), 6))
      .withColumn("est_cont_b", round(least(lit(1.0), estInter / col("szb")), 6))
      .withColumn("exact_cont_a", round(inter / col("sza"), 6))
      .withColumn("exact_cont_b", round(inter / col("szb"), 6))
      .select(col("a_id"), col("b_id"), col("n_match"), col("sza"), col("szb"),
        col("est_cont_a"), col("exact_cont_a"),
        round(abs(col("est_cont_a") - col("exact_cont_a")), 6).as("err_a"),
        col("est_cont_b"), col("exact_cont_b"),
        round(abs(col("est_cont_b") - col("exact_cont_b")), 6).as("err_b"))
      .orderBy("a_id", "b_id")
  }

  private val containmentMinhashEstSql: String =
    s"""WITH $toksCte,
       |$shinglesCte,
       |$minhashCte,
       |$bandsCandCtes,
       |agree AS (
       |  SELECT c.a_id, c.b_id,
       |         CAST(sum(CASE WHEN ma.minhash = mb.minhash THEN 1 ELSE 0 END) AS INT) AS n_match
       |  FROM cand c
       |  JOIN mh ma ON ma.doc_id = c.a_id
       |  JOIN mh mb ON mb.doc_id = c.b_id AND mb.k = ma.k
       |  GROUP BY 1, 2),
       |f AS (
       |  SELECT e.a_id, e.b_id, e.n_match,
       |         CAST(len(sa.shingles) AS BIGINT) AS sza,
       |         CAST(len(sb.shingles) AS BIGINT) AS szb,
       |         CAST(e.n_match AS DOUBLE) / ${DedupOps.NumHashes} AS ej,
       |         CAST(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE) AS inter
       |  FROM agree e
       |  JOIN sh sa ON sa.doc_id = e.a_id
       |  JOIN sh sb ON sb.doc_id = e.b_id),
       |g AS (
       |  SELECT a_id, b_id, n_match, sza, szb,
       |         ej * (sza + szb) / (ej + 1.0) AS est_inter, inter
       |  FROM f)
       |SELECT a_id, b_id, n_match, sza, szb,
       |       round(least(1.0, est_inter / sza), 6) AS est_cont_a,
       |       round(inter / sza, 6) AS exact_cont_a,
       |       round(abs(round(least(1.0, est_inter / sza), 6) - round(inter / sza, 6)), 6) AS err_a,
       |       round(least(1.0, est_inter / szb), 6) AS est_cont_b,
       |       round(inter / szb, 6) AS exact_cont_b,
       |       round(abs(round(least(1.0, est_inter / szb), 6) - round(inter / szb, 6)), 6) AS err_b
       |FROM g ORDER BY a_id, b_id""".stripMargin

  private val minhashJaccardEstSql: String =
    s"""WITH $toksCte,
       |$shinglesCte,
       |$minhashCte,
       |$bandsCandCtes,
       |agree AS (
       |  SELECT c.a_id, c.b_id,
       |         CAST(sum(CASE WHEN ma.minhash = mb.minhash THEN 1 ELSE 0 END) AS INT) AS n_match
       |  FROM cand c
       |  JOIN mh ma ON ma.doc_id = c.a_id
       |  JOIN mh mb ON mb.doc_id = c.b_id AND mb.k = ma.k
       |  GROUP BY 1, 2),
       |f AS (
       |  SELECT e.a_id, e.b_id, e.n_match,
       |         round(CAST(e.n_match AS DOUBLE) / ${DedupOps.NumHashes}, 6) AS est_jaccard,
       |         round($jaccardExpr, 6) AS exact_jaccard
       |  FROM agree e
       |  JOIN sh sa ON sa.doc_id = e.a_id
       |  JOIN sh sb ON sb.doc_id = e.b_id)
       |SELECT a_id, b_id, n_match, est_jaccard, exact_jaccard,
       |       round(abs(est_jaccard - exact_jaccard), 6) AS abs_err
       |FROM f
       |ORDER BY a_id, b_id""".stripMargin

  /** Incremental (delta-vs-base) exact dedup — the production ingest
    * shape: the corpus already holds a BASE partition (here the stable
    * doc_id % 10 < 8 slice standing in for yesterday's data); a new DELTA
    * batch deduplicates against the base's fingerprint index AND within
    * itself, so the pipeline never rescans base×base. Every delta doc is
    * labeled `dup_of_base` (fingerprint already ingested), `dup_in_delta`
    * (first occurrence wins inside the batch), or `new`. Scale shape:
    * the base side reduces to DISTINCT fingerprints (the dedup index —
    * at 100 TB a bucketed-by-fingerprint table, so this equi-join is
    * co-located and prunes to the delta's buckets); within-delta dedup
    * is one window over the small new batch. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame =
    incrementalDedupFrom(spark, Tables.documents(spark, dir))

  /** Frame-based core of [[incrementalDedup]] —
    * `StreamingExactDedupSpec` drives it over a dup-seeded corpus (the
    * harness documents carry no exact duplicates, which would leave the
    * three-way labeling untested). */
  def incrementalDedupFrom(spark: SparkSession, docsIn: DataFrame): DataFrame = {
    val docs = docsIn
      .withColumn("fingerprint", graft.functions.TextFunctions.fingerprint(col("text")))
    val baseFps = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
      .select(col("fingerprint")).distinct()
      .withColumn("in_base", lit(true))
    val withinDelta = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fingerprint")).orderBy(col("doc_id"))
    docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
      .join(baseFps, Seq("fingerprint"), "left")
      .withColumn("rk", row_number().over(withinDelta))
      .withColumn("status",
        when(col("in_base"), lit("dup_of_base"))
          .when(col("rk") > 1, lit("dup_in_delta"))
          .otherwise(lit("new")))
      .select("doc_id", "fingerprint", "status")
      .orderBy("doc_id")
  }

  private val incrementalDedupSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fingerprint
      |  FROM documents),
      |base AS (SELECT DISTINCT fingerprint FROM d WHERE doc_id % 10 < 8),
      |delta AS (
      |  SELECT doc_id, fingerprint,
      |         row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rk
      |  FROM d WHERE doc_id % 10 >= 8)
      |SELECT delta.doc_id, delta.fingerprint,
      |       CASE WHEN base.fingerprint IS NOT NULL THEN 'dup_of_base'
      |            WHEN rk > 1 THEN 'dup_in_delta'
      |            ELSE 'new' END AS status
      |FROM delta LEFT JOIN base ON delta.fingerprint = base.fingerprint
      |ORDER BY doc_id""".stripMargin

  /** Bloom-filter membership gate for incremental ingest — the
    * constant-memory fast path in front of [[incrementalDedup]]'s exact
    * fingerprint index: the base partition is summarized as a k-hash bit
    * set (k = [[BloomK]] positions per fingerprint in an m = [[BloomM]]
    * array), and each delta doc probes its k positions — all set ⇒
    * POSSIBLE duplicate (verify against the exact index), any clear ⇒
    * DEFINITELY new (skip the index entirely). At 100 TB the bitmap is
    * GBs where the fingerprint index is TBs, so the gate turns most of
    * an ingest batch into pure map-side work; the classic trade is
    * spelled out per doc here: `bloom_hit` vs ground-truth `exact_dup`,
    * with `false_positive` marking the docs the bloom would send to
    * verification needlessly (m is sized SMALL — 2048 bits for ~400 base
    * fingerprints — precisely so the ~10% false-positive regime is
    * visible and oracle-checked; production sizes m to ~10 bits/element
    * for <1%). No false NEGATIVE is possible by construction — the spec
    * and the oracle's `exact_dup ⇒ bloom_hit` rows both pin it.
    *
    * Shape: base → explode k positions → distinct (≤ m rows, broadcast);
    * delta → explode k positions → broadcast-join + per-doc all-set
    * count; one exact-fingerprint left join for the ground truth. The
    * engine-exact positions come from [[DedupOps.h60]] over salted
    * fingerprints. */
  private val BloomM = DedupOps.BloomM
  private val BloomK = DedupOps.BloomK

  def bloomIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("fingerprint",
        graft.functions.TextFunctions.fingerprint(col("text")))
    val posArr = DedupOps.bloomPositions(col("fingerprint"))
    val base = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
    val baseBits = base.select(explode(posArr).as("pos")).distinct()
      .withColumn("is_set", lit(true)) // the bit set: ≤ m rows regardless of corpus size
    val baseFps = base.select(col("fingerprint")).distinct()
      .withColumn("in_base", lit(true))
    val delta = docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
    val hits = delta.select(col("doc_id"), explode(posArr).as("pos"))
      .join(broadcast(baseBits), Seq("pos"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(when(col("is_set"), 1).otherwise(0)).as("n_set"))
    delta.join(hits, Seq("doc_id"))
      .join(baseFps, Seq("fingerprint"), "left")
      .select(col("doc_id"),
        (col("n_set") === BloomK).as("bloom_hit"),
        coalesce(col("in_base"), lit(false)).as("exact_dup"))
      .withColumn("false_positive", col("bloom_hit") && !col("exact_dup"))
      .orderBy("doc_id")
  }

  private val bloomIncrementalDedupSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fingerprint
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, fingerprint,
       |         CAST('0x' || substring(md5(pfx || fingerprint), 1, 15) AS BIGINT) % $BloomM AS pos
       |  FROM d, LATERAL (SELECT unnest(['bf0:', 'bf1:']) AS pfx) u),
       |basebits AS (SELECT DISTINCT pos FROM pos WHERE doc_id % 10 < 8),
       |basefps AS (SELECT DISTINCT fingerprint FROM d WHERE doc_id % 10 < 8),
       |hits AS (
       |  SELECT p.doc_id,
       |         sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_set
       |  FROM pos p LEFT JOIN basebits b ON b.pos = p.pos
       |  WHERE p.doc_id % 10 >= 8
       |  GROUP BY p.doc_id)
       |SELECT d.doc_id,
       |       hits.n_set = $BloomK AS bloom_hit,
       |       basefps.fingerprint IS NOT NULL AS exact_dup,
       |       (hits.n_set = $BloomK) AND basefps.fingerprint IS NULL AS false_positive
       |FROM d
       |JOIN hits ON hits.doc_id = d.doc_id
       |LEFT JOIN basefps ON basefps.fingerprint = d.fingerprint
       |WHERE d.doc_id % 10 >= 8
       |ORDER BY d.doc_id""".stripMargin

  /** ExactSubstr-style duplicated-span profile (the relational form of the
    * suffix-array pass in Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): for every document, the tokens
    * covered by a word [[DupSpanK]]-gram that occurs MORE THAN ONCE in the
    * corpus — in another document or as a self-repeat — merged into
    * maximal duplicated spans. This is the per-document "fraction of text
    * inside a corpus-level duplicate" curation signal that exact-hash and
    * pair-level near-dup queries cannot produce: a doc can be globally
    * unique yet 60% boilerplate.
    *
    * Relational formulation: hash every length-K token window (60-bit
    * [[DedupOps.h60]], identical in the oracle), count occurrences
    * corpus-wide, keep windows whose hash repeats, then merge each doc's
    * duplicated window STARTS into islands — a start within K positions
    * of the previous duplicated start overlaps-or-abuts its span, so it
    * extends the same island; span length = last_start − first_start + K.
    * The covered fraction is emitted as exact BIGINT micro-units
    * (integer `div` — no float anywhere, the source_length_ks lesson).
    *
    * Scale shape: gram build is posexplode + K−1 leads inside a per-doc
    * window (one hash shuffle on doc_id, then narrow); the occurrence
    * count is one aggregate keyed by the 60-bit hash with map-side
    * partials (shuffle rows ∝ distinct grams, not corpus positions); the
    * join-back is a hash semi-join; island numbering is a per-doc
    * partitioned window. No global sort, nothing quadratic — two passes
    * over the token stream, the suffix-array alternative's I/O without
    * the suffix sort. */
  private val DupSpanK = 8

  def docDupSpans(spark: SparkSession, dir: String): DataFrame =
    docDupSpansFrom(spark, Tables.documents(spark, dir))

  /** [[docDupSpans]] over an arbitrary (doc_id, text) frame. */
  def docDupSpansFrom(spark: SparkSession, docs: DataFrame): DataFrame = {
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tok = docs.select(col("doc_id"),
      // posexplode_outer + null-filter: see DedupOps.minhashWide
      posexplode_outer(graft.functions.TextFunctions.tokens(col("text"))).as(Seq("pos", "t")))
      .filter(col("t").isNotNull)
    val leads = (1 until DupSpanK).map(i => lead(col("t"), i).over(byPos).as(s"t$i"))
    val gramCols = col("t") +: (1 until DupSpanK).map(i => col(s"t$i"))
    val grams = tok
      .select(col("doc_id") +: col("pos") +: col("t") +: leads: _*)
      .filter(col(s"t${DupSpanK - 1}").isNotNull) // full windows only
      .select(col("doc_id"), col("pos"), h60(concat_ws(" ", gramCols: _*)).as("h"))
      .materializeOnce // feeds the corpus-wide count AND the join-back
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("h")
    val isl = grams.join(dup, Seq("h"), "left_semi")
      .withColumn("prev", lag(col("pos"), 1).over(byPos))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > DupSpanK, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(byPos))
    val spans = isl.groupBy(col("doc_id"), col("island"))
      .agg((max(col("pos")) - min(col("pos")) + DupSpanK).as("span_len"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("span_len")).as("dup_tokens"))
    docs
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("bigint").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_frac_micro",
        when(col("n_tokens") > 0, expr("dup_tokens * 1000000 div n_tokens"))
          .otherwise(lit(0L)))
      .orderBy("doc_id")
  }

  /** ExactSubstr-style span DELETION — the rewrite step [[docDupSpans]]
    * only profiles (Lee et al. 2022 §3.2 remove ALL BUT ONE occurrence of
    * each duplicated substring): every token covered by a repeated
    * [[DupSpanK]]-gram whose occurrence is NOT the corpus-wide first
    * (first = lexicographic min (doc_id, pos)) is deleted, and the
    * surviving tokens are re-joined into the cleaned text. The globally
    * first copy of each duplicated span survives in place, self-repeats
    * within one document keep only their first window, and a document can
    * come back shorter but never empty-handed: short docs (< K tokens)
    * have no grams and pass through verbatim (modulo whitespace
    * canonicalization — both dialects rebuild from the token stream).
    *
    * Relational formulation: gram build as in [[docDupSpans]]; one
    * aggregate per gram hash takes `min(struct(doc_id, pos))` + count
    * (map-side partials, keys ∝ distinct grams); a hash join back marks
    * every non-first occurrence START; a per-doc RANGE window
    * (`K−1 PRECEDING .. CURRENT`) turns starts into per-token coverage
    * (a token is deleted iff some dup start lies in the K-window ending
    * at it — the island union of [[docDupSpans]] expressed as a running
    * max, no interval self-join); the rebuild is a per-doc aggregate over
    * surviving (pos, token) pairs. Shuffles: doc_id (gram windows +
    * rebuild, AQE-reusable), gram hash (count + join back) — all
    * equi-keyed, nothing quadratic, work ∝ corpus + dup starts. At
    * 100 TB this is the suffix-array deletion pass of
    * deduplicate-text-datasets re-expressed as two hash shuffles. */
  def dedupSpanRewrite(spark: SparkSession, dir: String): DataFrame =
    dedupSpanRewriteFrom(spark, Tables.documents(spark, dir))

  /** [[dedupSpanRewrite]] over an arbitrary (doc_id, text) frame. */
  def dedupSpanRewriteFrom(spark: SparkSession, docs: DataFrame): DataFrame = {
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tok = docs.select(col("doc_id"),
      // posexplode_outer + null-filter: see DedupOps.minhashWide
      posexplode_outer(graft.functions.TextFunctions.tokens(col("text"))).as(Seq("pos", "t")))
      .filter(col("t").isNotNull)
      .materializeOnce // feeds the gram build AND the coverage join-back
    val leads = (1 until DupSpanK).map(i => lead(col("t"), i).over(byPos).as(s"t$i"))
    val gramCols = col("t") +: (1 until DupSpanK).map(i => col(s"t$i"))
    val grams = tok
      .select(col("doc_id") +: col("pos") +: col("t") +: leads: _*)
      .filter(col(s"t${DupSpanK - 1}").isNotNull) // full windows only
      .select(col("doc_id"), col("pos"), h60(concat_ws(" ", gramCols: _*)).as("h"))
      .materializeOnce // feeds the first-occurrence agg AND the mark join
    val firstOcc = grams.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"), count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("h"), col("f"))
    // each (doc_id, pos) carries exactly one gram, so the join yields at
    // most one mark per position — no distinct needed
    val dupStart = grams.join(firstOcc, Seq("h"))
      .filter(struct(col("doc_id"), col("pos")) =!= col("f"))
      .select(col("doc_id"), col("pos"), lit(1).as("st"))
    val coverW = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rangeBetween(-(DupSpanK - 1), 0)
    val kept = tok
      .join(dupStart, Seq("doc_id", "pos"), "left")
      .withColumn("cov", max(col("st")).over(coverW))
      .filter(col("cov").isNull)
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_tokens"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("t")))),
            x => x.getField("t"))).as("text_clean"))
    docs
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("bigint").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L))).as("removed_tokens"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
      .orderBy("doc_id")
  }

  private val dedupSpanRewriteSql: String = {
    val k = DupSpanK
    val leadDefs = (1 until k).map(i => s"lead(t, $i) OVER w AS t$i").mkString(", ")
    val gramArgs = ("t" +: (1 until k).map(i => s"t$i")).mkString(", ")
    s"""WITH $toksCte,
       |tok AS (
       |  SELECT doc_id, CAST(u.pos - 1 AS INT) AS pos, u.t AS t
       |  FROM toks,
       |       LATERAL (SELECT unnest(toks) AS t, generate_subscripts(toks, 1) AS pos) u),
       |g0 AS (
       |  SELECT doc_id, pos, t, $leadDefs
       |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |grams AS (
       |  SELECT doc_id, pos,
       |         CAST('0x' || substring(md5(concat_ws(' ', $gramArgs)), 1, 15) AS BIGINT) AS h
       |  FROM g0 WHERE t${k - 1} IS NOT NULL),
       |occ AS (
       |  SELECT doc_id, pos,
       |         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
       |  FROM grams),
       |covd AS (
       |  SELECT k.doc_id, k.pos, k.t,
       |         max(d.st) OVER (PARTITION BY k.doc_id ORDER BY k.pos
       |                         RANGE BETWEEN ${k - 1} PRECEDING AND CURRENT ROW) AS cov
       |  FROM tok k LEFT JOIN (SELECT doc_id, pos, 1 AS st FROM occ WHERE rn >= 2) d
       |       USING (doc_id, pos)),
       |reb AS (
       |  SELECT doc_id, count(*) AS kept_tokens,
       |         string_agg(t, ' ' ORDER BY pos) AS text_clean
       |  FROM covd WHERE cov IS NULL GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |       CAST(coalesce(r.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       |       CAST(len(t.toks) - coalesce(r.kept_tokens, 0) AS BIGINT) AS removed_tokens,
       |       coalesce(r.text_clean, '') AS text_clean
       |FROM toks t LEFT JOIN reb r USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin
  }

  private val docDupSpansSql: String = {
    val k = DupSpanK
    val leadDefs = (1 until k).map(i => s"lead(t, $i) OVER w AS t$i").mkString(", ")
    val gramArgs = ("t" +: (1 until k).map(i => s"t$i")).mkString(", ")
    s"""WITH $toksCte,
       |tok AS (
       |  SELECT doc_id, CAST(u.pos - 1 AS INT) AS pos, u.t AS t
       |  FROM toks,
       |       LATERAL (SELECT unnest(toks) AS t, generate_subscripts(toks, 1) AS pos) u),
       |g0 AS (
       |  SELECT doc_id, pos, t, $leadDefs
       |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |grams AS (
       |  SELECT doc_id, pos,
       |         CAST('0x' || substring(md5(concat_ws(' ', $gramArgs)), 1, 15) AS BIGINT) AS h
       |  FROM g0 WHERE t${k - 1} IS NOT NULL),
       |dup AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
       |isl AS (
       |  SELECT doc_id, pos,
       |         sum(CASE WHEN prev IS NULL OR pos - prev > $k THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM (SELECT g.doc_id, g.pos,
       |               lag(g.pos) OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS prev
       |        FROM grams g JOIN dup USING (h))),
       |spans AS (
       |  SELECT doc_id, island, max(pos) - min(pos) + $k AS span_len
       |  FROM isl GROUP BY doc_id, island),
       |perdoc AS (
       |  SELECT doc_id, count(*) AS n_dup_spans, sum(span_len) AS dup_tokens
       |  FROM spans GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |       CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       |       CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |       CAST(CASE WHEN len(t.toks) > 0
       |                 THEN coalesce(p.dup_tokens, 0) * 1000000 // len(t.toks)
       |                 ELSE 0 END AS BIGINT) AS dup_frac_micro
       |FROM toks t LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin
  }

  /** Edit-distance near-dup pairs over document TITLES (the leading 40
    * chars) — the record-linkage family member the token-set joins can't
    * cover: Jaccard/MinHash/SimHash all treat "the cat sat" ≡ "sat the
    * cat" and miss single-character corruptions inside tokens (OCR noise,
    * mojibake, truncation), which is exactly what Levenshtein distance
    * measures. The classic ER recipe: BLOCK on the 12-char title prefix,
    * CAP each block at [[ErBlockCap]] members (rank by doc_id — the
    * standard block-size cap of production linkage systems: a mega-block
    * is a non-discriminating key, not a workload), then verify candidate
    * pairs with the O(len²) edit distance only inside blocks and keep
    * lev ≤ 8. Similarity = 1 − lev/40 in ppm (titles are fixed-width by
    * construction, so the normalization is a constant, not a data max).
    *
    * Scale shape: pair volume is ≤ cap²/2 per block by construction
    * (never Σ block², which a hot prefix would blow up); the expensive
    * primitive (levenshtein, codegen'd) runs on candidates only. Both
    * engines implement unit-cost Wagner–Fischer, so the distances agree
    * exactly. */
  def titleEditDups(spark: SparkSession, dir: String): DataFrame = {
    val capped = Tables.documents(spark, dir)
      .select(col("doc_id"), substring(col("text"), 1, 40).as("title"))
      .withColumn("blk", substring(col("title"), 1, 12))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("blk")).orderBy(col("doc_id"))))
      .filter(col("rn") <= ErBlockCap)
      .materializeOnce // both legs of the within-block pair join
    val a = capped.select(col("blk"), col("doc_id").as("doc_a"), col("title").as("title_a"))
    val b = capped.select(col("blk"), col("doc_id").as("doc_b"), col("title").as("title_b"))
    a.join(b, Seq("blk")).filter(col("doc_a") < col("doc_b"))
      .withColumn("lev", levenshtein(col("title_a"), col("title_b")).cast("long"))
      .filter(col("lev") <= 8)
      .select(col("doc_a"), col("doc_b"), col("lev"),
        expr("(40 - lev) * 1000000 div 40").as("sim_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  private val ErBlockCap = 40

  private val titleEditDupsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, substring(text, 1, 40) AS title,
       |         substring(text, 1, 12) AS blk
       |  FROM documents),
       |capped AS (
       |  SELECT doc_id, title, blk,
       |         row_number() OVER (PARTITION BY blk ORDER BY doc_id) AS rn
       |  FROM t QUALIFY rn <= $ErBlockCap),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(levenshtein(a.title, b.title) AS BIGINT) AS lev
       |  FROM capped a JOIN capped b ON b.blk = a.blk AND b.doc_id > a.doc_id)
       |SELECT doc_a, doc_b, lev,
       |       CAST((40 - lev) * 1000000 // 40 AS BIGINT) AS sim_ppm
       |FROM pairs WHERE lev <= 8
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- HyperLogLog cardinality --------------------------------------------

  /** Deterministic HyperLogLog over document texts — the sketch that answers
    * "how many distinct documents" in ONE aggregate pass with 256 registers
    * of state, where an exact count-distinct shuffles every fingerprint.
    * At 100 TB this is the difference between a constant-size partial
    * aggregate (each executor carries 256 bytes of register maxima,
    * map-side combined) and a corpus-wide distinct shuffle; the registered
    * entry ALSO computes the exact count so the estimate's error is part
    * of the oracled output, not a claim.
    *
    * Companion to `distinct_users_hll_union` (AnalyticsQueries), which
    * exercises Spark's NATIVE hll_sketch_agg/union and is oracled only by
    * error BOUND: this entry is the engine-neutral twin whose every
    * register — and the final estimate — is value-oracled in DuckDB.
    * Built engine-neutral instead of Spark's `approx_count_distinct` so
    * the oracle can reproduce it bit-for-bit: h = md5-derived 60-bit
    * integer (DedupOps.h60 — the corpus-wide hash family), register
    * index = h mod 256, rho = leading-zero rank of the remaining 52 bits
    * via `53 - length(bin(rest))` (rest = 0 → 53). The harmonic-mean
    * estimate is EXACT integer arithmetic end-to-end: registers are
    * summed as 2^(53-M_j) (BIGINT, no fractions since M_j <= 53), empty
    * registers contribute 2^53, and alpha_256·m² = 0.7213/(1+1.079/256)
    * ·256² is carried as the exact rational 7213·256³·2^53 /
    * (10000·256+10790) — a 28-digit DECIMAL(38,0) numerator divided with
    * integral `div` (HUGEINT `//` in DuckDB), so both engines floor the
    * same quotient. No DOUBLE and no DecimalType reaches the output
    * (RegistryAuditSpec's type ban). */
  def docsHllCardinality(spark: SparkSession, dir: String): DataFrame = {
    val documents = Tables.documents(spark, dir)
    val docs = documents.select(h60(col("text")).as("h"), col("text"))
    val regs = docs
      .withColumn("idx", pmod(col("h"), lit(256L)))
      .withColumn("rest", expr("h div 256"))
      .withColumn("rho",
        when(col("rest") === 0, lit(53))
          .otherwise(lit(53) - length(bin(col("rest")))))
      .groupBy(col("idx")).agg(max(col("rho")).as("mreg"))
    val s = regs.agg(
      count(lit(1)).as("nonempty"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - mreg)")).as("s_present"))
      .withColumn("s_scaled",
        col("s_present") + (lit(256L) - col("nonempty")) * lit(1L << 53))
      .withColumn("est", expr(
        s"CAST('$HllNumerator' AS DECIMAL(38,0)) div " +
          "(CAST(2570790 AS DECIMAL(38,0)) * s_scaled)"))
    val exact = docs.agg(countDistinct(col("text")).as("exact_distinct"))
    s.crossJoin(exact)
      .select(lit(256L).as("m"), col("nonempty"), col("s_scaled"), col("est"),
        col("exact_distinct"),
        expr("(abs(est - exact_distinct) * 1000000L) div exact_distinct")
          .as("abs_err_ppm"))
  }

  /** alpha_256 · 256² · 2^53 as the exact integer 7213·256³·2^53 (the
    * /10000 of 0.7213 and /(m+0.1079·10) fold into [[HllDenominator]]). */
  private val HllNumerator: String =
    (BigInt(7213) * BigInt(256).pow(3) * BigInt(2).pow(53)).toString
  require(HllNumerator == "1089997742110040029644455936", "HLL constant drift")

  private val docsHllCardinalitySql: String =
    s"""WITH h AS (
       |  SELECT CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS h, text
       |  FROM documents),
       |r AS (
       |  SELECT h % 256 AS idx,
       |         CASE WHEN h // 256 = 0 THEN 53
       |              ELSE 53 - length(bin(h // 256)) END AS rho
       |  FROM h),
       |regs AS (SELECT idx, max(rho) AS mreg FROM r GROUP BY idx),
       |s AS (
       |  SELECT count(*) AS nonempty,
       |         sum(1::BIGINT << (53 - mreg)) AS s_present
       |  FROM regs),
       |e AS (
       |  SELECT nonempty,
       |         CAST(s_present + (256 - nonempty) * (1::BIGINT << 53)
       |              AS BIGINT) AS s_scaled
       |  FROM s),
       |e2 AS (
       |  SELECT nonempty, s_scaled,
       |         CAST(CAST('$HllNumerator' AS HUGEINT)
       |              // (2570790::HUGEINT * s_scaled) AS BIGINT) AS est
       |  FROM e),
       |x AS (SELECT count(DISTINCT text) AS exact_distinct FROM h)
       |SELECT 256::BIGINT AS m, e2.nonempty, e2.s_scaled, e2.est,
       |       x.exact_distinct,
       |       CAST(abs(e2.est - x.exact_distinct) * 1000000
       |            // x.exact_distinct AS BIGINT) AS abs_err_ppm
       |FROM e2, x""".stripMargin

  val queries: Map[String, Q] = Map(
    "docs_hll_cardinality" -> (docsHllCardinality _),
    "title_edit_dups"     -> (titleEditDups _),
    "doc_dup_spans"       -> (docDupSpans _),
    "dedup_span_rewrite"  -> (dedupSpanRewrite _),
    "bloom_incremental_dedup" -> (bloomIncrementalDedup _),
    "incremental_dedup"   -> (incrementalDedup _),
    "minhash_jaccard_est" -> (minhashJaccardEst _),
    "containment_minhash_est" -> (containmentMinhashEst _),
    "doc_ngram_novelty"   -> (docNgramNovelty _),
    "dedup_components"    -> (dedupComponents _),
    "dup_cluster_histogram" -> (dupClusterHistogram _),
    "doc_boilerplate_share" -> (docBoilerplateShare _),
    "dedup_canonical_keep" -> (dedupCanonicalKeep _),
    "sorted_neighbor_dups" -> (sortedNeighborDups _),
    "er_fellegi_sunter"   -> (erFellegiSunter _),
    "snm_multipass_dups"  -> (snmMultipassDups _),
    "contamination_containment" -> (contaminationContainment _),
    "benchmark_contamination" -> (benchmarkContamination _),
    "doc_winnow_fingerprints" -> (winnowFps _),
    "winnow_tuning_report" -> (winnowTuningReport _),
    "winnow_contamination" -> (winnowContamination _),
    "minhash_signatures"  -> (minhashSigs _),
    "minhash_lsh_dups"    -> (minhashLshDups _),
    "source_dedup_crossrate" -> (sourceDedupCrossrate _),
    "jaccard_prefix_join" -> (jaccardPrefixJoin _),
    "lsh_tuning_report"   -> (lshTuningReport _),
    "doc_containment_pairs" -> (docContainmentPairs _),
    "jaccard_prefix_join_capped" -> (jaccardPrefixJoinCapped _),
    "ngram_jaccard_pairs" -> (ngramJaccardPairs _),
    "doc_simhash"         -> (docSimhash _),
    "simhash_near_dup"    -> (simhashNearDup _),
    "simhash_banded_dup"  -> (simhashBandedDup _))

  val oracle: Map[String, String] = Map(
    "docs_hll_cardinality" -> docsHllCardinalitySql,
    "doc_dup_spans"       -> docDupSpansSql,
    "dedup_span_rewrite"  -> dedupSpanRewriteSql,
    "title_edit_dups"     -> titleEditDupsSql,
    "bloom_incremental_dedup" -> bloomIncrementalDedupSql,
    "incremental_dedup"   -> incrementalDedupSql,
    "minhash_jaccard_est" -> minhashJaccardEstSql,
    "containment_minhash_est" -> containmentMinhashEstSql,
    "doc_ngram_novelty"   -> docNgramNoveltySql,
    "dedup_components"    -> dedupComponentsSql,
    "dup_cluster_histogram" -> dupClusterHistogramSql,
    "doc_boilerplate_share" -> docBoilerplateShareSql,
    "dedup_canonical_keep" -> dedupCanonicalKeepSql,
    "sorted_neighbor_dups" -> sortedNeighborDupsSql,
    "er_fellegi_sunter"   -> erFellegiSunterSql,
    "snm_multipass_dups"  -> snmMultipassDupsSql,
    "contamination_containment" -> contaminationContainmentSql,
    "benchmark_contamination" -> benchmarkContaminationSql,
    "doc_winnow_fingerprints" -> winnowFpsSql,
    "winnow_tuning_report" -> winnowTuningReportSql,
    "winnow_contamination" -> winnowContaminationSql,
    "minhash_signatures"  -> minhashSigsSql,
    "minhash_lsh_dups"    -> minhashLshDupsSql,
    "source_dedup_crossrate" -> sourceDedupCrossrateSql,
    "jaccard_prefix_join" -> jaccardPrefixJoinSql,
    "lsh_tuning_report"   -> lshTuningReportSql,
    "doc_containment_pairs" -> docContainmentPairsSql,
    "jaccard_prefix_join_capped" -> jaccardPrefixJoinCappedSql,
    "ngram_jaccard_pairs" -> ngramJaccardPairsSql,
    "doc_simhash"         -> docSimhashSql,
    "simhash_near_dup"    -> simhashNearDupSql,
    "simhash_banded_dup"  -> simhashBandedDupSql)
}
