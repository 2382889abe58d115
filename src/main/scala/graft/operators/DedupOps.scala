package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Near-duplicate detection operators for the training-data-pipeline tier:
  * word-shingling, MinHash signatures + LSH banding, SimHash.
  *
  * Hashing is md5-derived (first 15 hex chars → 60-bit int) so the exact
  * same integer stream is computable in the DuckDB oracle
  * (`CAST('0x'||substring(md5(s),1,15) AS BIGINT)`) — every stage of the
  * pipeline stays hash-verifiable, not just the final pair list.
  *
  * Scale shape: shingling/hashing are map-only; MinHash aggregation
  * shuffles (doc, seed) partials; LSH banding shuffles one small row per
  * (doc, band); the candidate join is an equi-join on (band, band_key) —
  * the O(N²) all-pairs comparison never materializes. That is the plan
  * that survives 100 TB; the all-pairs forms exist only as test-scale
  * recall baselines.
  */
object DedupOps {

  /** Mersenne prime 2^31−1: universal-hash modulus. */
  val P: Long = 2147483647L

  val NumHashes = 12
  val BandRows = 3 // 4 bands × 3 rows

  /** Seeded (a, b) pairs for the universal hash family
    * h_k(x) = (a_k·x + b_k) mod P — identical literals on both engines. */
  val seeds: Seq[(Int, Long, Long)] = {
    val rnd = new java.util.Random(7)
    (0 until NumHashes).map { k =>
      (k, (rnd.nextInt((P - 1).toInt) + 1).toLong, rnd.nextInt(P.toInt).toLong)
    }
  }

  /** 60-bit base hash of a string, shared with the oracle. */
  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  // ---- Bloom ingest gate — ONE definition of (m, k, positions) shared
  // by the batch registry entry (DedupQueries.bloomIncrementalDedup) and
  // the streaming leg (graft.streaming.BloomGate), so the two gates can
  // never drift apart.
  val BloomM = 2048L
  val BloomK = 2

  /** The k Bloom bit positions of a fingerprint — engine-exact
    * ([[h60]] over salted fingerprints, mod [[BloomM]]). */
  def bloomPositions(fp: Column): Column =
    array((0 until BloomK).map { j =>
      pmod(h60(concat(lit(s"bf$j:"), fp)), lit(BloomM))
    }: _*)

  def h31(c: Column): Column = h60(c) % P

  /** Distinct word 3-gram shingles; docs with 1–2 tokens fall back to a
    * single whole-text shingle, empty docs to an empty set.
    *
    * Built by zipping the token array with its two shifted copies and
    * concatenating element-wise — a linear streamed pass. The indexed
    * alternatives (`transform(sequence(...), i -> element_at/slice)`)
    * measured 5–10× slower at sf0.1: per-index array access inside an
    * interpreted HOF lambda pays bounds-checking and O(len) copies.
    * zip_with pads the shorter shifted arrays with null; concat
    * null-propagates, and the filter drops the two null tail grams.
    */
  def shingles(toks: Column, n: Int = 3): Column = {
    require(n == 3, "word-shingle builder is specialized to 3-grams")
    val b = slice(toks, lit(2), greatest(size(toks) - 1, lit(0)))
    val c = slice(toks, lit(3), greatest(size(toks) - 2, lit(0)))
    val grams = filter(
      zip_with(zip_with(toks, b, (x, y) => concat(x, lit(" "), y)), c,
        (xy, z) => concat(xy, lit(" "), z)),
      g => g.isNotNull)
    array_distinct(
      when(size(toks) >= n, grams)
        .when(size(toks) > 0, array(concat_ws(" ", toks)))
        .otherwise(array().cast("array<string>")))
  }

  /** (doc_id, shingles) for every document. */
  def docShingles(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      shingles(TextFunctions.tokens(col("text"))).as("shingles"))

  /** Wide MinHash signatures: one row per doc with columns mh0..mh{K-1}.
    *
    * All K universal hashes are aggregated in ONE pass over the shingle
    * rows — K `min` aggregates with map-side partial aggregation, one
    * shuffle keyed by doc_id only. The seed-join formulation (explode ×K
    * then groupBy (doc, k)) moves K× the rows through the shuffle for the
    * same result. */
  def minhashWide(spark: SparkSession, sh: DataFrame): DataFrame = {
    val mins = seeds.map { case (k, a, b) =>
      min((lit(a) * col("h31") + lit(b)) % P).as(s"mh$k")
    }
    sh
      // explode_outer + null-filter, NOT explode (r15, guide §4 "expressions
      // in the hot path"): on a bare explode Catalyst's
      // InferFiltersFromGenerate synthesizes `size(e)>0 AND isnotnull(e)`
      // below the Generate and predicate pushdown re-substitutes the FULL
      // shingle expression into both conjuncts at the scan — the
      // tokenize+shingle pipeline, the most expensive map work in the
      // dedup family, ran ~3x per row (twice in the pushed filter, once
      // in the projection; measured in the r15 stage profile). The rule
      // skips OUTER generators; empty/null arrays emit one null element
      // row that the cheap post-filter drops, so the row set is identical
      // (shingle elements are non-null by construction).
      .select(col("doc_id"), explode_outer(col("shingles")).as("s"))
      .filter(col("s").isNotNull)
      .withColumn("h31", h31(col("s")))
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
  }

  /** MinHash signatures from a (doc_id, shingles) frame, flat (doc_id, k,
    * minhash) — unpivoted from the wide form. Callers that reuse the
    * shingle frame should cache it and use this overload. */
  def minhashFromShingles(spark: SparkSession, sh: DataFrame): DataFrame = {
    val stackExpr = seeds.map { case (k, _, _) => s"$k, mh$k" }.mkString(", ")
    minhashWide(spark, sh)
      .select(col("doc_id"),
        expr(s"stack($NumHashes, $stackExpr) AS (k, minhash)"))
  }

  /** MinHash signatures, flat: (doc_id, k, minhash). One shuffle on
    * (doc_id, k) with map-side partial min. */
  def minhashSignatures(spark: SparkSession, docs: DataFrame): DataFrame =
    minhashFromShingles(spark, docShingles(docs))

  /** LSH bands: (doc_id, band, band_key) where band_key fingerprints the
    * band's minhash run in k-order — built straight from the wide
    * signature row (no second shuffle, no collect_list). */
  def bandsFromShingles(spark: SparkSession, sh: DataFrame): DataFrame = {
    val nBands = NumHashes / BandRows
    val bandStructs = (0 until nBands).map { b =>
      val keyCols = (0 until BandRows).map(r => col(s"mh${b * BandRows + r}").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws("_", keyCols: _*)).as("band_key"))
    }
    minhashWide(spark, sh)
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Candidate pairs: same (band, band_key) in any band, deduplicated.
    *
    * `maxBucket` is the same hot-bucket skew guard as the banded SimHash
    * join (see DedupQueries.simhashBandedCandidates): a band bucket of b
    * docs contributes b²/2 pairs, and an exact-duplicate or boilerplate
    * clique lands ALL its members in the same bucket of every band.
    * Capping drops only over-cap buckets (route those to an exact-dedup
    * pass on the bucket members — they are exact or near-exact copies by
    * construction); None = exact, the oracled queries' setting. */
  def candidatesFromShingles(spark: SparkSession, sh: DataFrame,
      maxBucket: Option[Int] = None): DataFrame = {
    val b = maxBucket match {
      case None => bandsFromShingles(spark, sh)
      case Some(cap) =>
        // materialize the banded rows once: they feed the hot-bucket
        // aggregate, the anti-join probe, AND both pair-join sides —
        // un-materialized, the shingle-explode + 128-min pipeline would
        // run four times (the guard's whole point is saving wall time)
        val b0 = bandsFromShingles(spark, sh).localCheckpoint(true)
        val hot = b0.groupBy(col("band"), col("band_key"))
          .agg(count(lit(1)).as("n")).filter(col("n") > cap)
          .select(col("band"), col("band_key"))
        b0.join(hot, Seq("band", "band_key"), "left_anti")
    }
    val l = b.select(col("doc_id").as("a_id"), col("band"), col("band_key"))
    val r = b.select(col("doc_id").as("b_id"), col("band"), col("band_key"))
    l.join(r, Seq("band", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  def lshCandidates(spark: SparkSession, docs: DataFrame,
      maxBucket: Option[Int] = None): DataFrame =
    candidatesFromShingles(spark, docShingles(docs), maxBucket)

  /** Exact Jaccard over distinct shingle sets (sizes only — order-free). */
  def jaccard(sa: Column, sb: Column): Column = {
    val i = size(array_intersect(sa, sb)).cast("double")
    i / (size(sa) + size(sb) - i)
  }

  /** Rolling-hash base for winnowing fingerprints. */
  val B: Long = 1000003L
  /** Winnowing window (fingerprints = min rolling hash per window). */
  val WinnowW = 4

  /** Document fingerprints via token-level rolling hash + winnowing:
    * r_i = ((h(t_i)·B + h(t_{i+1})) mod P · B + h(t_{i+2})) mod P over
    * consecutive token triples, then the distinct minima of each
    * `WinnowW`-length window of the rolling sequence — the classic
    * winnowing selection, giving a small position-robust fingerprint set
    * per document. All arithmetic stays in BIGINT and is mirrored
    * literally in the DuckDB oracle. Output: (doc_id, fp) exploded.
    */
  def winnowFingerprints(docs: DataFrame, w: Int = WinnowW): DataFrame =
    winnowFromRolling(winnowRolling(docs), w)

  /** The WINDOW-SIZE-INDEPENDENT rolling-hash frame (doc_id, pos, r) —
    * tokenize + md5 + the two lead() shifts happen here, once; every
    * window size w selects from the same frame via [[winnowFromRolling]]
    * (the winnow tuning sweep materializes this once for all its legs).
    *
    * Relational formulation: posexplode + codegen'd hash projection +
    * lead/min analytic windows. The array-lambda formulation (hashing
    * every token inside interpreted HOFs) measured ~25× slower at sf0.1
    * — md5/conv per element in interpreted mode dominates. */
  def winnowRolling(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    docs.select(col("doc_id"),
        // posexplode_outer + null-filter: see minhashWide — a bare
        // posexplode re-evaluates tokens(text) twice in the inferred
        // pushed-down filter (token elements are non-null by construction)
        posexplode_outer(TextFunctions.tokens(col("text"))).as(Seq("pos", "t")))
      .filter(col("t").isNotNull)
      .withColumn("h", pmod(h60(col("t")), lit(P)))
      .withColumn("h1", lead(col("h"), 1).over(byPos))
      .withColumn("h2", lead(col("h"), 2).over(byPos))
      .filter(col("h2").isNotNull)
      .withColumn("r", pmod(pmod(col("h") * B + col("h1"), lit(P)) * B + col("h2"), lit(P)))
      .select(col("doc_id"), col("pos"), col("r"))
  }

  /** Winnowing selection at window size w over a [[winnowRolling]] frame:
    * the distinct minima of each w-length window of the rolling
    * sequence. */
  def winnowFromRolling(rolled: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    rolled
      .withColumn("w", min(col("r")).over(byPos.rowsBetween(0, w - 1)))
      .withColumn("rn", row_number().over(byPos))
      .withColumn("m", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      // keep only full windows; docs with < w rolling hashes keep
      // their single global min (the frame at rn=1 spans the whole doc)
      .filter(col("rn") <= greatest(col("m") - (w - 1), lit(1)))
      .select(col("doc_id"), col("w").as("fp")).distinct()
  }

  /** SimHash (48-bit): per-token 60-bit hashes vote ±1 on each of 48 bit
    * positions; the sign vector packs into a BIGINT.
    *
    * Formulated as ONE aggregate with 48 conditional-sum expressions over
    * the token rows (K-way aggregate fan-out), not a 48× row-multiplying
    * explode of bit positions — the explode form shuffles 48× the rows
    * through two aggregates for the same result (measured slower at
    * sf0.1, and linearly worse with corpus size). Bit masks are literal
    * BIGINTs, so the whole vote/pack path stays in codegen. */
  def simhash48(spark: SparkSession, docs: DataFrame): DataFrame = {
    val votes = (0 until 48).map { j =>
      sum(when(expr(s"(h60 div ${1L << j}L) % 2") === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val pack = (0 until 48).map { j =>
      when(col(s"s$j") >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    docs
      .select(col("doc_id"),
        explode(array_distinct(TextFunctions.tokens(col("text")))).as("t"))
      .withColumn("h60", h60(col("t")))
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), pack.cast("long").as("simhash"))
  }

  /** Connected components over an undirected edge list — the clustering
    * step a production dedup pipeline runs AFTER pair generation: near-dup
    * pairs form a graph, each connected component is one duplicate
    * cluster, and the component id (the cluster's minimum doc id) picks
    * the canonical representative deterministically.
    *
    * Pointer-doubling CONTRACTION (the r11 rework; min-label propagation
    * before): each level builds the min-neighbor parent forest
    * P(u) = min(Γ(u) ∪ {u}) with ONE edge-sized aggregate, compresses it
    * to its roots by pointer halving (P ← P∘P — NODE-sized self-joins,
    * O(log depth) of them), then CONTRACTS the edge set onto the roots
    * and recurses on the (much smaller) remainder graph. Why this shape:
    * min-label propagation rescans the FULL edge set every round for
    * diameter rounds — and a near-dup edge set is quadratic in clique
    * size (K replicas of one doc contribute K²/2 verified pairs), so at
    * 50× replication the old loop paid the K²-sized join 4-5 times over
    * (the steepest r10 scale curve, 4.25× wall over 5× data; BASELINE.md).
    * Contraction touches the edge set ONCE per level, cliques collapse
    * to their minimum in level one, and every later pass runs on frames
    * that shrink geometrically (each non-root merges, so levels halve
    * the node count; halving doubles pointer depth per step) — O(log n)
    * distributed passes in the worst case instead of O(diameter)
    * edge-sized ones. Same fixed point as min-label propagation: the
    * component min m has P(m) = m at every level, every label is a node
    * of the same component, so the composed mapping sends each node to
    * its component minimum. `localCheckpoint` after every pass truncates
    * the iterative lineage (the classic iterative-DataFrame trap).
    *
    * @param edges (a_id, b_id) pairs, undirected
    * @param maxIters cap on DISTRIBUTED PASSES (level aggregates +
    *   halving joins + contractions summed) — a loud-failure backstop,
    *   not a tuning knob; real dup graphs finish in ≤ ~8
    * @return (doc_id, component_id) for every node in the edge list
    */
  def connectedComponents(spark: SparkSession, edges: DataFrame, maxIters: Int = 40): DataFrame =
    connectedComponentsWithRounds(spark, edges, maxIters)._1

  /** [[connectedComponents]] plus the number of distributed passes it
    * took to converge — the scale-behavior observable (passes grow
    * log-, not linearly, in component diameter; SCALE_r14.json's
    * `dedup_components` rows record it per K). */
  def connectedComponentsWithRounds(
      spark: SparkSession, edges: DataFrame, maxIters: Int = 40): (DataFrame, Int) = {
    // materialize the caller's edge frame ONCE: it is typically the tail
    // of an expensive pair pipeline (LSH verify joins), and the scans
    // below would otherwise re-evaluate it (the old min-label loop's
    // sym.cache() served the same purpose)
    val edgesMat = edges.select(col("a_id"), col("b_id")).localCheckpoint(true)
    // level-0 edge view: canonicalized, self-loops dropped, NOT deduped
    // and NOT materialized — the parent-forest min aggregate is
    // duplicate-insensitive and the view is map-side over the checkpoint,
    // so a distinct here would be a pure extra edge-sized shuffle
    // (contracted levels DO dedupe: contraction multiplies edges)
    var e = edgesMat
      .select(least(col("a_id"), col("b_id")).as("u"),
        greatest(col("a_id"), col("b_id")).as("v"))
      .filter(col("u") =!= col("v"))
    var rounds = 0
    def spend(): Unit = {
      rounds += 1
      // exiting via the cap would silently emit non-minimal labels (one
      // real cluster split into several, each with its own is_kept pick)
      // — fail loudly instead
      if (rounds > maxIters)
        sys.error(s"connectedComponents did not converge in $maxIters passes " +
          "(pathological graph shape) — raise maxIters")
    }
    var mappings = List.empty[DataFrame] // level mappings, latest first
    while (!e.isEmpty) {
      // parent forest: P(u) = min(Γ(u) ∪ {u}) — the one edge-sized pass
      spend()
      val sym = e.select(col("u").as("node"), col("v").as("nbr"))
        .unionAll(e.select(col("v").as("node"), col("u").as("nbr")))
      var p = sym.groupBy(col("node")).agg(min(col("nbr")).as("mn"))
        .select(col("node"), least(col("mn"), col("node")).as("root"))
        .localCheckpoint(true)
      // pointer halving to forest roots: root ← root(root) until stable
      // (node-sized self-joins; tree depth halves per step). Total join:
      // every root value is itself a node of this level's node set.
      var halved = false
      while (!halved) {
        spend()
        val step = p
          .join(p.select(col("node").as("root"), col("root").as("root2")),
            Seq("root"))
          .localCheckpoint(true)
        halved = step.filter(col("root") =!= col("root2")).isEmpty
        p = step.select(col("node"), col("root2").as("root"))
      }
      mappings = p :: mappings
      // contract edges onto the roots; the remainder graph shrinks
      // geometrically (every non-root node merged into its root)
      spend()
      e = e
        .join(p.select(col("node").as("u"), col("root").as("ru")), "u")
        .join(p.select(col("node").as("v"), col("root").as("rv")), "v")
        .select(least(col("ru"), col("rv")).as("u"),
          greatest(col("ru"), col("rv")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct().localCheckpoint(true)
    }
    // compose the level mappings bottom-up. The level-1 forest's domain
    // IS the node set of every non-self-loop edge (so no separate
    // node-set distinct is ever shuffled); a node isolated at some later
    // level (no row in the next mapping) is already its component's
    // root. Nodes appearing ONLY in self-loops never enter level 1 and
    // are their own components — appended from a (typically empty)
    // anti-joined scan.
    var labels = mappings.reverse match {
      case Nil =>
        // no non-self-loop edge at all: every endpoint is its own root
        edgesMat.select(col("a_id").as("node"))
          .unionAll(edgesMat.select(col("b_id").as("node")))
          .distinct().select(col("node"), col("node").as("comp"))
      case l1 :: rest =>
        var lab = l1.select(col("node"), col("root").as("comp"))
        rest.foreach { m =>
          lab = lab
            .join(m.select(col("node").as("comp"), col("root")), Seq("comp"), "left")
            .select(col("node"), coalesce(col("root"), col("comp")).as("comp"))
        }
        val selfOnly = edgesMat.filter(col("a_id") === col("b_id"))
          .select(col("a_id").as("node")).distinct()
          .join(l1.select(col("node")), Seq("node"), "left_anti")
        lab.unionAll(selfOnly.select(col("node"), col("node").as("comp")))
    }
    labels = labels.localCheckpoint(true)
    (labels.select(col("node").as("doc_id"), col("comp").as("component_id")), rounds)
  }
}
