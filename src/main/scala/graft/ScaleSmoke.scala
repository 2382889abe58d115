package graft

import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** Dev-only scale probe: replicate the documents corpus K× (doc_id
  * offsets, small text perturbation via an id suffix so dedup isn't
  * trivially degenerate) and time the registered operators on it — the
  * empirical check behind the "survives a scale-up" claims in
  * COVERAGE.md. This file holds only feeds and probe names: every probe
  * calls a production entry point (RegistryAuditSpec rejects an inline
  * query pipeline here), and every row goes through [[Recorder]].
  *
  * Usage: `runMain graft.ScaleSmoke [K [probes]]` — K (default 10) is
  * the replica count; `probes` is a comma-separated subset of
  * [[Probes]] (an unknown name fails), so a single probe can be sized at
  * several K without re-running the sweep. Rows append to
  * `SPARK_GRAFT_SCALE_OUT` (see [[Recorder.appendRow]]).
  */
object ScaleSmoke {

  /** Every probe this main can record, in run order (RegistryAuditSpec
    * checks it against the `time("…")` calls below). */
  val Probes: Seq[String] = Seq("shingles", "minhash_wide", "lsh_bands",
    "lsh_candidates", "simhash", "simhash_banded_cand",
    "simhash_banded_capped", "winnow_fps", "rake_phrases", "dup_spans",
    "span_rewrite", "ngram_novelty", "corpus_yield", "token_pmi",
    "snm_candidates", "jaccard_prefix_capped", "containment_pairs",
    "boilerplate_share", "dedup_components", "dedup_cc_only",
    "dedup_canonical_keep", "source_dedup_crossrate", "hll_registers",
    "cms_sketch", "asof_carry", "nearest_bidir", "copurchase_pairs",
    "lpa_modularity", "weighted_median", "ivf_kmeans_refine",
    "kmeans_init", "semantic_dedup", "ivfpq_codes", "knn_inc_recall",
    "ivf_delta_assign", "pca_moment_build", "media_sha_dedup",
    "decode_fanout", "caption_pairs", "cem_att", "kmv_distinct",
    "kmv_overlap", "hist_quantiles", "mann_kendall", "permutation_test")

  /** The K×-replica corpus every scale cell measures (the r14
    * containment stage table in BASELINE.md was profiled on this same
    * frame): doc_id offsets derived from the
    * actual max id (a fixed offset would alias ids and silently shrink
    * the probe on larger corpora), each replica's text perturbed with
    * an id suffix so replicas are near-dups, not exact dups. Callers
    * cache. */
  def replicaCorpus(docs: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val docOff = Option(docs.agg(max(col("doc_id"))).head().get(0))
      .fold(sys.error("empty documents table"))(_.asInstanceOf[Number].longValue) + 1
    (0 until k).map { i =>
      docs.select(
        (col("doc_id") + lit(i.toLong * docOff)).as("doc_id"),
        concat(col("text"), lit(s" replica$i")).as("text"))
    }.reduce(_ unionAll _).repartition(32)
  }

  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val selected = Recorder.select(args.lift(1), Probes)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(32)
    import spark.implicits._

    val docs = graft.sources.Tables.documents(spark, sfDir)
    val n0 = docs.count()
    val scaled = replicaCorpus(docs, k).cache()
    val n = scaled.count()
    println(s"[scale] corpus ${n0} -> $n docs (${k}x)")

    // one row per probe: (probe, k, wall, rows, extra, contention stamp,
    // sf), so the ~linear claims are machine-checkable the way
    // CORRECTNESS/BENCH are. `extra` (e.g. `"passes":3`) is evaluated
    // AFTER the body so the body can surface run observables through a var
    def time(name: String, extra: => String = "")(f: => Long): Unit = {
      if (selected(name)) {
        val (rows, wall, stamp) = Recorder.record(spark, name)(f)
        val ex = { val e = extra; if (e.isEmpty) "" else "," + e }
        println(f"[scale] $name%-22s $wall%8.2f s  ($rows rows)")
        Recorder.appendRow(f"""{"probe":"$name","k":$k,"wall_sec":$wall%.3f,"rows":$rows$ex,${stamp.jsonFields},"sf":"$sfDir"}""")
      }
    }
    // section guard: skip a block's (untimed) scaffolding — corpus
    // replication, index training, feed synthesis — when none of its
    // probes are selected, so a targeted multi-K sweep doesn't pay for
    // tiers it never times
    def needed(names: String*): Boolean = names.exists(selected)
    val sh = DedupOps.docShingles(scaled).cache()
    time("shingles")(sh.count())
    time("minhash_wide")(DedupOps.minhashWide(spark, sh).count())
    time("lsh_bands")(DedupOps.bandsFromShingles(spark, sh).count())
    time("lsh_candidates")(DedupOps.candidatesFromShingles(spark, sh).count())
    time("simhash")(DedupOps.simhash48(spark, scaled).count())
    // banded pair step: candidate count should track dup-clique size (each
    // base doc's K replicas), NOT corpus² — the pigeonhole-banding claim
    time("simhash_banded_cand")(
      graft.queries.DedupQueries.simhashBandedCandidates(spark, scaled).count())
    // the hot-bucket skew guard: replica-saturated chunks make the exact
    // candidate set grow as bucket² (324M pairs / 221 s at 50×); capping
    // buckets at 4× the replica count keeps genuine near-dup buckets while
    // bounding the join
    time("simhash_banded_capped")(
      graft.queries.DedupQueries.simhashBandedCandidates(spark, scaled,
        maxBucket = Some(4 * k)).count())
    time("winnow_fps")(DedupOps.winnowFingerprints(scaled).count())
    // RAKE keyphrases: the posexplode scan and the per-DOC phrase-id
    // window are the only data-sized stages; replicas multiply each
    // phrase's occurrences, not the distinct-phrase set (the replica
    // suffix only perturbs each doc's last phrase), so the vocab frame
    // and the scoring join stay ~flat — wall must track K ~linearly
    time("rake_phrases")(
      graft.queries.TextQueries.docKeyphraseRakeFrom(spark, scaled).count())
    // duplicated-span profiling (mirrors doc_dup_spans): the gram pass is
    // ∝ tokens and the count shuffle ∝ DISTINCT grams — replicas multiply
    // each gram's count, not the distinct-gram set (the replica suffix
    // only perturbs each doc's final window), so wall should track K
    // ~linearly while the span stages stay ∝ duplicated positions
    time("dup_spans")(
      graft.queries.DedupQueries.docDupSpansFrom(spark, scaled).count())
    // span DELETION end-to-end (mirrors dedup_span_rewrite): adds to the
    // dup_spans shape one first-occurrence aggregate keyed by gram hash,
    // one (doc_id, pos) mark join and the per-doc rebuild aggregate — all
    // ∝ corpus (the dup-start set is ∝ duplicated positions), so wall
    // should track dup_spans within a small constant factor
    time("span_rewrite")(
      graft.queries.DedupQueries.dedupSpanRewriteFrom(spark, scaled).count())
    // ingestion-order novelty, aggregate-only shape: per-doc denominators
    // + first-occurrence counts, joined as two doc-sized frames — the only
    // shingle-sized shuffle is the per-shingle min
    time("ngram_novelty")(
      graft.queries.DedupQueries.docNgramNoveltyFrom(scaled).count())

    // corpus-curation capstone funnel (mirrors corpus_yield_report): the
    // r9 fence for the eager-checkpoint adjudication — ONE per-doc
    // shingle-array checkpoint (corpus-sized bytes, same under lazy or
    // eager) feeds LSH candidates, both verify joins and the
    // decontamination explode. The eager flip costs a constant number of
    // extra JOBS per materialization point; this probe proves the cost
    // stays additive as data grows (wall ~linear in K, never a factor)
    time("corpus_yield")(
      graft.queries.PipelineQueries.corpusYieldReportFrom(spark, scaled).count())

    // PMI collocation mining: unigram + shifted-slice pair counts are ∝
    // tokens (map-side explodes, one aggregate each); the scored join is on
    // the pair-vocab frame, which saturates at vocab² regardless of corpus
    // size — wall should track K, not K². rows = the top 20
    time("token_pmi")(
      graft.queries.TextQueries.tokenPmiTopFrom(scaled).count())

    // sorted-neighborhood candidate generation (mirrors sorted_neighbor_dups
    // pre-verify, PRODUCTION numbering): candidates are exactly N·(w−1) by
    // construction, and the global numbering now runs through GlobalWindow's
    // two-phase range-partitioned form — this probe checks the parallel
    // numbering holds its near-linear wall as K grows (the old
    // single-partition window was the one scale-sensitive step)
    time("snm_candidates") {
      graft.queries.DedupQueries.snmCandidates(scaled,
        substring(graft.functions.TextFunctions.normText(col("text")), 1, 40))
        .count()
    }

    // prefix-filtered exact similarity join, hot-bucket capped: the replica
    // corpus saturates shingle buckets (every 3-gram's df multiplies by K,
    // candidates grow as bucket² — the uncapped join OOMs here exactly like
    // uncapped SimHash banding), so the probe runs the production guard.
    // Cap 2K keeps every clique's base-df-1 shingles (their replicated df
    // is exactly K) while dropping the boilerplate head whose buckets grow
    // as (K · base-df)². Replica cliques still qualify (J ≈ 0.85 ≥ τ):
    // verified pairs track cliques × K²/2, never corpus²
    time("jaccard_prefix_capped")(
      graft.queries.DedupQueries.jaccardPrefixJoinFrom(spark, scaled,
        maxBucket = Some(2 * k)).count())

    // asymmetric containment join: candidates bounded by Σ df²_subcap
    // (the df≤64 guard drops replica-saturated shingles here exactly as
    // the prefix join's cap does), verify carries arrays for candidates
    // only — wall must track the candidate volume, never corpus²
    time("containment_pairs")(
      graft.queries.DedupQueries.docContainmentPairsFrom(spark, scaled).count())

    // boilerplate share: one shingle explode -> df aggregate -> join-back;
    // both stages are the novelty/df shapes already probed — wall ~linear
    time("boilerplate_share")(
      graft.queries.DedupQueries.docBoilerplateShareFrom(spark, scaled).count())

    // duplicate-cluster extraction over the verified LSH pairs, END TO
    // END (pair generation + clustering — comparable round-over-round):
    // the r11 pointer-doubling contraction touches the clique-quadratic
    // edge set once per level instead of once per propagation round, so
    // wall tracks the pair VOLUME once, not volume × diameter. `passes`
    // (distributed contraction passes to converge) is emitted in the
    // probe row — renamed from r10/r11's `rounds` because the METRIC'S
    // UNIT changed with the r11 contraction rework (propagation rounds
    // ∝ diameter before; log-flat total passes now) and a cross-round
    // consumer must not compare the two series under one key.
    var ccRounds = -1
    time("dedup_components", s""""passes":$ccRounds""") {
      val pairs = graft.queries.DedupQueries.minhashLshDupsFrom(spark, scaled)
        .select(col("a_id"), col("b_id"))
      val (comp, rounds) =
        DedupOps.connectedComponentsWithRounds(spark, pairs)
      val n = comp.count()
      ccRounds = rounds
      println(s"[scale] dedup_components converged in $rounds passes")
      n
    }

    // clustering step ISOLATED (pairs pre-materialized off the clock):
    // attributes the end-to-end curve — the pair pipeline's candidate
    // volume grows as cliques × K², so this row is the one that must
    // stay ∝ edges (one edge-sized pass + shrinking remainders)
    if (needed("dedup_cc_only")) {
      val pairsMat = graft.queries.DedupQueries.minhashLshDupsFrom(spark, scaled)
        .select(col("a_id"), col("b_id")).localCheckpoint(true)
      val nPairs = pairsMat.count()
      var ccOnlyRounds = -1
      time("dedup_cc_only", s""""passes":$ccOnlyRounds,"edges":$nPairs""") {
        val (comp, rounds) =
          DedupOps.connectedComponentsWithRounds(spark, pairsMat)
        val n = comp.count()
        ccOnlyRounds = rounds
        n
      }
    }

    // document metadata the keeper and attribution queries read: n_chars
    // from the replica text, and 20 hash-assigned sources
    val scaledMeta = scaled.select(col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      concat(lit("src"), pmod(hash(col("doc_id")), lit(20)).cast("string"))
        .as("source"))

    // canonical-keeper selection END-TO-END (pairs → components → keeper
    // window): everything after pair generation is ∝ the dup subset, so
    // the wall should track dedup_components + a dup-sized window
    time("dedup_canonical_keep")(
      graft.queries.DedupQueries.dedupCanonicalKeepFrom(spark, scaled, scaledMeta)
        .count())

    // cross-source dup attribution END-TO-END (pairs → 2 dim joins →
    // enum-keyed aggregate): cost is the LSH pipeline; the attribution
    // adds two dup-sized hash joins + a 20²-group aggregate
    time("source_dedup_crossrate")(
      graft.queries.DedupQueries.sourceDedupCrossrateFrom(spark, scaled, scaledMeta)
        .count())

    // deterministic-sketch tier: both are one-scan aggregates whose
    // shuffle is BOUNDED regardless of corpus size (256 HLL registers /
    // the 4×1024 CMS grid off a vocab-sized count frame) — wall must
    // track K ~linearly with a flat merge tail
    time("hll_registers")(
      graft.queries.DedupQueries.docsHllCardinalityFrom(spark, scaled).count())
    time("cms_sketch")(
      graft.queries.TextQueries.tokenCmsFreqEstFrom(spark, scaled).count())

    // as-of tier: replicate events K× WITHIN each user (event_id offsets,
    // ts jittered +i seconds, users kept) — the deliberately hard case:
    // per-user partitions deepen K×, so the union-tag operator's one
    // chronological sort per user is the only data-sized stage and must
    // stay parallel across users rather than degrade superlinearly
    if (needed("asof_carry", "nearest_bidir")) {
    val evA = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val evAOff = Option(evA.agg(max(col("event_id"))).head().get(0))
      .fold(sys.error(s"empty events table in $sfDir"))(_.asInstanceOf[Number].longValue) + 1
    val evScaled = (0 until k).map { i =>
      evA.select((col("event_id") + lit(i.toLong * evAOff)).as("event_id"),
        (col("ts") + expr(s"INTERVAL $i SECOND")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
    }.reduce(_ unionAll _).repartition(32).cache()
    println(s"[scale] events ${evA.count()} -> ${evScaled.count()} (${k}x per user)")
    // count() alone would let Catalyst prune the window project — filter
    // on the carried column so the carry actually executes
    time("asof_carry")(
      graft.queries.TimeSeriesQueries.errorAsofReadingFrom(spark, evScaled)
        .filter(col("gap_us").isNotNull).count())
    time("nearest_bidir")(
      graft.queries.TimeSeriesQueries.errorNearestReadingFrom(spark, evScaled)
        .filter(col("gap_us").isNotNull).count())
    evScaled.unpersist()
    }

    // relational tier: K× the order baskets through the co-purchase edge
    // build shared by the graph-census queries. Replicated orders multiply
    // each pair's support by K (so the support>=2 edge SET saturates — the
    // claim under test is the pair pass's ~linear time in Σ basket², not
    // the edge count)
    if (needed("copurchase_pairs", "lpa_modularity")) {
    val li0 = graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"))
    val okOff = Option(li0.agg(max(col("l_orderkey"))).head().get(0))
      .fold(sys.error(s"empty lineitem table in $sfDir"))(_.asInstanceOf[Number].longValue) + 1
    val liScaled = (0 until k).map { i =>
      li0.select((col("l_orderkey") + lit(i.toLong * okOff)).as("ok"),
        col("l_partkey").as("pk"))
    }.reduce(_ unionAll _).repartition(32).cache()
    println(s"[scale] baskets ${li0.count()} -> ${liScaled.count()} rows (${k}x)")
    time("copurchase_pairs")(
      graft.queries.AnalyticsQueries.coPurchaseEdgesFrom(spark, liScaled).count())

    // graph tier end-to-end (mirrors part_community_modularity): K×
    // replicated baskets on the FIXED 200-part catalog densify the
    // co-purchase graph toward its 19.9k-edge complete-graph cap, so the
    // probe stresses the per-round node-keyed LPA joins and the label
    // joins under growing edge multiplicity while nodes stay fixed —
    // wall must track the edge-build scan, with the fixed round count
    // keeping the iterative part flat
    time("lpa_modularity") {
      graft.queries.AnalyticsQueries.partCommunityModularityFrom(
        graft.queries.AnalyticsQueries.coPurchaseEdgesFrom(spark, liScaled))
        .count()
    }

    }

    // exact weighted median: the fact collapses to (group, price) DECIMAL
    // weight sums FIRST — one shuffle, the only data-sized stage; prices
    // are perturbed per replica so the collapsed frame grows with K too
    // (the worst case for the windowed half-mass pass)
    if (needed("weighted_median")) {
    val li = graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
    val liK = (0 until k).map { i =>
      li.select(col("l_returnflag"),
        (col("l_extendedprice") + lit(i * 0.01)).as("l_extendedprice"),
        col("l_quantity"))
    }.reduce(_ unionAll _)
    time("weighted_median")(
      graft.queries.AnalyticsQueries.returnflagWeightedMedianFrom(liK).count())
    }

    // vector tier: K× the embeddings corpus through the IVF refine step
    // (broadcast-centroid assignment is map-side — should scale ~linearly)
    if (needed("ivf_kmeans_refine", "kmeans_init", "semantic_dedup",
        "ivfpq_codes", "ivf_delta_assign", "pca_moment_build",
        "media_sha_dedup", "decode_fanout",
        "caption_pairs", "knn_inc_recall")) {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val vecOff = Option(emb.agg(max(col("vec_id"))).head().get(0))
      .fold(sys.error(s"empty embeddings table in $sfDir"))(_.asInstanceOf[Number].longValue) + 1
    val scaledEmb = (0 until k).map { i =>
      emb.select(
        (col("vec_id") + lit(i.toLong * vecOff)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionAll _).repartition(32).cache()
    println(s"[scale] embeddings ${emb.count()} -> ${scaledEmb.count()} (${k}x)")
    time("ivf_kmeans_refine")(
      graft.queries.SimilarityQueries.ivfKmeansRefineFrom(spark, scaledEmb).count())
    // k-means‖ seeding on the K×-scaled corpus: each round is one
    // broadcast-candidates map pass (∝ corpus) + a one-row φ aggregate,
    // and the d²-proportional draw self-normalizes by φ (which grows
    // with N) — so wall must track K ~linearly while the candidate
    // count stays ~1 + l·rounds, NOT ∝ corpus. The emitted row count is
    // the fixed top-K seed set; the probe's claim is in the wall curve.
    time("kmeans_init")(
      graft.queries.SimilarityQueries.kmeansParallelInitFrom(spark, scaledEmb).count())
    // semantic dedup: pair volume must track Σ cluster², not corpus² —
    // replicas are exact dups, so drops should scale ~linearly with K
    time("semantic_dedup")(
      graft.queries.SimilarityQueries.semanticDedupFrom(spark, scaledEmb).count())
    // IVF-PQ index build (residual quantization + codes): row-local
    // assignment against a one-row broadcast codebook + dim×K
    // partial-agg shuffles — ~linear in corpus. The action sums the
    // code arrays' sizes: a bare count() reads no column, so pruning
    // would drop the assignment kernel from the timed plan. rows =
    // N×NSub codes, the row count of the earlier per-(vec,s) figures
    time("ivfpq_codes")(
      graft.queries.SimilarityQueries.ivfPqParts(spark, scaledEmb)._3
        .agg(sum(size(col("codes")))).head().getLong(0))
    // maintenance-recall report end-to-end (mirrors
    // knn_incremental_recall): all four index variants train in ONE
    // variant-keyed Lloyd chain over the K×-scaled corpus — every stage
    // is a broadcast map pass or a (variant × K × dim)-bounded
    // aggregate, so wall must track K ~linearly; |Q| and the report
    // stay fixed
    time("knn_inc_recall")(
      graft.queries.SimilarityQueries.knnIncrementalRecallFrom(
        spark, scaledEmb).count())
    // incremental IVF maintenance: centroids trained on the K×-scaled
    // base OUTSIDE the timed stage (build ∝ corpus, paid once); the
    // timed stage is the maintenance op itself — broadcast-assign a
    // FIXED-size delta (the unscaled embeddings table) to the existing
    // centroids. Wall must track |delta|, i.e. stay ~flat as K grows —
    // the number that justifies calling the index incremental
    if (needed("ivf_delta_assign")) {
    val centInc = graft.queries.SimilarityQueries
      .refinedCentroidsFrom(spark, scaledEmb).cache()
    println(s"[scale] ivf centroids trained on ${k}x base (${centInc.count()} cells, untimed)")
    time("ivf_delta_assign")(
      graft.queries.SimilarityQueries.assignToCentroids(spark, emb, centInc).count())
    centInc.unpersist()
    }
    // PCA moment matrix, the full build (checkpoint + upper-triangle
    // d²-key aggregate + broadcast joins): must stay ~flat as K grows
    // because the shuffle is bounded at d² keys (the r6 bare-aggregate
    // figures are in BASELINE.md)
    time("pca_moment_build")(
      graft.queries.SimilarityQueries.pcaMomentFrom(spark, scaledEmb).count())

    // multimodal tier: real binary blobs (non-UTF-8, varied lengths) at
    // K× the base media count. media_sha_dedup is one digest-keyed
    // shuffle; decode_fanout is the mapPartitions frame sampler — row
    // fan-out ∝ total bytes, no shuffle; caption_pairs is the
    // media⋈embeddings id equi-join — one shuffle each side, ~linear
    val nMedia = n0 * k
    val media = graft.operators.Multimodal.syntheticMedia(spark, nMedia)
      .select(col("media_id"), col("kind"), col("content"),
        struct(lit(64).as("width"), lit(48).as("height"),
          lit(0).as("sample_rate"),
          ceil(octet_length(col("content")).cast("double")
            / graft.operators.Multimodal.FrameBytes).cast("int").as("n_frames"))
          .as("meta"))
      .repartition(32).cache()
    println(s"[scale] media $nMedia blobs (${k}x base corpus count)")
    time("media_sha_dedup")(
      graft.queries.MultimodalQueries.mediaDedupFrom(media).count())
    time("decode_fanout")(
      graft.operators.Multimodal.sampleFrames(
        spark, media.as[graft.operators.Multimodal.MediaRow], everyN = 4).count())
    time("caption_pairs")(
      graft.queries.MultimodalQueries.mediaCaptionPairsFrom(media, scaledEmb).count())

    }

    // causal tier: K× the event feed through the CEM matching shape.
    // event_id/user_id offsets keep replica users DISTINCT (users × K —
    // the worst case for the user-level aggregate, since shared users
    // would collapse); the strata frame is then bounded by the (eb × db)
    // bin GRID regardless of user count — CEM's "matching join" is a
    // grid-sized aggregate plus a one-row broadcast cross, never users² —
    // so wall must track the single user-level shuffle ~linearly in K
    if (needed("cem_att", "kmv_distinct", "kmv_overlap",
        "hist_quantiles", "mann_kendall")) {
    val ev0 = graft.sources.Tables.events(spark, sfDir)
    val uOff = Option(ev0.agg(max(col("user_id"))).head().get(0))
      .fold(sys.error(s"empty events table in $sfDir"))(_.asInstanceOf[Number].longValue) + 1
    val eOff = Option(ev0.agg(max(col("event_id"))).head().get(0))
      .fold(0L)(_.asInstanceOf[Number].longValue) + 1
    val evK = (0 until k).map { i =>
      ev0.select(
        (col("event_id") + lit(i.toLong * eOff)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(i.toLong * uOff)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionAll _).repartition(32)
    println(s"[scale] events ${ev0.count()} -> ${evK.count()} rows (${k}x, distinct users)")
    time("cem_att")(
      graft.queries.ExperimentQueries.cemAttEstimateFrom(spark, evK).count())

    // KMV sketch: same evK feed (distinct users × K) — the distinct
    // collapse is the only data-sized stage; the per-type rank runs on
    // the collapsed frame, and the sketch state is k=128 hashes/group
    time("kmv_distinct")(
      graft.queries.AnalyticsQueries.userKmvDistinctFrom(spark, evK).count())

    // KMV pair overlap: same evK feed — adds the h-keyed exact-anchor
    // self-join (output ∝ users, never users²) on top of the distinct
    // collapse; the sketch-combine stages stay |types|²·128-sized, so
    // wall must track the anchor join ~linearly in K
    time("kmv_overlap")(
      graft.queries.AnalyticsQueries.userKmvOverlapFrom(spark, evK).count())

    // histogram quantile sketch: two map-side-partial scans + bin-frame
    // arithmetic; the exact-anchor GlobalWindow numbering is the only
    // sorted stage — wall must track the feed ~linearly in K with the
    // 256-bin tail flat
    time("hist_quantiles")(
      graft.queries.AnalyticsQueries.valueHistQuantilesFrom(spark, evK).count())

    // robust-series tier: the evScaled-style WITHIN-user replication is
    // the interesting case for the hourly collapse (per-hour counts
    // deepen K×, the CALENDAR does not), so the Mann–Kendall pair join
    // runs on an UNCHANGED hours frame — wall must stay ~flat past the
    // linear first-scan cost however large K grows
    val evMk = (0 until k).map { i =>
      ev0.filter(col("event_type") =!= "error" && col("value").isNotNull)
        .select((col("ts") + expr(s"INTERVAL ${i % 60} SECOND")).as("ts"),
          col("event_type").as("sensor_id"),
          col("value").as("value_numeric"))
    }.reduce(_ unionAll _).repartition(32)
    time("mann_kendall")(
      graft.queries.TimeSeriesQueries.sensorMannKendallFromHours(
        graft.queries.TimeSeriesQueries.hourlyMeansFrom(evMk)).count())

    }

    // permutation test: the 200-seed explode partial-aggregates MAP-SIDE
    // (shuffle carries 200 seed rows of partial sums, not 200×docs), so
    // wall must track the corpus ~linearly — the probe replays the
    // registered shape on the K×-replicated two-source corpus
    val permDocs = scaled.select(col("doc_id"),
      concat(lit("src"), pmod(col("doc_id"), lit(2)).cast("string"))
        .as("source"),
      col("text"))
    time("permutation_test")(
      graft.queries.PipelineQueries.sourcePermutationTestFrom(
        spark, permDocs).count())
    spark.stop()
  }
}
