package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Registry-wide invariants, enforced over EVERY registered query:
  * the whole surface stays UDF-free (codegen-able), and the oracle map
  * cannot reference a query that doesn't exist. */
class RegistryAuditSpec extends AnyFunSuite with SparkSpec {

  /** Plan-string audits must see THROUGH materialization points: a
    * localCheckpoint boundary prints as an opaque `Scan ExistingRDD`,
    * hiding everything upstream of it (a product or UDF introduced in an
    * index-build stage would escape the walk). `graft.materialize=off`
    * makes the query builders skip the checkpoint so the full plan is
    * audited; the hygiene test below clears it to exercise the real
    * materializing form. */
  private def withFullPlans[A](body: => A): A = {
    sys.props("graft.materialize") = "off"
    try body finally sys.props.remove("graft.materialize")
  }

  /** Everything the plan audits below need, gathered in ONE walk per
    * query (analysis + physical planning, PLUS one execution — see
    * below): the audit suite used to re-plan all ~300 registry entries
    * once per test — five walks — and dominated the suite wall; the
    * assertions are unchanged, they just read from this shared pass. */
  private case class PlanFacts(
      scalaUdfs: Boolean,
      decimalCols: Seq[String],
      globalWindowSort: Boolean,
      execPlan: String,
      digestLine: String)

  private lazy val planFacts: Map[String, PlanFacts] = withFullPlans {
    val dir = "/root/testdata/sf0.001"
    // the digest compare below must see the same plans PlanShape's fresh
    // session saw — an InMemoryRelation left cached by an earlier suite
    // would swap a scan subtree for an InMemoryTableScan
    spark.catalog.clearCache()
    // The walk is PARALLEL (r10): ~320 plan builds are driver-side
    // Catalyst work plus a few queries' build-time probe jobs, and ran
    // 285 s sequentially — half the suite wall. Catalyst planning is
    // thread-safe on a shared session, and no cross-thread cache
    // contamination is possible: the only build-time caches live under
    // build-unique localCheckpoint RDDs, so no two builds' subtrees
    // canonicalize equal. Digests stay deterministic (PlanShape
    // parallelizes identically).
    //
    // Since r12 this is also the suite's EXECUTION + storage-hygiene
    // walk: each task builds + digests the audit form, then rebuilds and
    // count()s the REAL materializing form (MaterializeMode.withReal —
    // a thread-local flip, so concurrent tasks' digests stay in audit
    // form) — the exact builds and executions the two separate ≥40 s
    // walks used to do, in ONE pool pass whose planning-heavy and
    // execution-heavy halves overlap across threads. Executing the
    // audit form instead was tried and measured MINUTES over the
    // registry: every materializeOnce build frame re-evaluates per
    // consumer without its checkpoint.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    // the determinism argument above is an invariant on the BUILDERS (no
    // session-conf mutation, no cache left pinned at build time) — snap
    // the confs the digests depend on so a violating builder fails HERE,
    // named, instead of surfacing as a flaky digest-currency diff
    val watchedConfs = Seq(
      "spark.sql.shuffle.partitions",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled",
      "spark.sql.session.timeZone")
    val confsBefore = watchedConfs.map(k => k -> spark.conf.getOption(k))
    val facts = try {
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          Registry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
            scala.concurrent.Future(computeFacts(name, fn, dir))
          }),
        scala.concurrent.duration.Duration(20, "min"))
    } finally pool.shutdown()
    val confsAfter = watchedConfs.map(k => k -> spark.conf.getOption(k))
    assert(confsAfter === confsBefore,
      "a query builder mutated session conf during the plan walk — " +
        "digests are nondeterministic until it stops")
    // build-time AND execution-time caches must be transient
    // (connectedComponents unpersists its edge frame before returning);
    // one left pinned would let the cache manager swap
    // InMemoryTableScans into OTHER threads' digests. On failure the
    // pinning test below re-runs sequentially to NAME the offender.
    assert(spark.sharedState.cacheManager.isEmpty,
      "a query left a frame cached (build or execution) — the " +
        "'no registered query pins catalog storage' test names it")
    facts.toMap
  }

  private def computeFacts(name: String, fn: Registry.Q,
      dir: String): (String, PlanFacts) = {
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    MaterializeCounter.reset()
    val df = fn(spark, dir)
    val matPoints = MaterializeCounter.value
    val matSigs = MaterializeCounter.scanSignatures
    val qe = df.queryExecution
      val udfs = qe.optimizedPlan.flatMap(_.expressions).flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
      })
      val sorts = qe.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty && w.orderSpec.nonEmpty => w
      }
      val decimals = df.schema.fields.collect {
        case f if f.dataType
          .isInstanceOf[org.apache.spark.sql.types.DecimalType] => f.name
      }.toSeq
    val facts = PlanFacts(udfs.nonEmpty, decimals, sorts.nonEmpty,
      qe.executedPlan.toString,
      graft.plans.PlanDigest.toJsonLine(name,
        graft.plans.PlanDigest.digest(df, matSigs)
          .copy(materializePoints = matPoints)))
    // the merged pin + execution-smoke leg (r12): rebuild and run the
    // REAL materializing form on this thread — identical builds and
    // executions to the former standalone pinning walk
    MaterializeMode.withReal { fn(spark, dir).count() }
    name -> facts
  }

  private val plansArtifact = graft.plans.PlanDiff.CurrentArtifact

  // Round-over-round plan REGRESSIONS (a broadcast flipping to SMJ, an
  // exchange creeping in, a pushdown lost) were invisible in the
  // committed artifacts until r10 — PLANS_r{N}.json records each query's
  // physical-plan digest, and this test keeps it CURRENT: any plan
  // change without a `runMain graft.PlanShape` regeneration in the same
  // commit fails the build.
  test(s"$plansArtifact is current with every registered query's plan") {
    val path = java.nio.file.Paths.get(plansArtifact)
    assert(java.nio.file.Files.exists(path),
      s"$plansArtifact missing — run `sbt \"runMain graft.PlanShape\"`")
    val committed = scala.jdk.CollectionConverters
      .ListHasAsScala(java.nio.file.Files.readAllLines(path)).asScala
      .filter(_.nonEmpty)
      .map { l =>
        val name = """"query":"([^"]+)"""".r
          .findFirstMatchIn(l).map(_.group(1)).getOrElse("?")
        name -> l
      }.toMap
    assert(committed.keySet === Registry.queries.keySet,
      "artifact query set differs from the registry — regenerate")
    val stale = planFacts.toSeq.sortBy(_._1).collect {
      case (name, f) if committed(name) != f.digestLine =>
        s"$name:\n  committed: ${committed(name)}\n  actual:    ${f.digestLine}"
    }
    assert(stale.isEmpty,
      s"stale plan digests (run `sbt \"runMain graft.PlanShape\"`):\n${stale.mkString("\n")}")
  }

  // The cross-round plan-diff GATE (r11): the currency test above pins
  // the current artifact to live plans; these two pin the round-over-
  // round DIFF — a plan regression vs the previous round (exchange creep,
  // join-strategy flip, lost pushdown) fails the build unless it is
  // whitelisted in PlanDiff.whitelist with a written reason, and the
  // committed PLANS_DIFF artifact must match the two committed digest
  // files (run `runMain graft.PlanDiff` after PlanShape).
  test("no unexplained plan regressions vs the previous round's artifact") {
    import graft.plans.PlanDiff
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(PlanDiff.PreviousArtifact)),
      s"${PlanDiff.PreviousArtifact} missing — the previous round's digests are the baseline")
    val report = PlanDiff.computeReport()
    val bad = report.unexplained.map { qd =>
      val cs = qd.changes.filter(_.regression)
        .map(c => s"${c.field}: ${c.old} -> ${c.now}").mkString("; ")
      s"${qd.query} ($cs)"
    }
    assert(bad.isEmpty,
      "plan regressions vs the previous round without a whitelist reason:\n" +
        bad.mkString("\n"))
  }

  // a whitelist entry licenses ONE round's intentional change; one left
  // behind after the plan stabilizes would silently license a FUTURE
  // regression of that query — fail loudly instead
  test("every plan-diff whitelist entry names a query that changed this round") {
    import graft.plans.PlanDiff
    val changed = PlanDiff.computeReport().changed.map(_.query).toSet
    val stale = PlanDiff.whitelist.keySet.filterNot(changed)
    assert(stale.isEmpty,
      s"stale PlanDiff.whitelist entries (plans no longer differ): $stale")
  }

  test(s"${graft.plans.PlanDiff.DiffArtifact} is current with the committed digests") {
    import graft.plans.PlanDiff
    val path = java.nio.file.Paths.get(PlanDiff.DiffArtifact)
    assert(java.nio.file.Files.exists(path),
      s"${PlanDiff.DiffArtifact} missing — run `sbt \"runMain graft.PlanDiff\"`")
    val committed = new String(java.nio.file.Files.readAllBytes(path),
      java.nio.charset.StandardCharsets.UTF_8).trim
    assert(committed === PlanDiff.toJson(PlanDiff.computeReport()),
      s"stale ${PlanDiff.DiffArtifact} — run `sbt \"runMain graft.PlanDiff\"`")
  }

  test("every oracle entry has a registered query") {
    val orphans = Registry.oracle.keySet -- Registry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  // the human-facing query counts drifted three rounds running (r3–r5
  // VERDICTs): pin them to the code, so a registry change that forgets
  // the docs FAILS THE BUILD instead of shipping stale numbers
  test("README/MIGRATION query counts match the registry") {
    val n = Registry.queries.size
    val checks = Seq(
      "README.md" -> """(\d+) registered queries""".r,
      "MIGRATION.md" -> """(\d+) oracle-verified batch queries""".r)
    checks.foreach { case (file, re) =>
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(file)), java.nio.charset.StandardCharsets.UTF_8)
      val found = re.findFirstMatchIn(text).map(_.group(1).toInt)
      assert(found.contains(n),
        s"$file states ${found.getOrElse("no count of")} queries; " +
          s"Registry.queries.size is $n — update the doc in the same commit")
    }
  }

  /** Every main-tree source file: (path under src/main/scala, text). */
  private def mainSources: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    scala.util.Using.resource(java.nio.file.Files.walk(root)) {
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).map { p =>
        root.relativize(p).toString -> new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
      }.toSeq.sortBy(_._1)
    }
  }

  // One session builder: every main and SparkSpec go through
  // graft.Sessions, so the PlanShape ↔ test-session conf match that the
  // currency test above relies on is one function, not a comment.
  test("SparkSession.builder appears under src/main/scala only in Sessions.scala") {
    val builders = mainSources.collect { case (p, src) if src.contains("SparkSession.builder") => p }
    assert(builders === Seq("graft/Sessions.scala"))
  }

  // The runnable surface is the driver pair (Bench, Verify) and the plan
  // and profile tools; perfbench is the measurement tool. A dev main
  // beside them is code no gate runs (the retired ScaleSmoke and
  // StreamBench figures live in SCALE_r14.json and BASELINE.md).
  test("the objects under src/main/scala that define main are the five tools") {
    val mains = mainSources.flatMap { case (_, src) =>
      val code = "(?m)//.*$".r.replaceAllIn("(?s)/\\*.*?\\*/".r.replaceAllIn(src, ""), "")
      // each main belongs to the nearest object declared above it
      val objects = "(?m)^\\s*(?:private(?:\\[\\w+\\])?\\s+|case\\s+)*object\\s+(\\w+)".r
        .findAllMatchIn(code).map(m => m.start -> m.group(1)).toSeq
      "\\bdef\\s+main\\s*\\(".r.findAllMatchIn(code).map { m =>
        objects.filter(_._1 < m.start).lastOption.fold("<none>")(_._2)
      }
    }.toSet
    assert(mains === Set("Bench", "Verify", "PlanShape", "PlanDiff", "QueryProf"))
  }

  // One IVF core: the assignment order (rounded cosine desc, then
  // c_label) lives only in SimilarityQueries.rankCentroids and the
  // centroid-array pack only in SimilarityQueries.centroids, so a query
  // that copies either convention instead of calling the helper fails
  // here. The DuckDB oracle strings (triple-quoted) and comments are
  // excluded; whitespace is ignored.
  test("SimilarityQueries ranks and packs centroids only in its IVF core helpers") {
    val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      "src/main/scala/graft/queries/SimilarityQueries.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    val code = "(?s)/\\*.*?\\*/".r.replaceAllIn(
      "(?s)\"\"\".*?\"\"\"".r.replaceAllIn(src, ""), "")
    // each def's text runs to the next def; code before the first is "<object>"
    val starts = "\\bdef\\s+(\\w+)".r.findAllMatchIn(code).map(m => m.start -> m.group(1)).toSeq
    val blocks = ((0 -> "<object>") +: starts).zip(starts.map(_._1) :+ code.length)
      .map { case ((from, name), to) => name -> code.substring(from, to).replaceAll("\\s", "") }
    def owners(pattern: String): Seq[String] = blocks.flatMap { case (name, body) =>
      Seq.fill(body.sliding(pattern.length).count(_ == pattern))(name)
    }
    assert(owners("col(\"c_sim\").desc") === Seq("rankCentroids"))
    assert(owners("collect_list(struct(col(\"pos\"),col(\"cv\")))") === Seq("centroids"))
  }

  // One spelling per engine for each shared feature: the tokenizer,
  // stopword list and quality signals (TextFunctions), the hashed
  // classifier, the co-purchase graph and LPA rounds, the IVF centroids
  // and brute-force truth, and the hourly means each have one Spark
  // definition and one DuckDB fragment that the oracles splice in. Each
  // signature below may occur only in its home file, as often as the
  // home spells it. Unlike the IVF-core check this reads string literals
  // too (the DuckDB mirrors ARE strings); whitespace and stripMargin
  // bars at line starts are ignored, so a re-inlined copy split over
  // lines still matches.
  test("each shared feature is spelled once per engine under queries and functions") {
    val text = "functions/TextFunctions.scala"
    val tq = "queries/TextQueries.scala"
    val aq = "queries/AnalyticsQueries.scala"
    val sq = "queries/SimilarityQueries.scala"
    val ts = "queries/TimeSeriesQueries.scala"
    val homes = Seq(
      "string_split_regex(trim(" -> (text, 1), // tokenizer mirror
      "|| chr(9) ||" -> (text, 1), // its whitespace set
      "s\"'$w'\"" -> (text, 1), // stopword list literal
      "'[^a-z]', '', 'g')" -> (text, 1), // alpha ratio mirror
      "stopwordCount(" -> (text, 2), // its def and stopwordRatio
      "/ 50.0)" -> (text, 2), // quality score, Spark and SQL
      "2654435761" -> (tq, 2), // classifier weight, Spark and SQL
      "exp(score * -4)" -> (tq, 2), // classifier sigmoid, Spark and SQL
      "l_partkey AS pk FROM lineitem" -> (aq, 1), // baskets mirror
      "a.pk AS src, b.pk AS dst" -> (aq, 1), // co-purchase edge mirror
      "ORDER BY c DESC, nl" -> (aq, 1), // LPA round mirror
      "round(avg(u.v), 6) AS cv" -> (sq, 1), // IVF centroid mirror
      "bp AS (" -> (sq, 1), // brute-force top-k truth mirror
      "AS DOUBLE) / count(*), 6) AS x" -> (ts, 1), // hourly series mirror
      "round(col(\"s1d\").cast(\"double\") / col(\"n\"), 6).as(\"x\")" -> (ts, 1))
    def squash(src: String): String = src.replaceAll("\n[ \t]*\\|", "").replaceAll("\\s", "")
    val files = mainSources.collect {
      case (p, src) if p.startsWith("graft/queries/") || p.startsWith("graft/functions/") =>
        p.stripPrefix("graft/") -> squash(src)
    }
    val offenders = homes.flatMap { case (sig, home) =>
      val needle = squash(sig)
      val found = files.map { case (p, src) =>
        p -> Iterator.iterate(src.indexOf(needle))(i => src.indexOf(needle, i + 1))
          .takeWhile(_ >= 0).size
      }.filter(_._2 > 0)
      if (found == Seq(home)) None else Some(s"$sig: expected ${home._2} in ${home._1}, found $found")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the shared test session carries Bench's confs at 4 cores") {
    import org.apache.spark.sql.functions.{col, pow}
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    // GraftExtensions: the three native functions and the
    // StrengthReduction optimizer rule (pow(x, 2) -> x * x)
    Seq("graft_dot", "graft_pq_assign", "graft_zorder").foreach { f =>
      assert(spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(f)), s"$f not registered")
    }
    val plan = spark.range(1).select(pow(col("id"), 2.0).as("y"))
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("pow"), s"StrengthReduction not installed:\n$plan")
  }

  // Scala UDFs print as `UDF(...)`, NOT `ScalaUDF`, in plan strings — a
  // string grep is vacuous — so this walk collects actual ScalaUDF
  // expression instances from the optimized plan. The one deliberate
  // exception: token_heavy_hitters_cms deserializes the CMS sketch for
  // its 20 anchor rows via a UDF (driver-scale, not a hot path — the
  // sketch itself is built by the codegen'd count_min_sketch aggregate).
  private val scalaUdfAllowed = Set("token_heavy_hitters_cms")

  test("no UDF expressions in any registered query plan") {
    val offenders = planFacts.toSeq.sortBy(_._1).collect {
      case (name, f)
          if (f.scalaUdfs && !scalaUdfAllowed(name)) ||
            f.execPlan.contains("BatchEvalPython") => name
    }
    assert(offenders.isEmpty, s"UDF nodes in: $offenders")
  }

  // The r4–r6 recurring disease, banned structurally: a DECIMAL output
  // column is value-correct but HASH-RED — the driver's canonicalizer
  // renders decimals differently from the DuckDB oracle rendering even
  // when every cell is equal (r6: sensor_dft_power, source_length_emd,
  // source_length_mwu — all cell-exact, all hash-mismatched). Decimals
  // are fine as ACCUMULATORS mid-plan; the final schema must re-emit
  // them as BIGINT (loud ANSI-cast range assert) or as an exact hi/lo
  // BIGINT split when the value genuinely exceeds 2⁶³ (dft power).
  test("no DecimalType column in any registered query's output schema") {
    val offenders = planFacts.toSeq.sortBy(_._1).collect {
      case (name, f) if f.decimalCols.nonEmpty =>
        s"$name(${f.decimalCols.mkString(",")})"
    }
    assert(offenders.isEmpty,
      s"DECIMAL output columns (re-emit as BIGINT or hi/lo split): $offenders")
  }

  test("the UDF walk actually sees ScalaUDF expressions") {
    // guards the audit above against going vacuous again: a frame with a
    // known UDF must be caught by the same collect
    import org.apache.spark.sql.functions.{col, udf}
    val canary = udf((x: Long) => x + 1)
    val plan = spark.range(3).select(canary(col("id")).as("y"))
      .queryExecution.optimizedPlan
    val seen = plan.flatMap(_.expressions).flatMap(_.collect {
      case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
    })
    assert(seen.nonEmpty, "ScalaUDF canary not detected — audit is vacuous")
  }

  // A Window with an empty PARTITION BY but a non-empty ORDER BY plans a
  // single-task global sort — every row through one thread, the classic
  // 100 TB wall. Data-sized frames must go through GlobalWindow's
  // two-phase range-partitioned numbering instead; the names below are
  // the reviewed exceptions whose windowed frame is BOUNDED by
  // construction (post-aggregate frames that cannot grow with the fact
  // data), so the single-partition sort is over a handful of rows at
  // any SF.
  private val globalWindowSortAllowed = Map(
    "nation_revenue_share" -> "25-row nation aggregate",
    "orders_mom_growth"    -> "month frame — dozens of rows at any SF",
    "orders_skyline"       -> "phase-2 frontier over bucket-pruned survivors (documented two-phase skyline)",
    "hybrid_rrf"           -> "RRF text leg — rank over the top-20 BM25 frame, bounded by the upstream limit",
    "orders_bootstrap_ci"  -> "rank over the 20-row replicate-mean frame",
    "user_survival_curve"  -> "reverse cumsum over the calendar-bounded day frame",
    "orders_hill_tail"     -> "rank over the top-101 frame (post-TakeOrdered)",
    "unigram_lm_segment"   -> "piece-vocab rank over the ~300-row substring-candidate frame",
    "unigram_em_counts"    -> "same piece-vocab rank (shared unigram builder)",
    "ab_sprt_daily"        -> "cumulative LLR walk over the calendar-bounded day frame",
    "heaps_law_fit"        -> "cumulative sums over the 10-row decile checkpoint frame",
    "value_hist_quantiles" -> "cumsum over the ≤256-row histogram-bin frame",
    "orders_median_of_means" -> "rank over the 32-row fixed-bucket mean frame",
    "classifier_lift_table" -> "cumsum over the 10-row decile frame",
    "source_unimax_alloc" -> "rank + prefix sums over the ~20-row source frame")

  test("no unpartitioned window sort outside the bounded-frame allowlist") {
    val offenders = planFacts.toSeq.sortBy(_._1).collect {
      case (name, f)
          if f.globalWindowSort && !globalWindowSortAllowed.contains(name) =>
        name
    }
    assert(offenders.isEmpty, s"unpartitioned window sorts in: $offenders")
  }

  // the labeled O(const²) recall baselines are the ONLY queries allowed
  // to plan an all-pairs product, and each is BOUNDED to a fixed id range
  // so the pair count is a constant, not corpus²  (near_dup_pairs:
  // vec_id < 1200; ngram_jaccard_pairs: doc_id < 150; simhash_near_dup:
  // doc_id < 1500). Their scale paths are the LSH/banded variants;
  // everything else planning a product is a regression.
  private val allPairsBaselines =
    Set("near_dup_pairs", "ngram_jaccard_pairs", "simhash_near_dup")

  // A BroadcastNestedLoopJoin is only acceptable when the broadcast side
  // is bounded by construction — a scalar/stats aggregate, a fixed query
  // or centroid set, a generated time spine, or a top-k frame. Each name
  // below was reviewed for exactly that; a NEW query planning a BNLJ must
  // be reviewed and added here deliberately, or it fails the audit.
  private val broadcastCrossAllowed = Set(
    // scalar/global-stats frame joined onto every row
    "customer_rfm", "data_quality_report", "distinct_users_hll_union",
    "token_heavy_hitters_cms", // one-row (sketch, n_total) frame × top-20 anchors
    "doc_length_outliers", "doc_lm_score", "label_psi",
    "nation_revenue_share", "orders_winsorized", "region_acctbal_ttest",
    "source_temperature_weights", "supplier_pareto",
    "source_weighted_sample", // one-row corpus-total and Z frames × the 20-source rate table
    "source_epoch_schedule", // one-row total-tokens and Z frames × sources
    "source_length_ks",      // 20-row source dim × pooled value grid (ECDF evaluation points)
    "source_length_mwu",     // same 20-row source dim × pooled value grid as the KS matrix
    "source_length_emd",     // same 20-row source dim × pooled value grid (Wasserstein leg)
    "orders_bootstrap_ci",   // 20-row replicate dim × the scan; one-row full-estimate frame
    "user_survival_curve",   // one-row observation-end frame × per-user lifespans
    "brier_decomposition",   // one-row global-moment frame × the 10-row bin frame
    "orders_hill_tail",      // one-row threshold frame × the top-101 frame
    "part_kcore",            // one-row convergence-probe frame × core members
    "unigram_lm_segment",    // one-row piece-total frame × the piece vocabulary
    "unigram_em_counts",     // same one-row piece-total frame (shared builder)
    "attribution_markov_removal", // one-row base-reach frame × the 4-channel rows
    "cem_att_estimate",      // one-row pruned-counts frame × the one-row matched frame
    "cuped_adjusted_lift",   // one-row global-moment frame × two one-row arm frames
    "source_permutation_test", // one-row observed-stat frame × the 200-row seed frame
    "orders_did_estimate",   // four one-row cell frames of the 4-cell pivot
    "docs_hll_cardinality",  // one-row register-sum frame × one-row exact-count frame
    "lang_temperature_mix",  // one-row corpus-total frame × the language dim
    "ab_sprt_daily",         // one-row first-crossing frame × the day walk
    "source_js_divergence",  // same 20-row source dim × token-vocab grid (the JS pair matrix)
    "embedding_pca_power",   // one-row n and trace frames × the 4096-row moment matrix / 64-row component
    "embedding_pca_two",     // same one-row n/trace frames, plus one-row den/dot deflation scalars × the 64-row iterate
    "doc_dsir_weights",      // one-row bigram-total frame × the 512-bucket histogram
    "sensor_acf",            // 6-row broadcast lag frame × hours-sized series
    "sensor_cross_correlation", // 7-row broadcast lag frame × the hourly frame
    "sensor_ljung_box",      // same 6-row lag frame (shared lagProducts builder)
    "layout_skipping_gain",  // one-row max-key frame; 32-file stats × 10 probes
    "value_hist_quantiles",  // one-row min/max/count frame × the scan and × the bin frame
    "part_community_modularity", // one-row m and global-sum frames × the community frame
    "customer_tcloseness",   // one-row table-total frame × the (class, seg) frame
    "customer_rr_histogram", // one-row table-total frame × the 5-segment histogram
    "score_temperature_fit", // one-row NLL-min frame × the 9-row temperature grid
    // fixed query-vector / anchor set (|Q| constant, corpus streamed once)
    "knn_brute", "knn_filtered", "hard_negatives", "event_type_distances",
    "embedding_mrl_recall", // same fixed 10-query anchor set as knn_brute, 4 truncations in one pass
    "media_clip_retrieval",
    "knn_mmr_rerank", // knn_brute candidate scan; greedy rounds on |Q|·k² frames
    "coreset_kcenter", // one-row pick frame × corpus per Gonzalez round
    "corpus_interleave", // |S|²-row source-dim triangle join + one-row |S| frame
    // broadcast centroid / codebook frames (K constant)
    "ivf_kmeans_refine", "knn_ivf", "knn_ivf_filtered", "knn_ivf_probe2",
    "knn_ivf_refined", "knn_ivf_incremental", "knn_recall_curve",
    "knn_ndcg", // same fixed-|Q| brute anchor + broadcast-centroid sweep as the recall curve
    // same fixed-|Q| anchor scan + broadcast centroid frame, plus the
    // 3-row selectivity dim broadcast onto the scored pairs
    "knn_filtered_recall",
    // same fixed-|Q| anchor + broadcast centroid frames (one per delta
    // fraction + the rebuild), plus one-row hit/total frames crossed
    // onto the 3-row report
    "knn_incremental_recall",
    "knn_ivfpq", "semantic_dedup", "embedding_outliers",
    "embedding_cluster_quality", // same broadcast refined-centroid frame, rn <= 2

    "knn_ivfpq_rerank", // same bounded centroid-probe frame as knn_ivfpq (shared ADC pipeline)
    // BM25 corpus-stats / RRF fusion constants
    "doc_bm25_top", "hybrid_rrf",
    "bpe_merges_k", // one-row merge-rule frame × the vocabulary state, once per round
    "bpe_apply",    // same one-row merge-rule frame per round, then a broadcast vocab-sized segmentation map
    "token_pmi_top", // one-row token-total and pair-total frames × scored pairs
    "bigram_kneser_ney",  // one-row bigram-type-total frame × the scored bigram frame
    "token_burstiness",   // one-row doc-total frame × the vocab frame
    "heaps_law_fit",      // one-row max-doc-id frame × the token stream (decile arithmetic)
    "orders_benford",        // one-row total frame × the 9-digit histogram
    "sensor_dft_power",      // 4-row harmonic dim × the hours-sized series
    "calibration_isotonic",  // PAV minimax joins over the 10-row bin frame
    // generated hourly spine × small station dim
    "sensor_hourly_spine",
    // bounded pair stage (Σ basket², measured linear to 50×: SCALE_r14.json `copurchase_pairs`)
    "part_pair_lift", "part_triangles",
    // same pair stage as part_pair_lift; the broadcast side is the
    // one-row n_orders frame crossed onto the rule aggregate
    "part_assoc_rules",
    // one-row (n_types, v2) LM-total frame crossed onto the held-out
    // bigram stream
    "doc_kn_perplexity",
    // broadcast candidate/φ frames: the build side starts as a limit(1)
    // seed and grows only by the hash-threshold draws (expected ≤
    // oversample·rounds rows, ≤ 1+3·8 here); the per-round φ frame is
    // one row. Bound-in-plan verified by the dedicated test below.
    "kmeans_parallel_init")

  test("no all-pairs product outside the labeled bounded baselines") {
    val offenders = planFacts.toSeq.sortBy(_._1).collect {
      case (name, f)
          if (f.execPlan.contains("CartesianProduct") &&
            !allPairsBaselines(name)) ||
            (f.execPlan.contains("BroadcastNestedLoopJoin") &&
              !broadcastCrossAllowed(name) && !allPairsBaselines(name)) =>
        name
    }
    assert(offenders.isEmpty, s"unbroadcast all-pairs plans in: $offenders")
  }

  // registered queries materialize self-join build frames via
  // localCheckpoint (eager, see QueryConventions), never cache(): blocks are
  // reclaimed by the ContextCleaner once the result frame is GC'd, while
  // catalog-cached frames stay pinned until someone calls clearCache —
  // a long-lived session must not depend on that.
  // Since r12 the 320 executions ride the SHARED planFacts walk (each
  // task count()s the df it digested — one walk instead of two ≥40 s
  // passes over the same plans; form-equivalence argued at the walk).
  // The green path is the walk's end-of-pass empty-cache assertion; this
  // test re-checks it and, on a leak, runs the slow sequential walk to
  // NAME the offender.
  test("no registered query pins catalog storage after materialization") {
    val dir = "/root/testdata/sf0.001"
    planFacts // the shared walk executed every query on this session
    if (!spark.sharedState.cacheManager.isEmpty) {
      spark.catalog.clearCache()
      val offenders = Registry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          fn(spark, dir).count()
          if (spark.sharedState.cacheManager.isEmpty) None
          else { spark.catalog.clearCache(); Some(name) }
      }
      fail(s"queries leaving pinned storage: $offenders")
    }
  }

  // the allowlist above is only a license for a bounded product — verify
  // the bound is actually in the plan, so nobody can quietly widen a
  // baseline back to corpus²
  test("every all-pairs baseline scans behind a pushed id bound") {
    val bounds = Map(
      "near_dup_pairs"      -> "1200",
      "ngram_jaccard_pairs" -> "150",
      "simhash_near_dup"    -> "1500")
    bounds.foreach { case (name, bound) =>
      assert(planFacts(name).execPlan.contains(bound),
        s"$name: expected id bound $bound in the physical plan")
    }
  }

  // kmeans_parallel_init's BNLJ license: the broadcast build side must be
  // the candidate frame, whose size is bounded by construction — a
  // limit(1) seed plus hash-threshold draws (the l·M threshold constant
  // in the filter is what caps the expected draws per round). Verify both
  // bounds are actually in the physical plan so a rewrite that widens the
  // broadcast side to a corpus-sized frame, or drops the draw threshold,
  // fails here rather than silently keeping the allowlist entry above.
  test("kmeans_parallel_init BNLJ build side carries the seed and draw bounds") {
    val plan = planFacts("kmeans_parallel_init").execPlan
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "expected the broadcast-candidates map pass in the plan")
    // l·M = 8·2^20: the hash-fraction draw threshold bounding expected
    // candidates per round
    assert(plan.contains("8388608"),
      "expected the l*M draw-threshold literal in the physical plan")
  }
}
