package graft.plans

/** Cross-round PHYSICAL-PLAN drift gate (r11): `PLANS_r{N}.json` made
  * plan shape diffable, but nothing diffed it — a broadcast silently
  * flipping to a sort-merge join in round N+1 would still wait for a
  * judge to notice. This object diffs the current round's digest
  * artifact against the committed PREVIOUS round's, classifies changes
  * (exchange-count increases, join-strategy flips, lost pushdowns =
  * REGRESSIONS; everything else = informational), and emits
  * `PLANS_DIFF_r{N}.json`. Intentional plan changes are whitelisted in
  * [[PlanDiff.whitelist]] with a reason that is recorded in the diff
  * artifact; `RegistryAuditSpec` fails the build on any unexplained
  * regression and on a stale diff artifact.
  *
  * The current artifact's currency against live plans is enforced
  * separately (the digest-currency test), so diffing the two COMMITTED
  * files is equivalent to diffing live digests against the previous
  * round — without paying a second 320-query plan walk.
  */
object PlanDiff {

  /** Per-round artifact names — bump together once per round. */
  val CurrentArtifact = "PLANS_r16.json"
  val PreviousArtifact = "PLANS_r15.json"
  val DiffArtifact = "PLANS_DIFF_r16.json"

  /** Intentional plan changes this round, query → reason. A whitelist
    * entry licenses ONE round's diff; next round the changed plan is the
    * new baseline and the entry should be dropped. */
  private val PrefixVerify =
    "r16 optimization (guide §2.4/§2.5/§3.1, measured in OPTIMIZATION_r16.md): " +
      "(1) the prefix frequency df now attaches via count() OVER " +
      "(PARTITION BY s) instead of groupBy(s)+join-back — one hash(s) pass, " +
      "the join and one aggregate drop, one window appears (rows and df " +
      "values identical: the join was inner on a key built from the frame " +
      "itself); (2) both wide-verify shingle sides get explicit broadcast() " +
      "— bounded by the WideVerifyMaxPairs branch guard — so the per-pair " +
      "array_intersect floor evaluates in the explicitly repartitioned " +
      "32-task probe stage instead of an AQE-coalesced 3-task stage " +
      "(QueryProf: 4.54 to 2.25 s)."
  private val IvfPqFold =
    "Row-local IVF-PQ: each vector is one row with an array<bigint> " +
      "micro-unit residual, and code assignment is the codegen'd " +
      "graft_pq_assign kernel against a one-row broadcast codebook " +
      "(BroadcastNestedLoopJoin, bounded by PqSeeds x NSub entries), " +
      "replacing the position-level (s, pos) BroadcastHashJoins and the " +
      "per-(vec, s) row_number argmin; the ADC scan sums NSub map lookups " +
      "per row instead of a per-(q, vec) aggregate. Windows 15 -> 6, sorts " +
      "11 -> 5, materialize points 5 -> 3. The pushed-filter total falls " +
      "because fewer consumers re-read the embeddings scan in the audit form " +
      "and the IsNotNull filters inferred from the dropped position joins go " +
      "with them. Codes, tables and distances are bit-identical " +
      "(PqAssignSpec, oracle-green at both SFs)."
  private val BasketFold =
    "Co-purchase edges fold each order to array_sort(collect_set(pk)) and " +
      "emit its i < j pairs row-locally, replacing distinct + self-join on " +
      "ok: one shuffle and the SortMergeJoin drop (BasketPairsSpec). The " +
      "pushed-filter total falls because the lineitem scan is no longer " +
      "read by both join sides, and IsNotNull(l_partkey), inferred from the " +
      "join's src < dst, is gone (collect_set drops null parts itself)."
  val whitelist: Map[String, String] = Map(
    "knn_ivfpq" -> IvfPqFold,
    "knn_ivfpq_rerank" -> (IvfPqFold + " Shared ivfPqAdc pipeline."),
    "part_assortativity" -> BasketFold,
    "unigram_em_counts" -> ("r16 optimization (guide §1.2/§5): the 8-step " +
      "Viterbi DP folds into ONE row-local aggregate() over a broadcast " +
      "piece-score map — the 8 vocab joins, their exchanges and the 8 eager " +
      "per-step checkpoints disappear (QueryProf 3.33 to 0.98 s); state " +
      "encoding and tie-breaks are byte-identical, oracle-green at both SFs."),
    "unigram_lm_segment" -> ("r16 optimization: same one-pass Viterbi DP as " +
      "unigram_em_counts (shared unigramViterbi core; QueryProf 3.35 to 0.81 s)."),
    "jaccard_prefix_join" -> PrefixVerify,
    "jaccard_prefix_join_capped" -> (PrefixVerify +
      " Shared jaccardPrefixJoinFromShingles core."),
    "lsh_tuning_report" -> (PrefixVerify +
      " Also r16: the five banding legs no longer checkpoint their candidate " +
      "frames — both consumers share the distinct's exchange via reuse and " +
      "the legs' stages run concurrently in one action (guide §2.6)."),
    "snm_multipass_dups" -> ("r16 optimization (guide §2.4): the two per-key " +
      "SNM numbering passes stack into ONE grouped two-phase numbering " +
      "(GlobalWindow.groupedRowNumberWithCount) — one range shuffle and one " +
      "checkpoint instead of two of each; within-pass ranks are identical " +
      "because passes are contiguous in the stacked order."),
    "customer_rfm" -> ("r16 optimization (guide §2.4): the three quintile " +
      "cuts stack into ONE grouped two-phase numbering over a narrow " +
      "(custkey, metric, value) frame instead of three sequential " +
      "GlobalWindow.ntile passes over the growing customer frame — two range " +
      "shuffles and two checkpoints drop; sort-value negation preserves each " +
      "cut's exact order and tiebreak (oracle-green at both SFs)."),
    "part_community_modularity" -> ("r16 optimization (guide §2.4/§3.1): " +
      "SHUFFLE_HASH hints on the two node-keyed label joins of the internal-" +
      "edge count, plus (digest-invisible, below the round checkpoints — " +
      "part_label_propagation's digest is unchanged for the same reason) " +
      "each LPA round now repartitions once on hash(v, n) for its aggregate " +
      "AND window and SHUFFLE_HASH-hints the label join side. QueryProf: " +
      "modularity 4.50 to 3.88 s, label_propagation 4.12 to 3.02 s. " +
      "Then: " + BasketFold))

  /** The digest fields of one artifact line (parsed from our own fixed
    * writer format — see [[PlanDigest.toJsonLine]]). `materializePoints`
    * is None on pre-r11 artifacts, which did not record it; `scansRaw`
    * is normalized (scan-kind tags stripped) so a digest and its
    * pre-r13 rendering compare equal when the scans themselves match.
    * `pushedTotal` sums EVERY scan's pushed count — base, materialized
    * and lineage alike — which since r14 is also the gate's figure (see
    * [[diffQuery]] for why the r13 base-only gate was retired). */
  case class Line(
      query: String,
      shuffle: Int,
      broadcast: Int,
      joins: Map[String, Int],
      sorts: Int,
      windows: Int,
      materializePoints: Option[Int],
      scansRaw: String,
      pushedTotal: Int)

  private val QueryRe = """"query":"([^"]+)"""".r
  private val IntRe = Map(
    "shuffle_exchanges" -> """"shuffle_exchanges":(\d+)""".r,
    "broadcast_exchanges" -> """"broadcast_exchanges":(\d+)""".r,
    "sorts" -> """"sorts":(\d+)""".r,
    "windows" -> """"windows":(\d+)""".r)
  private val MatRe = """"materialize_points":(\d+)""".r
  private val JoinsRe = """"joins":\{([^}]*)\}""".r
  private val JoinPairRe = """"([A-Za-z]+)":(\d+)""".r
  private val ScansRe = """"scans":\[(.*)\]""".r
  private val PushedRe = """"pushed":(\d+)""".r
  // one scan object, kind optional (absent on pre-r13 artifacts)
  private val ScanObjRe =
    """\{"table":"[^"]*","pushed":(\d+),"cols":\d+(?:,"kind":"(\w+)")?\}""".r
  private val KindFieldRe = ""","kind":"\w+"""".r

  def parseLine(l: String): Line = {
    def int(f: String): Int = IntRe(f).findFirstMatchIn(l)
      .fold(sys.error(s"artifact line missing $f: $l"))(_.group(1).toInt)
    val joins = JoinsRe.findFirstMatchIn(l)
      .fold(sys.error(s"artifact line missing joins: $l")) { m =>
        JoinPairRe.findAllMatchIn(m.group(1))
          .map(p => p.group(1) -> p.group(2).toInt).toMap
      }
    val scans = ScansRe.findFirstMatchIn(l)
      .fold(sys.error(s"artifact line missing scans: $l"))(_.group(1))
    // a scan object that deviates from the writer format (field order,
    // charset) would silently fall out of ScanObjRe while PushedRe still
    // sees its pushed count — the gate would weaken without an error
    // (r13 ADVICE). Count both regexes over the same string and refuse
    // a mismatch loudly, in the missing-field sys.error style.
    val scanObjCount = ScanObjRe.findAllMatchIn(scans).size
    val pushedCount = PushedRe.findAllMatchIn(scans).size
    if (scanObjCount != pushedCount)
      sys.error(s"scan-object parse mismatch ($scanObjCount objects vs " +
        s"$pushedCount pushed fields) — writer format drift in: $l")
    Line(
      query = QueryRe.findFirstMatchIn(l)
        .fold(sys.error(s"artifact line missing query: $l"))(_.group(1)),
      shuffle = int("shuffle_exchanges"),
      broadcast = int("broadcast_exchanges"),
      joins = joins,
      sorts = int("sorts"),
      windows = int("windows"),
      materializePoints = MatRe.findFirstMatchIn(l).map(_.group(1).toInt),
      scansRaw = KindFieldRe.replaceAllIn(scans, ""),
      pushedTotal = PushedRe.findAllMatchIn(scans).map(_.group(1).toInt).sum)
  }

  def parseArtifact(path: java.nio.file.Path): Map[String, Line] = {
    val lines = scala.jdk.CollectionConverters
      .ListHasAsScala(java.nio.file.Files.readAllLines(path)).asScala
    lines.filter(_.nonEmpty).map(parseLine).map(l => l.query -> l).toMap
  }

  case class Change(field: String, old: String, now: String, regression: Boolean)

  case class QueryDiff(query: String, changes: Seq[Change],
      whitelisted: Option[String]) {
    def regression: Boolean = changes.exists(_.regression)
    def unexplained: Boolean = regression && whitelisted.isEmpty
  }

  /** Field-level diff of one query's digests. Regressions: a shuffle
    * exchange creeping in, any join-strategy change (a flip needs review
    * even when it looks like an upgrade — the whitelist records the
    * review), an extra sort or window pass, a lost pushed filter. Scan
    * layout and broadcast-exchange count changes are informational —
    * they matter only through those, and the digest-currency test
    * already pins their exact values. */
  def diffQuery(prev: Line, cur: Line): Seq[Change] = {
    def joinStr(m: Map[String, Int]) =
      m.toSeq.sorted.map { case (k, v) => s"$k:$v" }.mkString("{", ",", "}")
    val b = Seq.newBuilder[Change]
    if (cur.shuffle != prev.shuffle)
      b += Change("shuffle_exchanges", prev.shuffle.toString,
        cur.shuffle.toString, regression = cur.shuffle > prev.shuffle)
    if (cur.broadcast != prev.broadcast)
      b += Change("broadcast_exchanges", prev.broadcast.toString,
        cur.broadcast.toString, regression = false)
    if (cur.joins != prev.joins)
      b += Change("joins", joinStr(prev.joins), joinStr(cur.joins),
        regression = true)
    if (cur.sorts != prev.sorts)
      b += Change("sorts", prev.sorts.toString, cur.sorts.toString,
        regression = cur.sorts > prev.sorts)
    if (cur.windows != prev.windows)
      b += Change("windows", prev.windows.toString, cur.windows.toString,
        regression = cur.windows > prev.windows)
    // the pushdown GATE (r14, retiring the r13 base-only compare): the
    // gate is the ALL-scans pushed total again. The r13 form compared
    // base-tagged scans only, which under-covered in two directions the
    // round's ADVICE named: (a) a pushdown lost inside a materialized
    // subtree — including its ONE real runtime execution, the checkpoint
    // build's actual parquet read — surfaced only as an informational
    // scans change and never gated (for all-materialized queries like
    // snm_multipass_dups the gate covered nothing); (b) a genuine base
    // scan whose (table, pushed, cols) happened to coincide with a
    // materialized signature was excluded from the base sum, and a later
    // pushdown loss on it flipped it back to base at the LOWER count,
    // making the base sum INCREASE — the regression read as an upgrade.
    // Composing the two prescribed fixes — gate on base plus each
    // distinct materialized signature once, and tag at most one
    // occurrence per signature as materialized with surplus lineage
    // copies participating like base — is arithmetically the all-scans
    // total, so the gate says so directly. The trade is deliberate and
    // one-sided: lineage copies move in lockstep with their subtree, so
    // a subtree pushdown loss now gates (amplified by its consumer
    // count), while a consumer-count change alone shows as a whitelist-
    // able false positive alongside the join/shuffle changes any such
    // restructuring also produces. Over-strict, never under. The
    // scan-kind tags remain REPORTING (a consumer tells checkpoint
    // lineage from runtime reads without hand adjudication); they no
    // longer weaken the gate.
    if (cur.pushedTotal != prev.pushedTotal)
      b += Change("pushed_filters_total", prev.pushedTotal.toString,
        cur.pushedTotal.toString,
        regression = cur.pushedTotal < prev.pushedTotal)
    // independent of the pushed-filter compare (r12, ADVICE fix): a round
    // that both loses a pushed filter AND reshapes scans must report
    // both changes, not drop the scans diff in the else-branch
    if (cur.scansRaw != prev.scansRaw)
      b += Change("scans", prev.scansRaw, cur.scansRaw, regression = false)
    (prev.materializePoints, cur.materializePoints) match {
      case (Some(p), Some(c)) if p != c =>
        b += Change("materialize_points", p.toString, c.toString,
          regression = false)
      case _ => () // field absent on pre-r11 artifacts — not comparable
    }
    b.result()
  }

  case class Report(added: Seq[String], removed: Seq[String],
      changed: Seq[QueryDiff]) {
    def unexplained: Seq[QueryDiff] = changed.filter(_.unexplained)
  }

  def diff(prev: Map[String, Line], cur: Map[String, Line]): Report = {
    val changed = (prev.keySet & cur.keySet).toSeq.sorted.flatMap { q =>
      val cs = diffQuery(prev(q), cur(q))
      if (cs.isEmpty) None
      else Some(QueryDiff(q, cs, whitelist.get(q)))
    }
    Report(
      added = (cur.keySet -- prev.keySet).toSeq.sorted,
      removed = (prev.keySet -- cur.keySet).toSeq.sorted,
      changed = changed)
  }

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Deterministic JSON rendering of the report — the committed
    * `PLANS_DIFF_r{N}.json` artifact. */
  def toJson(r: Report): String = {
    def strArr(xs: Seq[String]) = xs.map("\"" + esc(_) + "\"").mkString("[", ",", "]")
    val changed = r.changed.map { qd =>
      val cs = qd.changes.map { c =>
        s"""{"field":"${c.field}","old":"${esc(c.old)}","new":"${esc(c.now)}","regression":${c.regression}}"""
      }.mkString("[", ",", "]")
      val wl = qd.whitelisted.fold("null")("\"" + esc(_) + "\"")
      s"""{"query":"${qd.query}","changes":$cs,"regression":${qd.regression},"whitelisted":$wl}"""
    }.mkString("[", ",", "]")
    s"""{"previous":"$PreviousArtifact","current":"$CurrentArtifact",""" +
      s""""added":${strArr(r.added)},"removed":${strArr(r.removed)},""" +
      s""""changed":$changed,""" +
      s""""unexplained_regressions":${strArr(r.unexplained.map(_.query))}}"""
  }

  def computeReport(): Report = {
    val prev = parseArtifact(java.nio.file.Paths.get(PreviousArtifact))
    val cur = parseArtifact(java.nio.file.Paths.get(CurrentArtifact))
    diff(prev, cur)
  }

  /** Emits [[DiffArtifact]]. Run after `runMain graft.PlanShape` whenever
    * plans (or the registry) change; the spec gate fails the build if the
    * committed diff is stale or an unexplained regression slipped in. */
  def main(args: Array[String]): Unit = {
    val report = computeReport()
    java.nio.file.Files.write(java.nio.file.Paths.get(DiffArtifact),
      (toJson(report) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[plandiff] $PreviousArtifact -> $CurrentArtifact: " +
      s"${report.added.size} added, ${report.removed.size} removed, " +
      s"${report.changed.size} changed " +
      s"(${report.unexplained.size} unexplained regressions) -> $DiffArtifact")
  }
}
