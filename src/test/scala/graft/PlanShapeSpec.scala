package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Catalyst plan-shape guarantees the engine relies on at scale. */
class PlanShapeSpec extends AnyFunSuite with SparkSpec {

  test("join strategy hints are honored (merge vs broadcast)") {
    val dir = "/root/testdata/sf0.001"
    val li = graft.sources.Tables.lineitem(spark, dir)
    val o = graft.sources.Tables.orders(spark, dir)

    val merged = li.join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
    assert(merged.queryExecution.executedPlan.toString.contains("SortMergeJoin"))

    val bcast = li.join(o.hint("broadcast"), col("l_orderkey") === col("o_orderkey"))
    assert(bcast.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("partial aggregation stays below the fact join (pushdown lock-in)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    // the hand-rolled rewrite in revenue_by_nation/top_customers: the
    // lineitem side must aggregate to order grain BEFORE any join —
    // if a refactor re-inlines it, the join consumes raw lineitems again
    for (q <- Seq("revenue_by_nation", "top_customers")) {
      val plan = graft.queries.Registry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.optimizedPlan
      val joins = plan.collect { case j: Join => j }
      assert(joins.nonEmpty, s"$q lost its joins")
      val aggBelowJoin = joins.exists(j =>
        j.left.collectFirst { case a: Aggregate => a }.isDefined ||
          j.right.collectFirst { case a: Aggregate => a }.isDefined)
      assert(aggBelowJoin, s"$q: no Aggregate below a Join — pushdown regressed")
    }
  }

  test("q3 pushes its filter to every one of the three join inputs' scans") {
    // the open-order predicate is only cheap because ALL THREE filters
    // run at the parquet scans — a refactor that hoists one above a join
    // re-scans a full table at 100 TB
    val p = graft.queries.RelationalQueries
      .q3ShippingPriority(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert("""l_shipdate#\d+ > 1998-01-01""".r.findFirstIn(p).isDefined,
      "lineitem ship-date filter not pushed to the scan")
    assert("""o_orderdate#\d+ < 1998-01-01""".r.findFirstIn(p).isDefined,
      "orders date filter not pushed to the scan")
    assert("""c_mktsegment#\d+ = BUILDING""".r.findFirstIn(p).isDefined,
      "customer segment filter not pushed to the scan")
    // column pruning: the lineitem scan must not read unused measures
    val liScan = p.split("\n").find(l => l.contains("FileScan parquet [l_"))
    assert(liScan.exists(l => !l.contains("l_quantity") && !l.contains("l_tax")),
      "lineitem scan reads columns the query never touches")
  }

  test("flagship pipeline runs inside whole-stage codegen") {
    val df = graft.queries.ParityQueries
      .windowedMetrics(spark, "/root/testdata/sf0.001")
    df.collect() // collect (not count: same queryExecution) so AQE finalizes
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("codegen id"), "no codegen span in flagship plan")
    // the parse/validate/window projection must not fall back to
    // interpreted eval: no UDF nodes anywhere in the hot path
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      "flagship plan contains a non-codegen UDF node")
  }

  test("PQ assignment and ADC scan broadcast their small sides (no corpus shuffle join)") {
    // the PQ claim is "no float math / no shuffle against the corpus":
    // codebook (embedding_pq) and per-query distance table (knn_pq_adc)
    // must arrive by broadcast; a SortMergeJoin or cartesian here means
    // the corpus got shuffled for the index build — the shape that dies
    // at 100 TB
    for (q <- Seq("embedding_pq", "knn_pq_adc")) {
      val plan = graft.queries.Registry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$q: broadcast join missing")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$q: unexpected product join")
    }
    // the per-(vec,s) argmin must push the rank limit below the sort
    val pq = graft.queries.Registry.queries("embedding_pq")(spark, "/root/testdata/sf0.001")
    assert(pq.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "embedding_pq: rank-1 argmin lost its WindowGroupLimit pushdown")
  }

  test("IVF-PQ and semantic dedup keep their scale-critical join shapes") {
    // knn_ivfpq: every join against the corpus must be broadcast
    // (centroid frame, one-row codebooks, distance tables); a
    // SortMergeJoin of corpus rows against codewords means the corpus
    // got shuffled for a K-row table — the shape that dies at 100 TB.
    // CartesianProduct must never appear.
    val pq = graft.queries.Registry.queries("knn_ivfpq")(spark, "/root/testdata/sf0.001")
    val pqPlan = pq.queryExecution.executedPlan.toString
    assert(pqPlan.contains("BroadcastHashJoin"), "knn_ivfpq: broadcast join missing")
    assert(!pqPlan.contains("CartesianProduct"), "knn_ivfpq: cartesian appeared")
    // the top-2 cell probe and the top-5 ADC rank keep their rank-limit
    // pushdown
    assert(pqPlan.contains("WindowGroupLimit"),
      "knn_ivfpq: rank filter lost its WindowGroupLimit pushdown")
    // code assignment is row-local: the projection that calls the kernel
    // reads the residual checkpoint and the one-row broadcast codebook
    // with no shuffle Exchange anywhere below it
    val initial = pq.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val codeFrames = initial.collect {
      case p: org.apache.spark.sql.execution.ProjectExec
          if p.projectList.exists(_.toString.contains("graft_pq_assign")) => p
    }
    assert(codeFrames.nonEmpty, s"knn_ivfpq: assignment kernel missing:\n$pqPlan")
    codeFrames.foreach { f =>
      assert(f.toString.contains("ExistingRDD"), s"knn_ivfpq: residual checkpoint missing:\n$f")
      assert(f.collect { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
        .isEmpty, s"knn_ivfpq: shuffle between the residual checkpoint and the codes:\n$f")
    }

    // semantic_dedup: the pair step must be an EQUI-join on cluster id
    // (SortMergeJoin or ShuffledHashJoin are both fine — the point is the
    // Σ|cluster|² bound), never an unbucketed cartesian of the corpus
    val sd = graft.queries.Registry.queries("semantic_dedup")(spark, "/root/testdata/sf0.001")
    val sdPlan = sd.queryExecution.executedPlan.toString
    assert(!sdPlan.contains("CartesianProduct"),
      "semantic_dedup: pair join degenerated to a cartesian")
  }

  test("round-4 queries keep their scale-critical shapes") {
    val dir = "/root/testdata/sf0.001"
    // media_caption_pairs: both sides are corpus-sized at 100 TB, so the
    // pairing must be a shuffled EQUI-join on the id — a broadcast here
    // would mean the planner thinks a corpus side is small, a product
    // would mean the equi-key was lost
    val pairs = graft.queries.Registry.queries("media_caption_pairs")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(pairs.contains("SortMergeJoin") || pairs.contains("ShuffledHashJoin")
      || pairs.contains("BroadcastHashJoin"), // AQE may broadcast at test SF
      "media_caption_pairs: id equi-join missing")
    assert(!pairs.contains("CartesianProduct") && !pairs.contains("BroadcastNestedLoopJoin"),
      "media_caption_pairs: pairing degenerated to a product")

    // corpus_shuffle: one scan, map-side hash/shard projection, a single
    // per-shard window — no join at all, and the scan reads only doc_id
    val shuffle = graft.queries.Registry.queries("corpus_shuffle")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!shuffle.contains("Join"), "corpus_shuffle: unexpected join")
    assert(shuffle.contains("Window"), "corpus_shuffle: per-shard window missing")
    val scanLine = shuffle.linesIterator.find(_.contains("ReadSchema"))
    assert(scanLine.exists(l => l.contains("doc_id") && !l.contains("text")),
      s"corpus_shuffle: scan not pruned to doc_id: ${scanLine.getOrElse("?")}")

    // media_exif_meta: pure codegen projection over the binary column —
    // no shuffle-producing operator anywhere
    val exif = graft.queries.Registry.queries("media_exif_meta")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!exif.contains("Join"), "media_exif_meta: unexpected join")
    assert(!exif.split("\n").exists(l => l.contains("Exchange") && !l.contains("rangepartitioning")),
      "media_exif_meta: non-sort shuffle appeared in a projection query")
  }

  test("round-8 relational queries keep their scale-critical shapes") {
    val dir = "/root/testdata/sf0.001"
    // q9: the p_name filter must reach the part SCAN (cutting the dim
    // before its join), and no product may appear anywhere — the plan
    // only survives 100 TB because the fact table is never shuffled for
    // a dimension
    val q9 = graft.queries.Registry.queries("q9_profit_by_nation")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(q9.contains("StringContains(p_name,widget)"),
      "q9: part name filter not pushed to the part scan")
    assert(!q9.contains("CartesianProduct") && !q9.contains("BroadcastNestedLoopJoin"),
      "q9: a join degenerated to a product")

    // q5: both date bounds pushed to the orders scan; the same-nation
    // predicate joins the two FK routes, never a shuffle of its own
    val q5 = graft.queries.Registry.queries("q5_local_supplier_volume")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("""o_orderdate#\d+ >= 1997-01-01""".r.findFirstIn(q5).isDefined &&
      """o_orderdate#\d+ < 1998-01-01""".r.findFirstIn(q5).isDefined,
      "q5: order-date bounds not pushed to the orders scan")
    assert(!q5.contains("CartesianProduct") && !q5.contains("BroadcastNestedLoopJoin"),
      "q5: the same-nation predicate degenerated to a product")

    // incremental view maintenance: the refresh's whole point is that
    // the delta leg reads BEHIND a pushed cutoff filter — if the bound
    // leaves the scan, every refresh rescans history
    sys.props("graft.materialize") = "off" // see through the snapshot boundary
    try {
      val ivm = graft.queries.Registry.queries("orders_incremental_agg")(spark, dir)
        .queryExecution.executedPlan.toString
      assert("""GreaterThanOrEqual\(o_orderdate,2001-06-01""".r.findFirstIn(ivm).isDefined,
        "orders_incremental_agg: delta cutoff not pushed to the scan")
    } finally sys.props.remove("graft.materialize")
  }

  test("nested schema pruning reaches the parquet scan") {
    val dir = Files.createTempDirectory("nested_docs").toString
    graft.queries.ParityQueries.nestedDoc(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(dir)
    // read only station.id out of the 4-struct document
    val q = spark.read.parquet(dir)
      .filter(col("station.id") === "7")
      .select(col("station.id"))
    assert(q.count() > 0)
    val scan = q.queryExecution.executedPlan.toString
    // pruned ReadSchema must not mention the metrics struct at all
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse(scan)
    assert(readSchema.contains("station"), s"station missing from: $readSchema")
    assert(!readSchema.contains("metrics"), s"metrics not pruned: $readSchema")
  }
}
