package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Batch↔stream equivalence for EMBEDDING near-dup discovery at
  * ingest: the embeddings corpus played through
  * [[SemanticDedupTracker]] across vecId-ordered micro-batches
  * scrambled within — must emit exactly the rows of the DuckDB-oracled
  * batch `lsh_near_dup` query, cosine VALUES included (the tracker's
  * Scala fold must reproduce the batch's left-to-right double fold and
  * 6-dp rounding bit-for-bit). A second leg pins the horizon trade. */
class SemanticDedupStreamSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def withRocks[A](body: => A): A = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("tracker reproduces lsh_near_dup rows, cosine values included") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocks {
      val batch = graft.queries.SimilarityQueries.queries("lsh_near_dup")(spark, dir)
        .select(col("a_id"), col("b_id"), col("bucket").cast("long"), col("cos_sim"))
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(batch.nonEmpty, "no batch near-dup pairs — spec vacuous")

      val feed = SemanticDedupTracker.streamInput(
          graft.sources.Tables.embeddings(spark, dir)
            .withColumn("ts", timestamp_millis(lit(1000000L) + col("vec_id"))))
        .as[SemIn].collect().sortBy(_.vecId)
      val thirds = feed.grouped((feed.length + 2) / 3).toSeq
      val rnd = new scala.util.Random(53)
      val input = MemoryStream[SemIn]
      val cands = input.toDS()
        .withWatermark("ts", "10 minutes")
        .groupByKey(_.bucket)
        .transformWithState(new SemanticDedupTracker(86400000L),
          TimeMode.EventTime(), OutputMode.Append())
      val q = cands.writeStream.outputMode("append")
        .format("memory").queryName("semstream").start()
      try {
        thirds.foreach { b =>
          input.addData(rnd.shuffle(b.toSeq)); q.processAllAvailable()
        }
        val got = spark.table("semstream").as[SemCandOut].collect()
          .map(o => (o.aId, o.bId, o.bucket, o.cosSim)).toSet
        assert(got === batch, "streamed near-dup rows != batch lsh_near_dup")
      } finally q.stop()
    }
  }

  test("a semantic near-dup arriving after the horizon is not flagged") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocks {
      // vec 0's embedding replayed at three ids: 1 and 2 together
      // (flagged, cos = 1), 3 after the horizon (not flagged); the
      // advancers reuse OTHER vectors' embeddings re-bucketed... any
      // pair they form with stored members is fine — the assertion is
      // only about id 3's silence
      def at(id: Long, tsMs: Long, src: Long = 0) = SemanticDedupTracker.streamInput(
          graft.sources.Tables.embeddings(spark, dir)
            .filter(col("vec_id") === src)
            .select(lit(id).as("vec_id"), col("embedding"),
              timestamp_millis(lit(tsMs)).as("ts")))
        .as[SemIn].collect().toSeq
      val input = MemoryStream[SemIn]
      val cands = input.toDS()
        .withWatermark("ts", "1 second")
        .groupByKey(_.bucket)
        .transformWithState(new SemanticDedupTracker(5000L),
          TimeMode.EventTime(), OutputMode.Append())
      val q = cands.writeStream.outputMode("append")
        .format("memory").queryName("semevict").start()
      try {
        def send(rows: Seq[SemIn]): Unit = { input.addData(rows); q.processAllAvailable() }
        send(at(1, 10000L) ++ at(2, 11000L))
        send(at(9990, 100000L, src = 11)) // advance the watermark far past 1&2
        send(at(9991, 101000L, src = 13)) // timers fire, buckets evict
        send(at(3, 102000L))              // same embedding — partners gone
        val got = spark.table("semevict").as[SemCandOut].collect()
          .filter(o => Set(1L, 2L, 3L)(o.aId) || Set(1L, 2L, 3L)(o.bId))
          .map(o => (o.aId, o.bId)).toSet
        assert(got === Set((1L, 2L)),
          s"horizon not enforced: $got (expected only the (1,2) flag)")
      } finally q.stop()
    }
  }

  // two ADVICE r10 robustness gaps in one feed: (a) a row whose
  // embedding DIMENSION differs from a stored member's must score no
  // pair instead of throwing AIOOBE and killing the query; (b) an
  // at-least-once redelivery of an admitted vecId must re-emit nothing
  test("dim-drifted rows score no pair and redelivery re-emits nothing") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocks {
      def vec(id: Long, emb: Array[Double], tsMs: Long) =
        SemIn(id, bucket = 5L, emb,
          norm = math.sqrt(emb.map(x => x * x).sum),
          ts = new java.sql.Timestamp(tsMs))
      val e64 = Array.tabulate(64)(i => if (i == 0) 1.0 else 0.0)
      val input = MemoryStream[SemIn]
      val cands = input.toDS()
        .withWatermark("ts", "1 second")
        .groupByKey(_.bucket)
        .transformWithState(new SemanticDedupTracker(3600000L),
          TimeMode.EventTime(), OutputMode.Append())
      val q = cands.writeStream.outputMode("append")
        .format("memory").queryName("semdrift").start()
      try {
        def send(rows: SemIn*): Unit = { input.addData(rows); q.processAllAvailable() }
        send(vec(1, e64, 10000L))
        // dim drift: a 3-dim row in the same bucket — pre-fix this threw
        // ArrayIndexOutOfBounds inside cos6 and failed the whole query
        send(vec(99, Array(1.0, 0.0, 0.0), 11000L))
        // redelivery of admitted vec 1: nothing may re-emit
        send(vec(1, e64, 12000L))
        // a matching-dim duplicate still pairs with the stored member
        send(vec(2, e64, 13000L))
        val got = spark.table("semdrift").as[SemCandOut].collect()
        assert(got.map(o => (o.aId, o.bId)).toSeq === Seq((1L, 2L)),
          s"expected exactly the (1,2) pair once: ${got.toSeq}")
        assert(got.head.cosSim === 1.0)
      } finally q.stop()
    }
  }

  // the production-shaped maxBucket default (r12): a skewed bucket — 20
  // identical embeddings, all routed to one hyperplane bucket — must stop
  // ADMITTING at the cap while arrivals keep emitting against the capped
  // membership; every refusal counted
  test("the bucket cap bounds admission and emission under a skewed bucket") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocks {
      val cap = 5
      def vec(id: Long, tsMs: Long) = {
        val e = Array.tabulate(64)(i => if (i == 0) 1.0 else 0.0)
        SemIn(id, bucket = 9L, e, norm = 1.0, ts = new java.sql.Timestamp(tsMs))
      }
      val input = MemoryStream[SemIn]
      // production shape (r15): the fused ingest builder — keyed
      // transformWithState + observeDrops in one call, the only
      // main-tree composition path (CappedTrackerCompositionSpec)
      val cands = SemanticDedupTracker.ingest(input.toDS(),
        retentionMs = 86400000L, maxBucket = cap,
        watermarkDelay = "10 minutes")
      val q = cands.writeStream.outputMode("append")
        .format("memory").queryName("semcapped").start()
      try {
        val feed = (0L until 20L).map(i => vec(i, 1000000L + i))
        // two batches so the cap binds across, not just within, a batch
        feed.grouped(10).foreach { b =>
          input.addData(b); q.processAllAvailable()
        }
        val rows = spark.table("semcapped").as[SemCandOut].collect()
        assert(rows.forall(r => r.bucket >= 0 && r.aId >= 0),
          "a drop-marker row leaked past observeDrops")
        assert(rows.forall(_.aId < cap),
          "a refused vector was paired as a stored member")
        val expected = cap * (cap - 1) / 2 + (20 - cap) * cap
        assert(rows.length === expected,
          s"emission not cap-bounded: ${rows.length} != $expected")
        // the cluster-readable figure (r14, VERDICT #4) counts every
        // refused admission exactly
        val observed = AdmissionDrops.observedTotal(
          q.recentProgress.toSeq, SemanticDedupTracker.DropsMetric)
        assert(observed === (20 - cap).toLong,
          s"StreamingQueryProgress drops $observed miss refused admissions")
      } finally q.stop()
    }
  }

  // the r12 counter was a process-global LongAdder: two concurrent
  // queries in one JVM CONFLATED their refusal counts (both would read
  // 7 + 15 = 22 here), so a production monitor could not alarm per
  // pipeline. Each query's observed metric must count exactly its own
  // refusals while both run interleaved.
  test("concurrent queries keep separate admission-drop counts") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocks {
      def vec(id: Long, tsMs: Long) = {
        val e = Array.tabulate(64)(i => if (i == 0) 1.0 else 0.0)
        SemIn(id, bucket = 9L, e, norm = 1.0, ts = new java.sql.Timestamp(tsMs))
      }
      def start(capped: Int, name: String) = {
        val input = MemoryStream[SemIn]
        val q = SemanticDedupTracker.observeDrops(input.toDS()
          .withWatermark("ts", "10 minutes")
          .groupByKey(_.bucket)
          .transformWithState(
            new SemanticDedupTracker(86400000L, maxBucket = capped),
            TimeMode.EventTime(), OutputMode.Append()))
          .writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        (input, q)
      }
      val (inA, qA) = start(capped = 3, "semdropsa") // 10 vecs -> 7 refusals
      val (inB, qB) = start(capped = 5, "semdropsb") // 20 vecs -> 15 refusals
      try {
        // interleaved batches: both queries are mid-flight while each
        // other's tracker refuses admissions
        (0 until 2).foreach { half =>
          inA.addData((0L until 5L).map(i => vec(half * 5 + i, 1000000L + half * 5 + i)))
          inB.addData((0L until 10L).map(i => vec(half * 10 + i, 1000000L + half * 10 + i)))
          qA.processAllAvailable(); qB.processAllAvailable()
        }
        // the progress-event path is per-query by construction
        // (r14, VERDICT #4)
        def observed(q: org.apache.spark.sql.streaming.StreamingQuery) =
          AdmissionDrops.observedTotal(
            q.recentProgress.toSeq, SemanticDedupTracker.DropsMetric)
        assert(observed(qA) === 7L && observed(qB) === 15L,
          s"progress metrics cross-talked: A=${observed(qA)} B=${observed(qB)}")
      } finally { qA.stop(); qB.stop() }
    }
  }
}
