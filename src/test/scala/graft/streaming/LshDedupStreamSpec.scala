package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.DedupOps

/** Batch↔stream equivalence for LSH near-dup discovery at ingest: the
  * documents corpus (near-dup replicas seeded, since the harness corpus
  * has none) played through [[LshDedupTracker]] across docId-ordered
  * micro-batches scrambled within — must surface exactly the batch
  * `candidatesFromShingles` pair set, with each pair's signature
  * agreement equal to what the batch wide-signature join reports. A
  * second leg pins the horizon trade: a near-dup arriving after its
  * partner's retention expired is NOT flagged (state is horizon-bounded,
  * not corpus-bounded). */
class LshDedupStreamSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def withRocks[A](body: => A): A = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  /** Corpus with planted near-dups: every doc_id < 40 gets a replica
    * (text + suffix) at doc_id + 10000, a perturbation that keeps Jaccard high enough to collide in at least one band
    * for most pairs without being exact dups. */
  private def corpus() = {
    val d0 = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    d0.unionAll(d0.filter(col("doc_id") < 40)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" replica0")).as("text")))
  }

  // the map-side prep's load-bearing claim, tested DIRECTLY (the
  // candidate-set equality below covers it only through band-key md5s):
  // the per-ROW signature fold equals the batch SHUFFLE AGGREGATE's
  // signature for every document — both minimize the same universal
  // hashes over the same distinct shingle set
  test("per-row signatures equal the batch minhashWide aggregate, every doc") {
    import spark.implicits._
    val docs = corpus()
    val streamed = LshDedupTracker.streamInput(
        docs.withColumn("ts", timestamp_millis(lit(1000000L) + col("doc_id"))))
      .filter(col("band") === 0) // one row per doc carries the full sig
      .select(col("docId"), col("sig"))
      .as[(Long, Array[Long])].collect().toMap
    val batch = DedupOps.minhashWide(spark, DedupOps.docShingles(docs))
      .collect()
    assert(batch.nonEmpty && batch.length === streamed.size)
    batch.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val want = (0 until DedupOps.NumHashes).map(k => r.getAs[Long](s"mh$k"))
      assert(streamed(id).toSeq === want, s"signature mismatch for doc $id")
    }
  }

  test("tracker surfaces the batch banded candidate set with equal agreement") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocks {
      val docs = corpus()
      val sh = DedupOps.docShingles(docs)
      // batch truth: banded candidates + per-pair signature agreement
      val wide = DedupOps.minhashWide(spark, sh)
      val agree = (0 until DedupOps.NumHashes)
        .map(k => when(col(s"a.mh$k") === col(s"b.mh$k"), 1).otherwise(0))
        .reduce(_ + _)
      val batch = DedupOps.candidatesFromShingles(spark, sh)
        .join(wide.as("a"), col("a_id") === col("a.doc_id"))
        .join(wide.as("b"), col("b_id") === col("b.doc_id"))
        .select(col("a_id"), col("b_id"), agree.as("n_match"))
        .as[(Long, Long, Int)].collect().toSet
      assert(batch.nonEmpty, "no planted candidate pairs — spec vacuous")

      val feed = LshDedupTracker.streamInput(
          docs.withColumn("ts", timestamp_millis(lit(1000000L) + col("doc_id"))))
        .as[LshIn].collect().sortBy(_.docId)
      val thirds = feed.grouped((feed.length + 2) / 3).toSeq
      val rnd = new scala.util.Random(47)
      val input = MemoryStream[LshIn]
      val cands = input.toDS()
        .withWatermark("ts", "10 minutes")
        .groupByKey(r => s"${r.band}:${r.bandKey}")
        .transformWithState(new LshDedupTracker(86400000L),
          TimeMode.EventTime(), OutputMode.Append())
      val q = cands.writeStream.outputMode("append")
        .format("memory").queryName("lshstream").start()
      try {
        thirds.foreach { b =>
          input.addData(rnd.shuffle(b.toSeq)); q.processAllAvailable()
        }
        val rows = spark.table("lshstream").as[LshCandOut].collect()
        // per (band, pair) exactly-once
        assert(rows.map(o => (o.band, o.aId, o.bId)).distinct.length === rows.length,
          "duplicate (band, pair) emission")
        val got = rows.map(o => (o.aId, o.bId, o.nMatch)).toSet
        assert(got === batch, "streamed candidate set != batch banded candidates")
      } finally q.stop()
    }
  }

  test("a near-dup arriving after the retention horizon is not flagged") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocks {
      // doc 7's text at three ids: 1 and 2 arrive together (flagged), 3
      // arrives after 1&2 fell off the horizon (not flagged); the
      // watermark advancers reuse OTHER source docs so they collide
      // with nothing
      def at(id: Long, tsMs: Long, srcDoc: Long = 7) = LshDedupTracker.streamInput(
          graft.sources.Tables.documents(spark, dir)
            .filter(col("doc_id") === srcDoc)
            .select(lit(id).as("doc_id"), col("text"),
              timestamp_millis(lit(tsMs)).as("ts")))
        .as[LshIn].collect().toSeq
      val input = MemoryStream[LshIn]
      val cands = input.toDS()
        .withWatermark("ts", "1 second")
        .groupByKey(r => s"${r.band}:${r.bandKey}")
        .transformWithState(new LshDedupTracker(5000L),
          TimeMode.EventTime(), OutputMode.Append())
      val q = cands.writeStream.outputMode("append")
        .format("memory").queryName("lshevict").start()
      try {
        def send(rows: Seq[LshIn]): Unit = { input.addData(rows); q.processAllAvailable() }
        send(at(1, 10000L) ++ at(2, 11000L))
        send(at(9990, 100000L, srcDoc = 11)) // watermark far past 1&2's horizon
        send(at(9991, 101000L, srcDoc = 13)) // timers fire, buckets evict
        send(at(3, 102000L))    // same text as 1&2 — but its partners are gone
        val got = spark.table("lshevict").as[LshCandOut].collect()
          .map(o => (o.aId, o.bId)).distinct.toSet
        assert(got === Set((1L, 2L)),
          s"horizon not enforced: $got (expected only the (1,2) flag)")
      } finally q.stop()
    }
  }

  // an at-least-once source redelivering an admitted doc must neither
  // re-emit its pairs nor leave its horizon clock stale — the ADVICE r10
  // gap: pre-fix the redelivery re-emitted every pair and kept the
  // ORIGINAL lastMs, so a refreshed member could still evict on the old
  // schedule
  test("redelivery of an admitted doc re-emits nothing and refreshes its horizon") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocks {
      def at(id: Long, tsMs: Long, srcDoc: Long = 7) = LshDedupTracker.streamInput(
          graft.sources.Tables.documents(spark, dir)
            .filter(col("doc_id") === srcDoc)
            .select(lit(id).as("doc_id"), col("text"),
              timestamp_millis(lit(tsMs)).as("ts")))
        .as[LshIn].collect().toSeq
      val input = MemoryStream[LshIn]
      val cands = input.toDS()
        .withWatermark("ts", "1 second")
        .groupByKey(r => s"${r.band}:${r.bandKey}")
        .transformWithState(new LshDedupTracker(5000L),
          TimeMode.EventTime(), OutputMode.Append())
      val q = cands.writeStream.outputMode("append")
        .format("memory").queryName("lshredeliver").start()
      try {
        def send(rows: Seq[LshIn]): Unit = { input.addData(rows); q.processAllAvailable() }
        send(at(1, 10000L) ++ at(2, 11000L)) // pair (1,2) emitted once
        send(at(1, 13000L))                  // redelivery of admitted doc 1
        val afterRedeliver = spark.table("lshredeliver").as[LshCandOut].collect()
        assert(afterRedeliver.map(o => (o.band, o.aId, o.bId)).distinct.length
          === afterRedeliver.length, "redelivery re-emitted a (band, pair)")
        // the refresh must move doc 1's horizon: watermark 14s evicts
        // nothing under lastMs=13s + 5s retention (old clock 10s would
        // have), so doc 3 arriving at 15s still pairs with 1 AND 2
        send(at(9990, 16000L, srcDoc = 11)) // watermark -> 15s
        send(at(3, 15500L))
        val got = spark.table("lshredeliver").as[LshCandOut].collect()
          .map(o => (o.aId, o.bId)).distinct.toSet
        assert(got === Set((1L, 2L), (1L, 3L), (2L, 3L)),
          s"horizon refresh not applied: $got")
      } finally q.stop()
    }
  }

  // the production-shaped maxBucket default (r12): a hot bucket — here 20
  // EXACT dups of one text, which share every band key — must stop
  // ADMITTING at the cap while arrivals keep emitting against the capped
  // membership, so per-arrival work and ListState are bounded however
  // long the boilerplate run continues; every refusal is counted
  test("the bucket cap bounds admission, emission and state under a hot bucket") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocks {
      val cap = 5
      val nBands = DedupOps.NumHashes / DedupOps.BandRows
      val feed = LshDedupTracker.streamInput(
          graft.sources.Tables.documents(spark, dir)
            .filter(col("doc_id") === 7).select(col("text"))
            .crossJoin(spark.range(20).select(col("id").as("doc_id")))
            .select(col("doc_id"), col("text"),
              timestamp_millis(lit(1000000L) + col("doc_id")).as("ts")))
        .as[LshIn].collect().sortBy(_.docId)
      assert(feed.length === 20 * nBands, "exact dups must share every band")
      val input = MemoryStream[LshIn]
      // production shape (r15): the fused ingest builder — keyed
      // transformWithState + observeDrops in one call, the only
      // main-tree composition path (CappedTrackerCompositionSpec); the
      // output assertions below double as the marker-leak check
      val cands = LshDedupTracker.ingest(input.toDS(),
        retentionMs = 86400000L, maxBucket = cap,
        watermarkDelay = "10 minutes")
      val q = cands.writeStream.outputMode("append")
        .format("memory").queryName("lshcapped").start()
      try {
        // two batches so the cap binds across, not just within, a batch
        feed.grouped(feed.length / 2).foreach { b =>
          input.addData(b.toSeq); q.processAllAvailable()
        }
        val rows = spark.table("lshcapped").as[LshCandOut].collect()
        // admitted members are exactly docs 0..cap-1 (docId-ordered fold),
        // so every pair's min side is an admitted id; a leaked marker
        // (band = -1) would also fail here via its aId = -1... so assert
        // the discriminator directly too
        assert(rows.forall(r => r.band >= 0 && r.aId >= 0),
          "a drop-marker row leaked past observeDrops")
        assert(rows.forall(_.aId < cap),
          "a refused doc was paired as a stored member")
        // per band: C(cap,2) among admitted + cap pairs per refused arrival
        val expected = nBands * (cap * (cap - 1) / 2 + (20 - cap) * cap)
        assert(rows.length === expected,
          s"emission not cap-bounded: ${rows.length} != $expected")
        // the cluster-readable figure (r14, VERDICT #4): the observed
        // metric summed over this query's progress events counts every
        // refused admission exactly
        val observed = AdmissionDrops.observedTotal(
          q.recentProgress.toSeq, LshDedupTracker.DropsMetric)
        assert(observed === ((20 - cap) * nBands).toLong,
          s"StreamingQueryProgress drops $observed miss refused admissions")
      } finally q.stop()
    }
  }
}
