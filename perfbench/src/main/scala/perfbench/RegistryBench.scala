package perfbench

import java.io.File

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** One sequential client making passes over registry queries from the
  * families the iterative-builder and dedup work targets: the knn tower,
  * the graph fixpoints and the near-duplicate joins. Each query is built,
  * planned and `collect()`ed (not `count()`ed: counting lets column
  * pruning drop the final projections a user reads).
  *
  * The tables are the same on every run, whatever the run's seed: they are
  * synthesized from [[TableSeed]] each time, like fixed test data. Tables
  * from other generator seeds, or the same rows in another order, changed
  * a pass by up to a fifth, which would read as noise between runs. Each
  * result is checked against the digest recorded for these tables, which
  * was verified once against the DuckDB oracle. Set-up ends with one untimed warm-up pass; passes run
  * the queries in a fixed order. */
object RegistryBench {
  val Queries: Seq[String] = Seq("dedup_canonical_keep", "knn_ivfpq", "part_label_propagation")
  val TableSeed = 0L
  val MinPasses = 2

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")

  /** Writes the tables the queries read, shaped like the sf0.1 test data
    * (one parquet file per table, same columns and types, similar value
    * distributions), from `seed`. Returns (rows, bytes). */
  def synthesize(spark: SparkSession, seed: Long, dir: File): (Long, Long) = {
    def h(parts: String*): String = s"xxhash64(${seed}L, ${parts.mkString(", ")})"
    def gauss(parts: String*): String =
      s"(sqrt(-2D * ln((pmod(${h(parts :+ "'u1'": _*)}, 1000000007) + 1) / 1000000008D))" +
        s" * cos(2D * pi() * (pmod(${h(parts :+ "'u2'": _*)}, 1000000007) + 1) / 1000000008D))"
    val words = Vocab.map(w => s"'$w'").mkString("array(", ", ", ")")

    // 5000 documents of 10-99 words from a 30-word vocabulary; one in
    // twenty is a near-duplicate: an earlier document's text plus " dup".
    val documents = spark.range(0, 5000, 1, 4)
      .selectExpr("id AS doc_id", s"id > 0 AND pmod(${h("id", "'dup'")}, 20) = 0 AS is_dup")
      .selectExpr("*", s"CASE WHEN is_dup THEN pmod(${h("doc_id", "'src'")}, doc_id) ELSE doc_id END AS gid")
      .selectExpr("*",
        s"array_join(transform(sequence(1, CAST(10 + pmod(${h("gid", "'nw'")}, 90) AS INT)), " +
          s"k -> element_at($words, CAST(pmod(${h("gid", "k")}, ${Vocab.size}) AS INT) + 1)), ' ')" +
          " || CASE WHEN is_dup THEN ' dup' ELSE '' END AS text")
      .selectExpr("doc_id", "text",
        s"CASE WHEN pmod(${h("doc_id", "'lang'")}, 100) < 41 THEN 'en' " +
          s"ELSE element_at(array('es', 'zh', 'de', 'fr'), CAST(pmod(${h("doc_id", "'l2'")}, 4) AS INT) + 1) END AS lang",
        "concat('src', CAST(doc_id % 20 AS STRING)) AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")

    // 2000 unit vectors in 64 dimensions around ten label centres.
    val embeddings = spark.range(0, 2000, 1, 4)
      .selectExpr("id AS vec_id", s"CAST(pmod(${h("id", "'label'")}, 10) AS INT) AS label")
      .selectExpr("vec_id", "label",
        s"transform(sequence(0, 63), j -> 0.6D * ${gauss("label", "j", "'c'")} + ${gauss("vec_id", "j", "'n'")}) AS raw")
      .selectExpr("vec_id", "label", "sqrt(aggregate(raw, 0D, (acc, x) -> acc + x * x)) AS norm", "raw")
      .selectExpr("vec_id", "transform(raw, x -> CAST(x / norm AS FLOAT)) AS embedding", "label")

    // 150000 orders of 1-7 lines (mean 4) over 20000 parts and 1000 suppliers.
    val lineitem = spark.range(0, 150000, 1, 4)
      .selectExpr("id AS l_orderkey",
        s"explode(sequence(1, CAST(1 + pmod(${h("id", "'n1'")}, 4) + pmod(${h("id", "'n2'")}, 4) AS INT))) AS l_linenumber")
      .selectExpr("l_orderkey",
        s"pmod(${h("l_orderkey", "l_linenumber", "'p'")}, 20000) AS l_partkey",
        s"pmod(${h("l_orderkey", "l_linenumber", "'s'")}, 1000) AS l_suppkey",
        "l_linenumber",
        s"CAST(1 + pmod(${h("l_orderkey", "l_linenumber", "'q'")}, 50) AS DOUBLE) AS l_quantity",
        s"CAST(pmod(${h("l_orderkey", "l_linenumber", "'d'")}, 11) AS DOUBLE) / 100 AS l_discount",
        s"CAST(pmod(${h("l_orderkey", "l_linenumber", "'t'")}, 9) AS DOUBLE) / 100 AS l_tax",
        s"element_at(array('A', 'N', 'R'), CAST(pmod(${h("l_orderkey", "l_linenumber", "'r'")}, 3) AS INT) + 1) AS l_returnflag",
        s"element_at(array('F', 'O'), CAST(pmod(${h("l_orderkey", "l_linenumber", "'o'")}, 2) AS INT) + 1) AS l_linestatus",
        s"CAST(date_add(DATE'1992-01-01', CAST(pmod(${h("l_orderkey", "l_linenumber", "'sd'")}, 2500) AS INT)) AS TIMESTAMP_NTZ) AS l_shipdate")
      .selectExpr("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        s"round(l_quantity * (900D + CAST(pmod(${h("l_partkey", "'price'")}, 100000) AS DOUBLE) / 100), 2) AS l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")

    // computed in parallel, written as one file per table like the test data
    Seq("documents" -> documents, "embeddings" -> embeddings, "lineitem" -> lineitem).map {
      case (name, df) =>
        val path = new File(dir, s"$name.parquet")
        df.repartition(1).write.mode("overwrite").parquet(path.getPath)
        val rows = spark.read.parquet(path.getPath).count()
        val bytes = path.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
        (rows, bytes)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  /** One pass: every query built, planned and collected under its own job
    * groups (`registry_hot/<query>/<build|plan|run>`). A query that throws
    * is recorded with its error and no rows. */
  def pass(spark: SparkSession, dir: File): Seq[(Map[String, Any], Option[StructType], Array[Row])] = {
    val sc = spark.sparkContext
    val res = Queries.map { name =>
      def phase[A](p: String)(f: => A): (Double, A) = {
        sc.setJobGroup(s"registry_hot/$name/$p", s"$name $p", interruptOnCancel = false)
        val t0 = System.nanoTime()
        val a = f
        ((System.nanoTime() - t0) / 1e6, a)
      }
      val (wallStart, start) = (System.currentTimeMillis(), StealClock.now())
      val attempt = try {
        val (buildMs, df) = phase("build")(SparkEntry.queries(name)(spark, dir.getPath))
        val (planMs, _) = phase("plan")(df.queryExecution.executedPlan)
        val (runMs, rows) = phase("run")(df.collect())
        Right((buildMs, planMs, runMs, df, rows))
      } catch { case NonFatal(e) => Left(e.toString) }
      val (wallEnd, end) = (System.currentTimeMillis(), StealClock.now())
      sc.clearJobGroup()
      spark.catalog.clearCache()
      // start/end on the steal-free clock (the pass time); the wall clock
      // too, for the listener's job intervals
      val times = Map("name" -> name, "start_ms" -> start, "end_ms" -> end,
        "wall_start_ms" -> wallStart, "wall_end_ms" -> wallEnd)
      attempt match {
        case Right((b, p, r, df, rows)) =>
          (times ++ Map("build_ms" -> b, "plan_ms" -> p, "run_ms" -> r, "rows" -> rows.length,
            "digest" -> digest(rows), "error" -> ""), Some(df.schema), rows)
        case Left(err) =>
          (times ++ Map("build_ms" -> 0.0, "plan_ms" -> 0.0, "run_ms" -> 0.0, "rows" -> 0,
            "digest" -> "", "error" -> err), None, Array.empty[Row])
      }
    }
    // frames dropped: let the ContextCleaner reclaim their checkpoint blocks
    System.gc()
    res
  }

  /** Order-independent digest of a collected result: row count and the
    * sum (mod 2^64) of a hash of each row's rendering. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val sum = rows.iterator.map { r =>
      java.nio.ByteBuffer.wrap(md.digest(r.toString.getBytes("UTF-8"))).getLong
    }.foldLeft(0L)(_ + _)
    f"${rows.length}:$sum%016x"
  }

  def run(spark: SparkSession, seconds: Double, trace: Option[Trace],
      out: File, writeResults: Boolean): Map[String, Any] = {
    val dir = new File(out, "data")
    val synth = Seq.fill(2) {
      val t0 = StealClock.now()
      val r = synthesize(spark, TableSeed, dir)
      ((StealClock.now() - t0).toDouble, r)
    }
    val (rows, bytes) = synth.last._2
    Main.mark("tables synthesized")
    // one untimed pass: a cold pass times the JIT as much as the queries
    pass(spark, dir)
    val setupEndMs = StealClock.now()
    Main.mark("warm-up pass done")

    // At least `MinPasses` passes, then more while the next one still fits
    // in `seconds`. A traced run alternates untraced and traced passes.
    val t0 = System.nanoTime()
    val passes = Vector.newBuilder[(Boolean, Seq[(Map[String, Any], Option[StructType], Array[Row])])]
    var i = 0
    var lastS = 0.0
    while (i < MinPasses || (System.nanoTime() - t0) / 1e9 + lastS <= seconds) {
      val traced = trace.isDefined && i % 2 == 1
      val p0 = System.nanoTime()
      if (traced) trace.foreach(_.attach())
      passes += ((traced, pass(spark, dir)))
      if (traced) trace.foreach(_.detach())
      lastS = (System.nanoTime() - p0) / 1e9
      i += 1
    }
    val all = passes.result()
    Main.mark(s"${all.size} passes done")

    // the last pass's results, for the oracle check
    val resultsDir = new File(out, "results")
    if (writeResults) all.last._2.foreach { case (m, schema, rs) =>
      schema.foreach { sch =>
        spark.createDataFrame(rs.toSeq.asJava, sch).coalesce(1)
          .write.mode("overwrite").parquet(new File(resultsDir, m("name").toString).getPath)
      }
    }
    Map(
      "data_seed" -> TableSeed, "synth_ms" -> synth.map(_._1), "setup_end_ms" -> setupEndMs,
      "input_rows" -> rows, "input_bytes" -> bytes,
      "data_dir" -> dir.getPath, "results_dir" -> resultsDir.getPath,
      "oracle_sql" -> Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
      "passes" -> all.map { case (traced, qs) => Map("traced" -> traced, "queries" -> qs.map(_._1)) })
  }
}
