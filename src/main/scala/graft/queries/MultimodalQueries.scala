package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.sources.Tables

/** Multimodal tier: binary-column feature extraction and frame-sampling
  * row accounting, oracle-checked. Frame *bytes* are covered by ScalaTest
  * (MultimodalSpec) — DuckDB verifies the schema/row/count plumbing, which
  * is the part that must be right at scale.
  */
object MultimodalQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Binary features over the documents-backed media table. */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    Multimodal.binaryFeatures(
      Multimodal.fromDocuments(Tables.documents(spark, dir)))
      .orderBy("media_id")

  private val mediaFeaturesSql: String =
    s"""SELECT doc_id AS media_id,
       |       'text/plain' AS kind,
       |       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       |       sha256(text) AS sha256,
       |       hex(encode(substring(text, 1, 8))) AS head_hex,
       |       CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / ${Multimodal.FrameBytes}) AS INT) AS n_frames
       |FROM documents ORDER BY media_id""".stripMargin

  /** Audio chunking manifest — the metadata half of a distributed audio
    * featurization front-end (the overlapped-window plan an STFT /
    * speech-encoder ingestion runs before any codec touches bytes):
    * treat each media payload as 16-bit mono PCM at a deterministic
    * per-media sample rate (16/24/32 kHz keyed by media_id — the codec
    * itself is the explicitly-stubbed step, exactly like the resize
    * plan's pixel work), window it into 1024-sample chunks with
    * 128-sample overlap (stride 896), and emit per media the chunk
    * count, the final-chunk padding, and the total post-fanout sample
    * cost the decode stage would pay. Pure projection arithmetic
    * (codegen, no shuffle at all before the presentation sort);
    * ceil divisions are the exact (a + b − 1) div b integer form in
    * both dialects. */
  def mediaAudioChunkPlan(spark: SparkSession, dir: String): DataFrame = {
    val win = 1024L
    val stride = 896L
    Multimodal.fromDocuments(Tables.documents(spark, dir))
      .select(col("media_id"),
        (lit(16000L) + pmod(col("media_id"), lit(3)) * 8000L).as("sample_rate"),
        expr("octet_length(content) div 2").cast("long").as("n_samples"))
      .filter(col("n_samples") > 0)
      .withColumn("n_chunks",
        when(col("n_samples") <= win, lit(1L))
          .otherwise(lit(1L) +
            expr(s"(n_samples - $win + $stride - 1) div $stride")))
      .select(col("media_id"), col("sample_rate"), col("n_samples"),
        col("n_chunks"),
        (lit(win) + (col("n_chunks") - 1) * stride - col("n_samples"))
          .as("pad_samples"),
        (col("n_chunks") * win).as("fanout_samples"))
      .orderBy("media_id")
  }

  private val mediaAudioChunkPlanSql: String =
    """WITH a AS (
      |  SELECT doc_id AS media_id,
      |         16000 + (doc_id % 3) * 8000 AS sample_rate,
      |         octet_length(encode(text)) // 2 AS n_samples
      |  FROM documents
      |  WHERE octet_length(encode(text)) // 2 > 0),
      |c AS (
      |  SELECT media_id, sample_rate, n_samples,
      |         CASE WHEN n_samples <= 1024 THEN 1
      |              ELSE 1 + (n_samples - 1024 + 896 - 1) // 896 END AS n_chunks
      |  FROM a)
      |SELECT media_id, CAST(sample_rate AS BIGINT) AS sample_rate,
      |       CAST(n_samples AS BIGINT) AS n_samples,
      |       CAST(n_chunks AS BIGINT) AS n_chunks,
      |       CAST(1024 + (n_chunks - 1) * 896 - n_samples AS BIGINT) AS pad_samples,
      |       CAST(n_chunks * 1024 AS BIGINT) AS fanout_samples
      |FROM c ORDER BY media_id""".stripMargin

  /** Frame-sampling accounting: frames per media after keeping every 4th —
    * the distributed row-fanout logic of the decode path, without bytes. */
  def frameSampleCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.fromDocuments(Tables.documents(spark, dir))
      .as[Multimodal.MediaRow]
    Multimodal.sampleFrames(spark, media, everyN = 4)
      .groupBy(col("media_id"))
      .agg(count(lit(1)).cast("bigint").as("n_sampled"))
      .orderBy("media_id")
  }

  private val frameSampleCountsSql: String =
    s"""SELECT doc_id AS media_id,
       |       CAST(ceil(CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / ${Multimodal.FrameBytes}) AS DOUBLE) / 4) AS BIGINT) AS n_sampled
       |FROM documents
       |WHERE octet_length(encode(text)) > 0
       |ORDER BY media_id""".stripMargin

  /** Resize planning over the media table: aspect-fit into a 256 box,
    * no upscaling. The double arithmetic (division, multiply, floor) is
    * identical on both engines, so the plan is exactly oracle-checkable. */
  def mediaResizePlan(spark: SparkSession, dir: String): DataFrame =
    Multimodal.resizePlan(
      Multimodal.fromDocuments(Tables.documents(spark, dir)))
      .orderBy("media_id")

  private val mediaResizePlanSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |         CAST(CASE WHEN doc_id % 5 = 4 THEN 200
      |                   ELSE 320 + (doc_id % 5) * 160 END AS DOUBLE) AS w,
      |         CAST(CASE WHEN doc_id % 5 = 4 THEN 150
      |                   ELSE 240 + (doc_id % 3) * 120 END AS DOUBLE) AS h
      |  FROM documents),
      |s AS (SELECT media_id, w, h, least(256.0 / w, 256.0 / h, 1.0) AS scale FROM m)
      |SELECT media_id,
      |       CAST(w AS INT) AS width,
      |       CAST(h AS INT) AS height,
      |       CAST(floor(w * scale) AS INT) AS out_w,
      |       CAST(floor(h * scale) AS INT) AS out_h,
      |       scale < 1.0 AS scaled
      |FROM s ORDER BY media_id""".stripMargin

  /** Media-level exact dedup — the binary twin of `dedup_exact`: opaque
    * blobs grouped by content sha256 (no decode needed), minimum
    * media_id survives. One hash-shuffle on the digest; at 100 TB this
    * is the first pass of any image/audio corpus ingest, and the digest
    * doubles as the content-addressed storage key. */
  def mediaDedup(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.fromDocuments(Tables.documents(spark, dir))
    media.groupBy(sha2(col("content"), 256).as("sha256"))
      .agg(
        min(col("media_id")).as("keep_media_id"),
        count(lit(1)).as("n_copies"),
        max(octet_length(col("content"))).as("n_bytes"))
      .orderBy("sha256")
  }

  private val mediaDedupSql: String =
    """SELECT sha256(text) AS sha256,
      |       min(doc_id) AS keep_media_id,
      |       count(*) AS n_copies,
      |       CAST(max(octet_length(encode(text))) AS INT) AS n_bytes
      |FROM documents
      |GROUP BY 1
      |ORDER BY sha256""".stripMargin

  /** CLIP-pairing shape: media (binary payload) equi-joined with its
    * embedding row — the join that assembles a multimodal training set
    * from a media table and a separately-produced embedding table. Both
    * sides are corpus-sized at 100 TB, so this is a plain shuffled
    * equi-join on the id (co-partitioning/bucketing both tables by id
    * makes it shuffle-free); no broadcast. The embedding feature is an
    * exact-integer micro-unit sum, so the pair rows hash identically
    * cross-engine. */
  def mediaCaptionPairs(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.fromDocuments(Tables.documents(spark, dir))
    val emb = Tables.embeddings(spark, dir)
    media.join(emb, media("media_id") === emb("vec_id"))
      .select(
        col("media_id"), col("kind"),
        octet_length(col("content")).as("n_bytes"),
        col("meta.n_frames").as("n_frames"),
        size(col("embedding")).as("dim"),
        col("label"),
        expr("aggregate(embedding, 0L, (acc, x) -> " +
          "acc + cast(round(cast(x as double) * 1000000) as bigint))")
          .as("emb_sum_micro"))
      .orderBy("media_id")
  }

  private val mediaCaptionPairsSql: String =
    s"""SELECT d.doc_id AS media_id,
      |       'text/plain' AS kind,
      |       CAST(octet_length(encode(d.text)) AS INT) AS n_bytes,
      |       CAST(ceil(CAST(octet_length(encode(d.text)) AS DOUBLE) / ${Multimodal.FrameBytes}) AS INT) AS n_frames,
      |       CAST(len(e.embedding) AS INT) AS dim,
      |       e.label,
      |       CAST(list_sum(list_transform(e.embedding,
      |              x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS emb_sum_micro
      |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |ORDER BY media_id""".stripMargin

  /** Pairing-coverage report for the CLIP join: how much of each side
    * actually pairs (full outer join + one aggregate). At sf0.1 the
    * embedding table covers only part of the media table, so the three
    * counters are all non-trivial. The 100 TB shape is the same
    * id-keyed shuffle as [[mediaCaptionPairs]] followed by a scalar agg. */
  def mediaPairingCoverage(spark: SparkSession, dir: String): DataFrame = {
    val m = Multimodal.fromDocuments(Tables.documents(spark, dir))
      .select(col("media_id"))
    val e = Tables.embeddings(spark, dir).select(col("vec_id"))
    m.join(e, m("media_id") === e("vec_id"), "full_outer")
      .agg(
        count(when(col("media_id").isNotNull && col("vec_id").isNotNull, 1))
          .as("n_paired"),
        count(when(col("vec_id").isNull, 1)).as("n_media_only"),
        count(when(col("media_id").isNull, 1)).as("n_embedding_only"))
      .withColumn("media_coverage",
        floor(col("n_paired") * 1e4 / (col("n_paired") + col("n_media_only"))) / lit(1e4))
  }

  private val mediaPairingCoverageSql: String =
    """WITH j AS (
      |  SELECT d.doc_id AS media_id, e.vec_id
      |  FROM documents d FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id)
      |SELECT count(CASE WHEN media_id IS NOT NULL AND vec_id IS NOT NULL THEN 1 END) AS n_paired,
      |       count(CASE WHEN vec_id IS NULL THEN 1 END) AS n_media_only,
      |       count(CASE WHEN media_id IS NULL THEN 1 END) AS n_embedding_only,
      |       floor(count(CASE WHEN media_id IS NOT NULL AND vec_id IS NOT NULL THEN 1 END) * 1e4
      |             / (count(CASE WHEN media_id IS NOT NULL AND vec_id IS NOT NULL THEN 1 END)
      |                + count(CASE WHEN vec_id IS NULL THEN 1 END))) / 1e4 AS media_coverage
      |FROM j""".stripMargin

  /** EXIF-style typed-metadata extraction: header write + parse-back over
    * the binary column, validity-gated on the magic (1-in-97 rows carry no
    * header and must yield NULL metadata, not a cast error). Byte-offset
    * field access on an opaque blob — the access pattern of real EXIF/IFD
    * readers — as a pure codegen projection. */
  def mediaExifMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.exifMeta(
      Multimodal.withExifHeader(
        Multimodal.fromDocuments(Tables.documents(spark, dir))))
      .orderBy("media_id")

  private val mediaExifMetaSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id, text,
      |         CAST(CASE WHEN doc_id % 5 = 4 THEN 200
      |                   ELSE 320 + (doc_id % 5) * 160 END AS INT) AS w,
      |         CAST(CASE WHEN doc_id % 5 = 4 THEN 150
      |                   ELSE 240 + (doc_id % 3) * 120 END AS INT) AS h
      |  FROM documents),
      |s AS (
      |  SELECT media_id,
      |         CASE WHEN media_id % 97 = 0 THEN text
      |              ELSE 'EXIF' || lpad(CAST(w AS VARCHAR), 5, '0')
      |                          || lpad(CAST(h AS VARCHAR), 5, '0')
      |                          || CAST(media_id % 8 + 1 AS VARCHAR) || text
      |         END AS sh
      |  FROM m),
      |p AS (SELECT media_id, sh, substring(sh, 1, 4) = 'EXIF' AS magic_ok FROM s)
      |SELECT media_id, magic_ok,
      |       CASE WHEN magic_ok THEN TRY_CAST(substring(sh, 5, 5) AS INT) END AS width,
      |       CASE WHEN magic_ok THEN TRY_CAST(substring(sh, 10, 5) AS INT) END AS height,
      |       CASE WHEN magic_ok THEN TRY_CAST(substring(sh, 15, 1) AS INT) END AS orientation,
      |       CAST(octet_length(encode(sh)) - CASE WHEN magic_ok THEN 15 ELSE 0 END AS INT) AS payload_bytes
      |FROM p ORDER BY media_id""".stripMargin

  /** Cross-modal retrieval (the CLIP-search capstone of the multimodal
    * tier): a handful of query embeddings (standing in for encoded text
    * prompts) retrieve the top-3 nearest media items by embedding cosine,
    * then join back to the media table for the payload identity (bytes +
    * content digest) a serving layer would fetch. Shape at 100 TB: |Q| is
    * constant so the similarity scan is one broadcast pass over the
    * embedding table (or the IVF probe at higher corpus sizes); the
    * join-back is an id equi-join that bucketing makes shuffle-free. */
  def mediaClipRetrieval(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dotFast
    val dotF = dotFast(spark) _
    val media = Multimodal.binaryFeatures(
      Multimodal.fromDocuments(Tables.documents(spark, dir)))
      .select(col("media_id"), col("n_bytes"), col("sha256"))
    val emb = Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(dotF(col("embedding"), col("embedding"))))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim",
        round(dotF(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id").as("media_id"), col("cos_sim"))
      .join(media, "media_id")
      .select("q_id", "rank", "media_id", "cos_sim", "n_bytes", "sha256")
      .orderBy("q_id", "rank")
  }

  private val mediaClipRetrievalSql: String =
    """WITH pairs AS (
      |  SELECT b.vec_id AS q_id, a.vec_id AS media_id,
      |         round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |               (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
      |                sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos_sim
      |  FROM embeddings a
      |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) b
      |  WHERE a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT q_id, media_id, cos_sim,
      |         row_number() OVER (PARTITION BY q_id
      |                            ORDER BY cos_sim DESC, media_id) AS rank
      |  FROM pairs)
      |SELECT r.q_id, r.rank, r.media_id, r.cos_sim,
      |       CAST(octet_length(encode(d.text)) AS INT) AS n_bytes,
      |       sha256(d.text) AS sha256
      |FROM ranked r JOIN documents d ON d.doc_id = r.media_id
      |WHERE r.rank <= 3
      |ORDER BY r.q_id, r.rank""".stripMargin

  /** Row-level frame manifest — the declarative twin of the mapPartitions
    * decode fan-out: one row per KEPT frame (every 4th), with the exact
    * byte length the codec slice will have (`min(FrameBytes, remaining)`).
    * This upgrades the decode path's oracle from counts to rows:
    * `frame_sample_counts` checks how many, this checks WHICH frames and
    * how many bytes each — and `MultimodalSpec` proves the imperative
    * `sampleFrames` emits exactly these (media_id, frame_idx, length)
    * triples. Pure explode-over-sequence: codegen, no shuffle. */
  def frameManifest(spark: SparkSession, dir: String): DataFrame =
    Multimodal.fromDocuments(Tables.documents(spark, dir))
      .select(col("media_id"),
        octet_length(col("content")).as("n_bytes"),
        col("meta.n_frames").as("n_frames"))
      .filter(col("n_frames") > 0)
      .select(col("media_id"), col("n_bytes"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
      .filter(col("frame_idx") % 4 === 0)
      .select(col("media_id"), col("frame_idx"),
        least(lit(Multimodal.FrameBytes),
          col("n_bytes") - col("frame_idx") * Multimodal.FrameBytes)
          .cast("int").as("frame_len"))
      .orderBy("media_id", "frame_idx")

  private val frameManifestSql: String =
    s"""WITH m AS (
       |  SELECT doc_id AS media_id,
       |         CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       |         CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / ${Multimodal.FrameBytes}) AS INT) AS n_frames
       |  FROM documents),
       |f AS (
       |  SELECT media_id, n_bytes, CAST(u.i AS INT) AS frame_idx
       |  FROM m, LATERAL (SELECT unnest(range(0, CAST(n_frames AS BIGINT))) AS i) u
       |  WHERE n_frames > 0)
       |SELECT media_id, frame_idx,
       |       CAST(least(${Multimodal.FrameBytes}, n_bytes - frame_idx * ${Multimodal.FrameBytes}) AS INT) AS frame_len
       |FROM f
       |WHERE frame_idx % 4 = 0
       |ORDER BY media_id, frame_idx""".stripMargin

  /** Perceptual-hash near-dup for media — the family member between exact
    * blob dedup (`media_dedup`, sha256: one flipped byte escapes) and
    * embedding near-dup (needs a model): a 48-bit block pHash where bit j
    * is the md5 parity of the j-th fixed-width block of the DECODED
    * payload, so a localized edit flips only its block's bits and
    * near-identical media land within small Hamming distance. The decode
    * step is the identity for this text/plain-backed media table (the
    * same stub boundary as frame sampling — a real codec would replace
    * it); the hash, banding and verify plumbing is the production path:
    * the SAME 2×24-bit pigeonhole banding as `simhash_banded_dup`
    * (equi-join on (band, chunk) — complete for Hamming ≤ 1, candidates
    * ∝ dup pairs, never corpus²) with bit_count verification. */
  def mediaPhashDups(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.QueryConventions.MaterializeSyntax
    val media = Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"), col("text").as("payload"))
      .withColumn("blen",
        greatest(ceil(length(col("payload")).cast("double") / 48).cast("int"), lit(1)))
    val bits = (0 until 48).map { j =>
      when(expr(
        s"CAST(conv(substring(md5(substring(payload, 1 + $j * blen, blen)), 1, 15), 16, 10) AS BIGINT) % 2") === 1,
        lit(1L << j)).otherwise(lit(0L))
    }
    val ph = media.select(col("media_id"), bits.reduce(_ + _).as("phash"))
      .materializeOnce // both sides of the banding join
    val banded = ph
      .select(col("media_id"), col("phash"), explode(sequence(lit(0), lit(1))).as("band"))
      .withColumn("chunk", expr("(phash >> (band * 24)) & 16777215"))
    val a = banded.select(col("media_id").as("a_id"), col("phash").as("ha"),
      col("band"), col("chunk"))
    val b = banded.select(col("media_id").as("b_id"), col("phash").as("hb"),
      col("band"), col("chunk"))
    a.join(b, Seq("band", "chunk"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "ha", "hb").distinct()
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= 1)
      .select(col("a_id"), col("b_id"), col("hamming").cast("int").as("hamming"))
      .orderBy("a_id", "b_id")
  }

  private val mediaPhashDupsSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id, text AS payload,
      |         greatest(CAST(ceil(length(text) / 48.0) AS INT), 1) AS blen
      |  FROM documents),
      |ph AS (
      |  SELECT media_id,
      |         CAST(sum(CASE WHEN CAST('0x' || substring(md5(substring(payload, 1 + j * blen, blen)), 1, 15) AS BIGINT) % 2 = 1
      |                       THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS phash
      |  FROM m CROSS JOIN (SELECT unnest(range(0, 48)) AS j) jt
      |  GROUP BY media_id),
      |banded AS (
      |  SELECT media_id, phash, b.band,
      |         (phash >> (b.band * 24)) & 16777215 AS chunk
      |  FROM ph CROSS JOIN (VALUES (0), (1)) b(band)),
      |cand AS (
      |  SELECT DISTINCT a.media_id AS a_id, b.media_id AS b_id,
      |                  a.phash AS ha, b.phash AS hb
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.chunk = b.chunk AND a.media_id < b.media_id)
      |SELECT a_id, b_id, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
      |FROM cand WHERE bit_count(xor(ha, hb)) <= 1
      |ORDER BY a_id, b_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "media_phash_dups"   -> (mediaPhashDups _),
    "frame_manifest"       -> (frameManifest _),
    "media_clip_retrieval" -> (mediaClipRetrieval _),
    "media_dedup"        -> (mediaDedup _),
    "media_features"      -> (mediaFeatures _),
    "media_resize_plan"   -> (mediaResizePlan _),
    "media_audio_chunk_plan" -> (mediaAudioChunkPlan _),
    "frame_sample_counts" -> (frameSampleCounts _),
    "media_caption_pairs" -> (mediaCaptionPairs _),
    "media_pairing_coverage" -> (mediaPairingCoverage _),
    "media_exif_meta"     -> (mediaExifMeta _))

  val oracle: Map[String, String] = Map(
    "media_phash_dups"   -> mediaPhashDupsSql,
    "frame_manifest"       -> frameManifestSql,
    "media_clip_retrieval" -> mediaClipRetrievalSql,
    "media_dedup"        -> mediaDedupSql,
    "media_features"      -> mediaFeaturesSql,
    "media_resize_plan"   -> mediaResizePlanSql,
    "media_audio_chunk_plan" -> mediaAudioChunkPlanSql,
    "frame_sample_counts" -> frameSampleCountsSql,
    "media_caption_pairs" -> mediaCaptionPairsSql,
    "media_pairing_coverage" -> mediaPairingCoverageSql,
    "media_exif_meta"     -> mediaExifMetaSql)
}
