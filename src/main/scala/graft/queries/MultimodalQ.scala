package graft.queries

import org.apache.spark.sql.functions._
import graft.io.{ParquetSchema, Tables}
import graft.ops.Multimodal

/** Multimodal metadata extraction exercised through the real typed
  * mapPartitions path, with documents.text cast to binary standing in
  * for media bytes (ASCII ⇒ the oracle can recompute every field with
  * string functions). The stub decode is deterministic from the bytes,
  * so even the fake dimensions are oracle-checked.
  */
object MultimodalQ {

  val qMultimodalMeta = Q(
    "q_multimodal_meta",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
        .withColumn("kind",
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video"))
      val media = Multimodal.asMedia(docs, "doc_id", "kind", "text")
      Multimodal.extractMeta(media)
        .toDF()
        .withColumnRenamed("media_id", "doc_id")
        .select("doc_id", "kind", "n_bytes", "header_hex", "checksum",
          "width", "height", "duration_ms")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image'
             WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        CAST(len(text) AS BIGINT) AS n_bytes,
        hex(substring(text, 1, 4)) AS header_hex,
        md5(text) AS checksum,
        64 + ascii(substring(text, 1, 1)) % 64 AS width,
        64 + ascii(substring(text, 2, 1)) % 64 AS height,
        CAST(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE len(text) END AS BIGINT) AS duration_ms
      FROM documents ORDER BY doc_id""")
  )

  /** Frame sampling: video content chopped into fixed-size "frames",
    * every 2nd kept — the map-side row-explosion shape of a real
    * frame-extraction pass (rows multiply before any exchange; bytes
    * of non-sampled frames are never materialized downstream). Oracle
    * recomputes the sampled (index, offset, length) triples from
    * content length alone.
    */
  val qMultimodalFrames = Q(
    "q_multimodal_frames",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
        .withColumn("kind",
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video"))
      val media = Multimodal.asMedia(docs, "doc_id", "kind", "text")
      Multimodal.sampleFrames(media, frameBytes = 64, everyNth = 2)
        .toDF()
        .withColumnRenamed("media_id", "doc_id")
        .orderBy("doc_id", "frame_idx")
    },
    Some("""WITH v AS (SELECT doc_id, len(text) AS n FROM documents
          WHERE doc_id % 3 = 2),
        f AS (SELECT doc_id, unnest(range(0, (n + 63) // 64, 2)) AS fi, n
          FROM v)
      SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
        fi * 64 AS byte_offset,
        CAST(least(64, n - fi * 64) AS INTEGER) AS n_bytes
      FROM f ORDER BY doc_id, frame_idx""")
  )

  /** Resize / re-encode: binary-in binary-out content transform (stub:
    * truncate to 128 bytes) chained into metadata extraction — the
    * typed Dataset pipeline a real thumbnailing/transcoding pass runs
    * (map-only, bytes never shuffle). Oracle recomputes every output
    * field from the truncated prefix.
    */
  val qMultimodalResize = Q(
    "q_multimodal_resize",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
        .withColumn("kind",
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video"))
      val media = Multimodal.asMedia(docs, "doc_id", "kind", "text")
      Multimodal.extractMeta(Multimodal.resize(media, maxBytes = 128))
        .toDF()
        .withColumnRenamed("media_id", "doc_id")
        .select("doc_id", "kind", "n_bytes", "header_hex", "checksum",
          "width", "height", "duration_ms")
        .orderBy("doc_id")
    },
    Some("""WITH r AS (SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN 'image'
               WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
          substring(text, 1, 128) AS t
        FROM documents)
      SELECT doc_id, kind,
        CAST(len(t) AS BIGINT) AS n_bytes,
        hex(substring(t, 1, 4)) AS header_hex,
        md5(t) AS checksum,
        64 + ascii(substring(t, 1, 1)) % 64 AS width,
        64 + ascii(substring(t, 2, 1)) % 64 AS height,
        CAST(CASE WHEN kind = 'image' THEN 0 ELSE len(t) END AS BIGINT) AS duration_ms
      FROM r ORDER BY doc_id""")
  )

  /** Audio face of the surface: sample rate / channels / duration for
    * audio-kind rows via the typed per-partition decode. The stub
    * derives them from header bytes 3-4 (a real decoder reads the WAV
    * fmt chunk there), so the oracle recomputes every field with
    * string functions.
    */
  val qMultimodalAudio = Q(
    "q_multimodal_audio",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
        .withColumn("kind",
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video"))
      val media = Multimodal.asMedia(docs, "doc_id", "kind", "text")
      Multimodal.extractAudioMeta(media)
        .toDF()
        .withColumnRenamed("media_id", "doc_id")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
        CAST(len(text) AS BIGINT) AS n_bytes,
        ([8000,16000,22050,44100,48000])[1 + ascii(substring(text, 3, 1)) % 5] AS sample_rate,
        1 + ascii(substring(text, 4, 1)) % 2 AS channels,
        CAST(len(text) AS BIGINT) AS duration_ms
      FROM documents WHERE doc_id % 3 = 1 ORDER BY doc_id""")
  )

  /** Perceptual image hashing (see
    * [[graft.ops.Multimodal.imageHashes]]): 64-bit average-hash per
    * image row plus the exact-dup group it lands in — the feature
    * pass of image near-dup dedup (near-dup pairing over these keys
    * is the q_dedup_simhash_ham Hamming-pigeonhole shape). The
    * synthetic ASCII corpus takes the stub path (60-bit md5-prefix
    * content hash — exactly what the oracle recomputes); REAL pixel
    * aHash on encoded PNGs is pinned in MultimodalSpec, where
    * near-identical images land within Hamming 4 and unrelated ones
    * don't.
    */
  val qMediaPhash = Q(
    "q_media_phash",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(spark, dir)
        .withColumn("kind",
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video"))
      val media = Multimodal.asMedia(docs, "doc_id", "kind", "text")
      Multimodal.imageHashes(media)
        .toDF()
        .withColumnRenamed("media_id", "doc_id")
        .withColumn("group_size",
          count(lit(1)).over(Window.partitionBy(col("ahash"))))
        .withColumn("rep_id",
          min(col("doc_id")).over(Window.partitionBy(col("ahash"))))
        .orderBy("doc_id")
    },
    Some("""WITH h AS (SELECT doc_id,
          CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS ahash
        FROM documents WHERE doc_id % 3 = 0)
      SELECT doc_id, ahash,
        count(*) OVER (PARTITION BY ahash) AS group_size,
        min(doc_id) OVER (PARTITION BY ahash) AS rep_id
      FROM h ORDER BY doc_id""")
  )

  /** Image NEAR-dup pairs (see
    * [[graft.ops.Multimodal.imageNearDups]]): Hamming-banded
    * candidate generation + bit_count verify over the perceptual
    * hash — what exact-hash grouping (q_media_phash) misses. The
    * corpus is perturbed IN-QUERY into controlled twins (the
    * q_dedup_nfc pattern): each image gains a near twin at Hamming 2
    * (`ahash ^ 3` — a re-encode's low-bit drift) and a far twin at
    * Hamming 9 spread across bands (`ahash ^ 0x111111111`); the
    * operator must pair every original with its near twin and
    * nothing else. The oracle replays the shift/mask banding, the
    * bucketed self-join, and bit_count(xor) bit-for-bit.
    */
  val qMediaDedup = Q(
    "q_media_dedup",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
        .withColumn("kind",
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video"))
      val hashes = Multimodal
        .imageHashes(Multimodal.asMedia(docs, "doc_id", "kind", "text"))
        .toDF().select(col("media_id").as("doc_id"), col("ahash"))
      val near = hashes.select((col("doc_id") + 100000L).as("doc_id"),
        col("ahash").bitwiseXOR(lit(3L)).as("ahash"))
      val far = hashes.select((col("doc_id") + 200000L).as("doc_id"),
        col("ahash").bitwiseXOR(lit(0x111111111L)).as("ahash"))
      Multimodal.imageNearDups(
          hashes.unionByName(near).unionByName(far),
          idCol = "doc_id", hashCol = "ahash", bands = 4, maxHamming = 3)
        .orderBy("i", "j")
    },
    Some("""WITH h0 AS (SELECT doc_id,
          CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS ahash
        FROM documents WHERE doc_id % 3 = 0),
      h AS (SELECT doc_id, ahash FROM h0
        UNION ALL SELECT doc_id + 100000, xor(ahash, 3) FROM h0
        UNION ALL SELECT doc_id + 200000, xor(ahash, 4581298449) FROM h0),
      k AS (SELECT doc_id, ahash, band,
          (ahash >> (band * 15)) & 32767 AS key
        FROM h, unnest(range(0, 4)) AS t(band)),
      cand AS (SELECT DISTINCT x.doc_id AS i, y.doc_id AS j,
          x.ahash AS ha, y.ahash AS hb
        FROM k x JOIN k y
        ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
      SELECT i, j, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
      FROM cand WHERE bit_count(xor(ha, hb)) <= 3 ORDER BY i, j""")
  )

  /** Incremental image near-dup (see
    * [[graft.ops.Multimodal.imageNearDupsIncremental]]): the
    * per-ingest delta pass — a NEW image is dropped iff an AT-REST
    * corpus image sits within Hamming 3 of its perceptual hash. The
    * new batch is built in-query as one near twin (Hamming 2 — must
    * be DROPPED) and one far twin (Hamming 9 — must be KEPT) per
    * corpus image, so both verdicts are exercised on every row. Same
    * band-postings discipline as q_dedup_incr, integer keys.
    */
  val qMediaDedupIncr = Q(
    "q_media_dedup_incr",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
        .withColumn("kind",
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video"))
      val corpus = Multimodal
        .imageHashes(Multimodal.asMedia(docs, "doc_id", "kind", "text"))
        .toDF().select(col("media_id").as("doc_id"), col("ahash"))
      val newBatch = corpus
        .select((col("doc_id") + 100000L).as("doc_id"),
          col("ahash").bitwiseXOR(lit(3L)).as("ahash"))
        .unionByName(corpus
          .select((col("doc_id") + 200000L).as("doc_id"),
            col("ahash").bitwiseXOR(lit(0x111111111L)).as("ahash")))
      Multimodal.imageNearDupsIncremental(newBatch, corpus,
          idCol = "doc_id", hashCol = "ahash", bands = 4, maxHamming = 3)
        .orderBy("doc_id")
    },
    Some(MediaDedupIncrOracle)
  )

  /** Shared by q_media_dedup_incr and its streaming face: the stream
    * accumulates EXACTLY the batch incremental's verdicts (each
    * verdict row depends only on its own input row + the static
    * postings), so one oracle serves both.
    */
  private def MediaDedupIncrOracle: String =
    """WITH h0 AS (SELECT doc_id,
          CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS ahash
        FROM documents WHERE doc_id % 3 = 0),
      nw AS (SELECT doc_id + 100000 AS doc_id, xor(ahash, 3) AS ahash FROM h0
        UNION ALL SELECT doc_id + 200000, xor(ahash, 4581298449) FROM h0),
      kn AS (SELECT doc_id, ahash, band,
          (ahash >> (band * 15)) & 32767 AS key
        FROM nw, unnest(range(0, 4)) AS t(band)),
      kc AS (SELECT doc_id, ahash, band,
          (ahash >> (band * 15)) & 32767 AS key
        FROM h0, unnest(range(0, 4)) AS t(band)),
      cand AS (SELECT DISTINCT n.doc_id AS i, n.ahash AS ha,
          c.doc_id AS j, c.ahash AS hb
        FROM kn n JOIN kc c ON n.band = c.band AND n.key = c.key),
      m AS (SELECT i, count(*) AS n_matches FROM cand
        WHERE bit_count(xor(ha, hb)) <= 3 GROUP BY i)
      SELECT nw.doc_id, coalesce(m.n_matches, 0) AS n_matches,
        coalesce(m.n_matches, 0) = 0 AS keep
      FROM nw LEFT JOIN m ON m.i = nw.doc_id
      ORDER BY nw.doc_id"""

  /** STREAMING media near-dup (see
    * [[graft.ops.Multimodal.imageNearDupsStream]]): the live-intake
    * face of q_media_dedup_incr — the corpus's Hamming band postings
    * are built ONCE and persisted (the at-rest artifact), the new
    * images arrive as a file stream, are hashed in-stream
    * (mapPartitions codec — streaming-compatible), twinned into the
    * same near/far perturbations, and verdict-ed per micro-batch
    * with bounded per-trigger emission appended to a log. Oracle:
    * identical to q_media_dedup_incr — what's checked is that the
    * accumulated per-trigger log loses nothing vs the batch pass.
    */
  val qStreamMediaDedup = Q(
    "q_stream_media_dedup",
    (spark, dir) => {
      val work = java.nio.file.Files
        .createTempDirectory("stream_media_dedup").toString
      val docs = Tables.documents(spark, dir)
        .withColumn("kind",
          when(col("doc_id") % 3 === 0, "image").otherwise("other"))
      val corpus = Multimodal
        .imageHashes(Multimodal.asMedia(docs, "doc_id", "kind", "text"))
        .toDF().select(col("media_id").as("doc_id"), col("ahash"))
      val postings = Multimodal.imageBandPostings(corpus,
        idCol = "doc_id", hashCol = "ahash", bands = 4, maxHamming = 3)
        .persist()
      val docStream = spark.readStream
        .schema(Tables.documents(spark, dir).schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .withColumn("kind",
          when(col("doc_id") % 3 === 0, "image").otherwise("other"))
      val hashStream = Multimodal
        .imageHashes(Multimodal.asMedia(docStream, "doc_id", "kind", "text"))
        .toDF().select(col("media_id").as("doc_id"), col("ahash"))
      val newStream = hashStream.select(explode(array(
          struct((col("doc_id") + 100000L).as("doc_id"),
            col("ahash").bitwiseXOR(lit(3L)).as("ahash")),
          struct((col("doc_id") + 200000L).as("doc_id"),
            col("ahash").bitwiseXOR(lit(0x111111111L)).as("ahash"))))
          .as("t"))
        .select(col("t.doc_id"), col("t.ahash"))
      val q = Multimodal.imageNearDupsStream(newStream, postings,
        outDir = s"$work/out", checkpointDir = s"$work/ckpt",
        idCol = "doc_id", hashCol = "ahash", bands = 4, maxHamming = 3)
      q.awaitTermination()
      postings.unpersist()
      ParquetSchema.read(spark, s"$work/out").orderBy("doc_id")
    },
    Some(MediaDedupIncrOracle)
  )

  def all: Seq[Q] = Seq(qMultimodalMeta, qMultimodalFrames, qMultimodalResize,
    qMultimodalAudio, qMediaPhash, qMediaDedup, qMediaDedupIncr,
    qStreamMediaDedup)
}
