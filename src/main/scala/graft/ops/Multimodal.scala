package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal columns for training-data pipelines: image/audio/video
  * handled as opaque `binary` columns plus typed metadata, processed
  * per-partition so codec state is initialized once per task, not per
  * row — the Scala analogue of an Arrow-batched decode UDF.
  *
  * The decode sits behind a [[MediaCodec]] interface. The default
  * [[ImageIoCodec]] does REAL decodes where the JDK alone suffices —
  * PNG/JPEG/GIF/BMP dimensions via `javax.imageio` header reads and
  * WAV fmt-chunk parsing for audio — and falls back to the
  * deterministic [[StubCodec]] for bytes no JDK codec recognizes
  * (which is also what keeps the synthetic ASCII test corpus
  * oracle-checkable: fake bytes take the fake-dimension path, real
  * media takes the real one). Video still needs ffmpeg-class native
  * deps, so it remains stub-only. Everything around the codec — the
  * binary schema, the typed Dataset plumbing, the mapPartitions batch
  * shape, partition-level codec lifecycle, the frame-sampling explode
  * — is independent of which codec runs.
  *
  * Scale: content bytes never shuffle — metadata extraction is
  * map-only; downstream joins/apply work on the (small) metadata,
  * and frame sampling multiplies rows map-side before any exchange.
  */
object Multimodal {

  /** The codec contract the pipeline relies on: bytes in, typed
    * metadata out, `open()` called once per PARTITION (load native
    * libs, allocate buffers) and never per row. Implementations must
    * be total — undecodable bytes get a deterministic fallback, never
    * an exception, so one corrupt file cannot fail a 100 TB stage
    * (corruption is visible as stub-valued dimensions plus the
    * checksum/magic columns, and a pipeline filters on those).
    */
  trait MediaCodec extends Serializable {
    def open(): MediaCodec = this
    def decodeDims(kind: String, bytes: Array[Byte]): (Int, Int, Long)
    def decodeAudio(bytes: Array[Byte]): (Int, Int, Long)

    /** 64-bit perceptual average-hash of an image (8×8 block-mean
      * grayscale, bit b set iff block b is brighter than the global
      * mean) — the key of image near-dup dedup. Non-image bytes take
      * the deterministic 60-bit md5-prefix stand-in (content hash:
      * exact-dup only — the honest non-perceptual fallback).
      */
    def decodeAHash(bytes: Array[Byte]): Long
  }

  final case class MediaFile(media_id: Long, kind: String, content: Array[Byte])

  final case class MediaMeta(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      header_hex: String, // first 4 bytes, uppercase hex (magic number)
      checksum: String, // md5 of content
      width: Int,
      height: Int,
      duration_ms: Long)

  final case class Frame(media_id: Long, frame_idx: Int, byte_offset: Long, n_bytes: Int)

  final case class AudioMeta(
      media_id: Long,
      n_bytes: Long,
      sample_rate: Int,
      channels: Int,
      duration_ms: Long)

  final case class MediaHash(media_id: Long, ahash: Long)

  implicit val mediaHashEnc: Encoder[MediaHash] = Encoders.product[MediaHash]
  implicit val mediaFileEnc: Encoder[MediaFile] = Encoders.product[MediaFile]
  implicit val mediaMetaEnc: Encoder[MediaMeta] = Encoders.product[MediaMeta]
  implicit val frameEnc: Encoder[Frame] = Encoders.product[Frame]
  implicit val audioMetaEnc: Encoder[AudioMeta] = Encoders.product[AudioMeta]

  /** ??? in spirit — the deterministic fake decoder, used directly for
    * kinds with no JDK codec (video) and as [[ImageIoCodec]]'s
    * fallback for unrecognizable bytes. Dimensions derive from the
    * first content bytes so even the fake values are oracle-checkable.
    */
  object StubCodec extends MediaCodec {

    def decodeDims(kind: String, bytes: Array[Byte]): (Int, Int, Long) = {
      val b0 = if (bytes.nonEmpty) bytes(0) & 0xff else 0
      val b1 = if (bytes.length > 1) bytes(1) & 0xff else 0
      val width = 64 + b0 % 64
      val height = 64 + b1 % 64
      val durationMs = if (kind == "video" || kind == "audio") bytes.length.toLong else 0L
      (width, height, durationMs)
    }

    /** Audio header stand-ins: a real decoder reads these from the WAV
      * fmt / MP3 frame header; the stub derives them deterministically
      * from header bytes 3-4 so the Spark-side plumbing stays
      * oracle-checkable.
      */
    val SampleRates: Array[Int] = Array(8000, 16000, 22050, 44100, 48000)

    def decodeAudio(bytes: Array[Byte]): (Int, Int, Long) = {
      val b2 = if (bytes.length > 2) bytes(2) & 0xff else 0
      val b3 = if (bytes.length > 3) bytes(3) & 0xff else 0
      (SampleRates(b2 % SampleRates.length), 1 + b3 % 2, bytes.length.toLong)
    }

    /** 60-bit md5-prefix content hash (positive in a Long; same
      * '0x'||substring(md5, 1, 15) form the oracles use) — collapses
      * EXACT duplicates only, which is all a content hash can honestly
      * claim for undecodable bytes.
      */
    def decodeAHash(bytes: Array[Byte]): Long =
      java.lang.Long.parseLong(md5Hex(bytes).substring(0, 15), 16)
  }

  /** Real JDK-only media decode: PNG/JPEG/GIF/BMP dimensions via a
    * `javax.imageio` HEADER read (the reader parses IHDR/SOF/etc. and
    * answers getWidth/getHeight without decoding the raster — the
    * right cost model for metadata extraction over binary columns:
    * O(header) per row, not O(pixels)), and WAV sample rate / channels
    * / duration from the RIFF fmt chunk. Bytes that are not
    * recognizable media fall back to [[StubCodec]] deterministically —
    * never an exception (see [[MediaCodec]]'s totality contract).
    * No native dependencies: ImageIO's standard plugin set ships in
    * every JDK.
    */
  object ImageIoCodec extends MediaCodec {

    private def magicIsImage(b: Array[Byte]): Boolean =
      b.length >= 4 && (
        (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
        (b(0) == 0xff.toByte && b(1) == 0xd8.toByte && b(2) == 0xff.toByte) ||
        (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||
        (b(0) == 'B' && b(1) == 'M'))

    /** Header-only dimension read; None when no installed reader
      * claims the bytes or the header is corrupt.
      */
    private[ops] def imageDims(bytes: Array[Byte]): Option[(Int, Int)] = {
      if (!magicIsImage(bytes)) return None
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val r = readers.next()
            try {
              r.setInput(iis, true, true)
              Some((r.getWidth(0), r.getHeight(0)))
            } finally r.dispose()
          }
        } finally iis.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    private def le16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
    private def le32(b: Array[Byte], off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

    /** WAV fmt-chunk parse: (sampleRate, channels, durationMs) from a
      * canonical RIFF/WAVE layout (fmt chunk walked to wherever it
      * sits; duration = data-chunk bytes / byte rate). None for
      * non-WAV or truncated headers.
      */
    private[ops] def wavMeta(b: Array[Byte]): Option[(Int, Int, Long)] = {
      def tag(off: Int, s: String): Boolean =
        b.length >= off + 4 && s.indices.forall(i => b(off + i) == s(i).toByte)
      if (!(tag(0, "RIFF") && tag(8, "WAVE"))) return None
      try {
        var off = 12
        var fmt: Option[(Int, Int, Long)] = None // (rate, channels, byteRate)
        var dataLen = -1L
        while (off + 8 <= b.length && (fmt.isEmpty || dataLen < 0)) {
          val size = le32(b, off + 4)
          if (tag(off, "fmt ") && off + 8 + 16 <= b.length)
            fmt = Some((le32(b, off + 12).toInt, le16(b, off + 10),
              le32(b, off + 16)))
          else if (tag(off, "data")) dataLen = size
          off += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
        }
        fmt.collect { case (rate, ch, byteRate)
            if rate > 0 && ch > 0 && byteRate > 0 && dataLen >= 0 =>
          (rate, ch, dataLen * 1000L / byteRate)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    override def decodeDims(kind: String, bytes: Array[Byte]): (Int, Int, Long) =
      if (kind == "image")
        imageDims(bytes) match {
          case Some((w, h)) => (w, h, 0L)
          case None => StubCodec.decodeDims(kind, bytes)
        }
      else StubCodec.decodeDims(kind, bytes)

    override def decodeAudio(bytes: Array[Byte]): (Int, Int, Long) =
      wavMeta(bytes).getOrElse(StubCodec.decodeAudio(bytes))

    /** Real pixel-level average-hash: full raster decode (unlike the
      * header-only dimension read — feature extraction pays O(pixels)
      * by nature), then an 8×8 BLOCK-MEAN downscale in exact integer
      * arithmetic (never Graphics2D scaling, whose interpolation is
      * rendering-hint- and platform-dependent): pixel (x,y) joins
      * block (y·8/h, x·8/w); bit b of the hash is set iff block b's
      * mean gray exceeds the global mean, compared by integer
      * cross-multiplication (exact up to ~16-MP images — beyond that
      * the products need BigInt; training thumbnails are far below).
      * Near-identical images differ in few bits (Hamming ≤ ~4);
      * unrelated images differ in ~32 — MultimodalSpec pins both on
      * real encoded PNGs.
      */
    private[ops] def aHashPixels(img: java.awt.image.BufferedImage): Long = {
      val w = img.getWidth
      val h = img.getHeight
      val graySum = new Array[Long](64)
      val cnt = new Array[Long](64)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val g = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          val b = (y * 8 / h) * 8 + (x * 8 / w)
          graySum(b) += g
          cnt(b) += 1
          x += 1
        }
        y += 1
      }
      val totGray = graySum.sum
      val totCnt = cnt.sum
      var hash = 0L
      var b = 0
      while (b < 64) {
        // blockMean > globalMean  ⇔  graySum(b)·totCnt > totGray·cnt(b)
        if (graySum(b) * totCnt > totGray * cnt(b)) hash |= (1L << b)
        b += 1
      }
      hash
    }

    override def decodeAHash(bytes: Array[Byte]): Long =
      if (!magicIsImage(bytes)) StubCodec.decodeAHash(bytes)
      else try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        if (img == null) StubCodec.decodeAHash(bytes) else aHashPixels(img)
      } catch {
        case scala.util.control.NonFatal(_) => StubCodec.decodeAHash(bytes)
      }
  }

  private def hexUpper(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xff}%02X").mkString

  private def md5Hex(bytes: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** Decode / feature-extract: one codec per partition, iterator in /
    * iterator out (no per-row setup, no full-partition materialization).
    */
  def extractMeta(files: Dataset[MediaFile],
      codecFactory: MediaCodec = ImageIoCodec): Dataset[MediaMeta] =
    files.mapPartitions { it =>
      val codec = codecFactory.open()
      it.map { f =>
        val (w, h, d) = codec.decodeDims(f.kind, f.content)
        MediaMeta(
          media_id = f.media_id,
          kind = f.kind,
          n_bytes = f.content.length.toLong,
          header_hex = hexUpper(f.content.take(4)),
          checksum = md5Hex(f.content),
          width = w,
          height = h,
          duration_ms = d)
      }
    }

  /** Perceptual image hashes — the feature-extraction pass of image
    * near-dup dedup: 64-bit average-hash per image-kind row, same
    * per-partition codec lifecycle as [[extractMeta]], map-only,
    * bytes never shuffle (the 8-byte hash is all that travels into
    * the downstream groupBy/band join — exact dedup is a hash
    * groupBy, near-dup is the q_dedup_simhash_ham Hamming-pigeonhole
    * shape over these keys).
    */
  def imageHashes(files: Dataset[MediaFile],
      codecFactory: MediaCodec = ImageIoCodec): Dataset[MediaHash] =
    files.filter(_.kind == "image").mapPartitions { it =>
      val codec = codecFactory.open()
      it.map(f => MediaHash(f.media_id, codec.decodeAHash(f.content)))
    }

  /** Audio-kind metadata: sample rate / channel count / duration from
    * the (stubbed) header decode — same per-partition codec lifecycle
    * as [[extractMeta]], map-only, bytes never shuffle.
    */
  def extractAudioMeta(files: Dataset[MediaFile],
      codecFactory: MediaCodec = ImageIoCodec): Dataset[AudioMeta] =
    files.filter(_.kind == "audio").mapPartitions { it =>
      val codec = codecFactory.open()
      it.map { f =>
        val (rate, channels, durationMs) = codec.decodeAudio(f.content)
        AudioMeta(f.media_id, f.content.length.toLong, rate, channels, durationMs)
      }
    }

  /** Frame sampling for video-kind rows: every `frameBytes`-sized chunk
    * is one "frame"; keep every `everyNth`. Map-side row explosion.
    */
  def sampleFrames(files: Dataset[MediaFile], frameBytes: Int, everyNth: Int): Dataset[Frame] =
    files.filter(_.kind == "video").flatMap { f =>
      val nFrames = (f.content.length + frameBytes - 1) / frameBytes
      (0 until nFrames).by(everyNth).map { i =>
        val off = i.toLong * frameBytes
        val len = math.min(frameBytes, f.content.length - off.toInt)
        Frame(f.media_id, i, off, len)
      }
    }

  /** "Resize": binary-in binary-out content transform (stub: truncate
    * to maxBytes) — the shape of a real re-encode pass.
    */
  def resize(files: Dataset[MediaFile], maxBytes: Int): Dataset[MediaFile] =
    files.map(f => f.copy(content = f.content.take(maxBytes)))

  /** Lift a DataFrame with (idCol, kindCol, binary contentCol) into the
    * typed media Dataset.
    */
  def asMedia(df: DataFrame, idCol: String, kindCol: String, contentCol: String): Dataset[MediaFile] =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(kindCol).as("kind"),
      col(contentCol).cast("binary").as("content")).as[MediaFile]

  /** Image NEAR-duplicate pairs over the [[imageHashes]] perceptual
    * hash — the multimodal face of the SimHash Hamming-pigeonhole
    * dedup: re-encoded / slightly-retouched copies land within a few
    * bits of each other's aHash (MultimodalSpec: real PNG near-dups
    * within Hamming 4), so exact-hash grouping (q_media_phash)
    * misses them.
    *
    * Scale shape — pigeonhole banding, never all pairs: the 60-bit
    * hash splits into `bands` equal bit-bands; a pair within
    * `maxHamming < bands` differing bits must agree EXACTLY on at
    * least one band, so candidate pairs come from `bands` equality
    * self-joins on (band, 15-bit key) — Σ_bucket |bucket|², the
    * q_dedup_simhash_ham discipline on an integer key — and one
    * `bit_count(xor)` verifies each distinct candidate. Bands are
    * integer shift/mask arithmetic, reproduced bit-for-bit by the
    * oracle.
    */
  def imageNearDups(hashes: DataFrame, idCol: String = "media_id",
      hashCol: String = "ahash", bands: Int = 4,
      maxHamming: Int = 3): DataFrame = {
    val keyed = bandKeys(hashes, idCol, hashCol, bands, maxHamming)
    val a = keyed.select(col("band"), col("key"),
      col("_id").as("i"), col("_h").as("ha"))
    val b = keyed.select(col("band"), col("key"),
      col("_id").as("j"), col("_h").as("hb"))
    a.join(b, Seq("band", "key"))
      .filter(col("i") < col("j"))
      .select("i", "j", "ha", "hb").distinct()
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("i", "j", "hamming")
  }

  /** Incremental face of [[imageNearDups]] — the per-ingest delta
    * pass: a NEW image is dropped iff some AT-REST corpus image sits
    * within `maxHamming` bits of its perceptual hash. Corpus-vs-
    * corpus dedup is [[imageNearDups]]'s offline job; this is the
    * [[graft.ops.Similarity.semDedupIncremental]] division of labor
    * with Hamming band keys playing the posting role: the corpus is
    * touched map-only (band explode) plus one keyed join, pair count
    * bounded by band-bucket occupancy, never |new|·|corpus|. Returns
    * (idCol, n_matches, keep) for the NEW side only.
    */
  def imageNearDupsIncremental(newHashes: DataFrame, corpusHashes: DataFrame,
      idCol: String = "media_id", hashCol: String = "ahash",
      bands: Int = 4, maxHamming: Int = 3): DataFrame =
    verdictsAgainstPostings(newHashes,
      imageBandPostings(corpusHashes, idCol, hashCol, bands, maxHamming),
      idCol, hashCol, bands, maxHamming)

  /** The corpus side of the incremental/streaming Hamming dedup AS A
    * TABLE: `(band, key, j, hb)` — one row per (corpus hash, band).
    * This is the at-rest artifact a live intake pipeline keeps next
    * to the corpus (band-bucket postings, the media analogue of the
    * LSH posting tables in [[Dedup]]): build once per corpus epoch,
    * persist or write out, and let every delta batch join against it
    * instead of re-banding the corpus per trigger.
    */
  def imageBandPostings(corpusHashes: DataFrame,
      idCol: String = "media_id", hashCol: String = "ahash",
      bands: Int = 4, maxHamming: Int = 3): DataFrame =
    bandKeys(corpusHashes, idCol, hashCol, bands, maxHamming)
      .select(col("band"), col("key"), col("_id").as("j"), col("_h").as("hb"))

  /** New-batch verdicts against a prepared postings table — the
    * shared kernel of [[imageNearDupsIncremental]] (batch) and
    * [[imageNearDupsStream]] (per-trigger).
    */
  private def verdictsAgainstPostings(newHashes: DataFrame,
      postings: DataFrame, idCol: String, hashCol: String,
      bands: Int, maxHamming: Int): DataFrame = {
    val nw = bandKeys(newHashes, idCol, hashCol, bands, maxHamming)
      .select(col("band"), col("key"), col("_id").as("i"), col("_h").as("ha"))
    val matches = nw.join(postings, Seq("band", "key"))
      .select("i", "ha", "j", "hb").distinct()
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHamming)
      .groupBy(col("i"))
      .agg(count(lit(1)).as("n_matches"))
    newHashes.select(col(idCol).as("i"))
      .join(matches, Seq("i"), "left")
      .select(col("i").as(idCol),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        (coalesce(col("n_matches"), lit(0L)) === 0L).as("keep"))
  }

  /** STREAMING face of [[imageNearDupsIncremental]] — the per-ingest
    * delta pass for media: a live stream of new image hashes is
    * verdict-ed per micro-batch against the AT-REST corpus band
    * postings ([[imageBandPostings]] — build once, persist; the static
    * corpus-epoch contract), and the per-trigger (id, n_matches, keep)
    * rows APPEND to `outDir` — a foreachBatch log whose per-trigger
    * emission is bounded by the batch's own row count, never
    * corpus-sized (each verdict row is final on emission: it depends
    * only on the batch row and the static postings, so no
    * upsert/compaction is ever needed, unlike the first-occurrence
    * index log). Candidate pairs per trigger are
    * bounded by band-bucket occupancy — the postings join discipline,
    * never |batch|·|corpus|. StreamingSpec pins trigger-cadence
    * invariance (1-file vs all-at-once triggers, identical verdicts);
    * q_stream_media_dedup oracle-checks the accumulated log against
    * the batch incremental on the same split.
    */
  def imageNearDupsStream(newHashes: DataFrame, postings: DataFrame,
      outDir: String, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      idCol: String = "media_id", hashCol: String = "ahash",
      bands: Int = 4, maxHamming: Int = 3,
      onBatch: (Long, Long) => Unit = null)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(newHashes.isStreaming,
      "imageNearDupsStream expects a STREAMING newHashes side")
    require(!postings.isStreaming,
      "imageNearDupsStream requires BATCH corpus postings (static " +
        "corpus-epoch contract; rebuild postings per epoch)")
    newHashes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val out = verdictsAgainstPostings(batch, postings,
          idCol, hashCol, bands, maxHamming)
        if (onBatch == null) out.write.mode("append").parquet(outDir)
        else {
          val b = out.persist()
          b.write.mode("append").parquet(outDir)
          onBatch(batchId, b.count())
          b.unpersist()
          ()
        }
      }
      .trigger(trigger)
      .start()
  }

  /** Shared pigeonhole band keying for the Hamming dedup pair:
    * `(._id, _h, band, key)` with one row per (hash, band).
    */
  private def bandKeys(hashes: DataFrame, idCol: String, hashCol: String,
      bands: Int, maxHamming: Int): DataFrame = {
    require(60 % bands == 0, s"bands must divide 60, got $bands")
    require(maxHamming < bands,
      s"pigeonhole needs maxHamming < bands, got $maxHamming >= $bands")
    val bandBits = 60 / bands
    val mask = (1L << bandBits) - 1
    hashes.select(col(idCol).as("_id"), col(hashCol).as("_h"))
      .select(col("_id"), col("_h"),
        explode(array((0 until bands).map(k =>
          struct(lit(k).as("band"),
            shiftright(col("_h"), k * bandBits).bitwiseAND(lit(mask))
              .as("key"))): _*)).as("bk"))
      .select(col("_id"), col("_h"), col("bk.band").as("band"),
        col("bk.key").as("key"))
  }
}
