package graft.operators

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, plus a decode/feature-extract
  * stage.
  *
  * The decoder is REAL header arithmetic (round 7, replacing the
  * round-6 length-derived stub): payloads are synthesized as valid
  * fixed-offset containers — BMP (14-byte file header + 40-byte
  * BITMAPINFOHEADER), canonical 44-byte RIFF/WAVE, and RIFF/AVI with
  * a full 56-byte `avih` MainAVIHeader — and the decode stage
  * re-extracts width/height (BMP info header), sample-frame count
  * (WAVE `data` size / `fmt ` block align), and frame count plus
  * dimensions (AVI `avih`) by validating magic tags and reading
  * little-endian integers at their container-defined offsets. No
  * image/audio libraries exist in this container, so the codecs are
  * the header-arithmetic subset of BMP/WAV/AVI — but the parse is
  * genuine: offset-correct, magic-checked, and round-tripped through
  * parquet binary columns.
  *
  * 100 TB posture: media bytes never shuffle — all feature extraction
  * is a narrow map over scan partitions; only the (tiny) extracted
  * features flow into joins/aggregations downstream. Decoding runs
  * per-partition ([[decode]]) so a real codec library would init once
  * per batch — the same batch shape as `mapInPandas` media UDFs.
  */
object Multimodal {

  case class MediaRecord(
      media_id: Long,
      media_type: String,
      payload: Array[Byte])

  case class MediaFeatures(
      media_id: Long,
      media_type: String,
      n_bytes: Long,
      checksum: Long,
      width: Int,
      height: Int,
      n_frames: Int)

  /** Container preamble sizes: everything before the body bytes. */
  val BmpHeaderLen = 54
  val WavHeaderLen = 44
  val AviHeaderLen = 88

  private def alloc(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  /** A valid 24-bit uncompressed BMP whose pixel data is `body`.
    * Width at offset 18, height at 22 (LE int32), per the
    * BITMAPINFOHEADER layout.
    */
  def bmpPayload(width: Int, height: Int, body: Array[Byte]): Array[Byte] = {
    val b = alloc(BmpHeaderLen + body.length)
    b.put('B'.toByte).put('M'.toByte)
      .putInt(BmpHeaderLen + body.length) // file size
      .putInt(0)                          // reserved
      .putInt(BmpHeaderLen)               // pixel-data offset
      .putInt(40)                         // biSize
      .putInt(width)
      .putInt(height)
      .putShort(1)                        // planes
      .putShort(24)                       // bits per pixel
      .putInt(0)                          // BI_RGB (uncompressed)
      .putInt(body.length)                // biSizeImage
      .putInt(2835).putInt(2835)          // 72 dpi
      .putInt(0).putInt(0)                // palette sizes
      .put(body)
    b.array()
  }

  /** A canonical 44-byte-preamble RIFF/WAVE (PCM16) whose sample data
    * is `body`. Channels at offset 22, sample rate at 24, block align
    * at 32, data size at 40.
    */
  def wavPayload(channels: Int, sampleRate: Int, body: Array[Byte]): Array[Byte] = {
    val blockAlign = channels * 2 // 16-bit samples
    val b = alloc(WavHeaderLen + body.length)
    b.put("RIFF".getBytes("US-ASCII"))
      .putInt(36 + body.length)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII"))
      .putInt(16)                         // PCM fmt chunk size
      .putShort(1)                        // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * blockAlign)    // byte rate
      .putShort(blockAlign.toShort)
      .putShort(16)                       // bits per sample
      .put("data".getBytes("US-ASCII"))
      .putInt(body.length)
      .put(body)
    b.array()
  }

  /** A RIFF/AVI preamble with a full `avih` MainAVIHeader (frame count
    * at absolute offset 48, width at 64, height at 68) followed by
    * `body` standing in for the movi data.
    */
  def aviPayload(
      width: Int, height: Int, totalFrames: Int,
      body: Array[Byte]): Array[Byte] = {
    val b = alloc(AviHeaderLen + body.length)
    b.put("RIFF".getBytes("US-ASCII"))
      .putInt(AviHeaderLen - 8 + body.length)
      .put("AVI ".getBytes("US-ASCII"))
      .put("LIST".getBytes("US-ASCII"))
      .putInt(68)                         // "hdrl" + avih chunk
      .put("hdrl".getBytes("US-ASCII"))
      .put("avih".getBytes("US-ASCII"))
      .putInt(56)                         // MainAVIHeader size
      .putInt(33333)                      // usec per frame (~30 fps)
      .putInt(0)                          // max bytes/sec
      .putInt(0)                          // padding granularity
      .putInt(0x10)                       // AVIF_HASINDEX
      .putInt(totalFrames)
      .putInt(0)                          // initial frames
      .putInt(1)                          // streams
      .putInt(0)                          // suggested buffer size
      .putInt(width)
      .putInt(height)
      .putInt(0).putInt(0).putInt(0).putInt(0) // reserved
      .put(body)
    b.array()
  }

  /** Synthesize a media table from `documents`: the text bytes become
    * the container BODY behind a real header; type cycles by doc_id.
    * Header fields derive deterministically from (doc_id, body length)
    * so the DuckDB oracle can predict what the decoder must re-extract.
    */
  def mediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRecord] =
    mediaTableOn(Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")))

  /** [[mediaTable]] over any `(doc_id, text)` frame — q163's planted
    * duplicates re-container the same bodies under shifted ids.
    */
  def mediaTableOn(docs: DataFrame): Dataset[MediaRecord] =
    docs.as[(Long, String)](
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .map { case (id, text) =>
        val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = body.length
        (((id % 3) + 3) % 3) match {
          case 0L => MediaRecord(id, "image/bmp",
            bmpPayload(16 + n % 64, 16 + n % 48, body))
          case 1L => MediaRecord(id, "audio/wav",
            wavPayload(1 + (id % 2).toInt, 8000 + 100 * (id % 5).toInt, body))
          case _ => MediaRecord(id, "video/avi",
            aviPayload(320 + 8 * (id % 16).toInt, 240 + 8 * (id % 8).toInt,
              1 + n % 24, body))
        }
      }(Encoders.product[MediaRecord])

  /** Parse features back OUT of the container bytes: magic-validated,
    * fixed-offset little-endian reads — a genuine (if library-free)
    * decode. The container is identified from its own magic, not the
    * `media_type` hint, so a mislabeled record fails loudly. WAV
    * "frames" are PCM sample frames: data-chunk bytes / block align.
    */
  def parseFeatures(
      id: Long, mtype: String, payload: Array[Byte]): MediaFeatures = {
    val b = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int) = new String(payload, off, 4, "US-ASCII")
    val (w, h, frames) =
      if (payload.length >= BmpHeaderLen &&
          payload(0) == 'B'.toByte && payload(1) == 'M'.toByte)
        (b.getInt(18), b.getInt(22), 1)
      else if (payload.length >= WavHeaderLen &&
          tag(0) == "RIFF" && tag(8) == "WAVE")
        (0, 0, b.getInt(40) / b.getShort(32).toInt)
      else if (payload.length >= AviHeaderLen &&
          tag(0) == "RIFF" && tag(8) == "AVI ")
        (b.getInt(64), b.getInt(68), b.getInt(48))
      else throw new IllegalArgumentException(
        s"media $id: unrecognized container (type hint was $mtype)")
    var cksum = 0L
    var i = 0
    while (i < payload.length) { // FNV-1a over the full container
      cksum = (cksum ^ (payload(i) & 0xFFL)) * 0x100000001B3L
      i += 1
    }
    MediaFeatures(id, mtype, payload.length.toLong, cksum, w, h, frames)
  }

  /** Decode stage: per-partition so a real codec library would init
    * once per batch (the Arrow-batched-UDF shape); payload bytes stay
    * inside the scan partition.
    */
  def decode(media: Dataset[MediaRecord]): Dataset[MediaFeatures] =
    media.mapPartitions { it =>
      it.map(m => parseFeatures(m.media_id, m.media_type, m.payload))
    }(Encoders.product[MediaFeatures])

  /** Metadata/feature query (q50): SQL-oracle-checkable subset — every
    * emitted field is re-derivable in DuckDB from (doc_id, text) via
    * the synthesis formulas, while the Spark side actually parses them
    * back out of container bytes; the FNV checksum over the full
    * container is validated in MultimodalSpec instead.
    */
  def mediaMeta(spark: SparkSession, sfDir: String): DataFrame =
    decode(mediaTable(spark, sfDir)).toDF().select(
      col("media_id"), col("media_type"),
      col("n_bytes"), col("width"), col("height"), col("n_frames"))

  /** Frame-sampling shape (q51): explode a deterministic sample of
    * frame indices per video — one row per sampled frame, the batch
    * shape a real frame-sampler produces; payload untouched upstream.
    */
  def frameSample(spark: SparkSession, sfDir: String, stride: Int = 8): DataFrame =
    mediaMeta(spark, sfDir)
      .filter(col("media_type") === "video/avi")
      .select(col("media_id"), col("n_frames"),
        explode(sequence(lit(0),
          col("n_frames") - 1, lit(stride))).as("frame_idx"))

  /** Feature-embedding extraction shape (q52): container BODY -> fixed
    * width feature vector, the stage that feeds extracted media
    * features into ANN/dedup downstream. The header is stripped at its
    * container-defined length first — the "model" sees decoded content,
    * not container framing. The encoder itself is an md5-derived 4-dim
    * projection in [0,1) (a real model replaces the hash with
    * inference); md5 keeps the whole stage under the exact DuckDB
    * oracle, same device as q23/q31. Narrow per-row transform on the
    * scan; payload never shuffles; features are 32 bytes/row.
    */
  def mediaFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val m = mediaTable(spark, sfDir).toDF()
    val headerLen = when(col("media_type") === "image/bmp", BmpHeaderLen)
      .when(col("media_type") === "audio/wav", WavHeaderLen)
      .otherwise(AviHeaderLen)
    val body = col("payload").substr(headerLen + 1, octet_length(col("payload")))
    val h = md5(body)
    val feats = (0 until 4).map { j =>
      (conv(substring(h, 1 + 8 * j, 8), 16, 10).cast("long").cast("double") /
        lit(4294967296.0)).as(s"f$j") // / 2^32 -> [0, 1)
    }
    m.select(col("media_id") +: col("media_type") +: feats: _*)
  }

  /** The q172 driver entry: PERCEPTUAL image dedup — a 60-bit
    * difference hash (dHash) over DECODED pixel bytes, then q23's
    * pigeonhole blocking for all pairs within Hamming distance 3.
    * This is the image-side reason perceptual hashing exists: the
    * same picture re-encoded (new container, touched byte) defeats
    * byte-level dedup (q20 finds nothing here — the planted copies
    * are deliberately 1-byte-perturbed), while the content hash
    * survives because it samples a fixed grid of the DECODED image,
    * not the container bytes.
    *
    * The hash: width/height are read from the BMP header (the q50
    * genuine parse), a 6x11 grid samples the pixel body at
    * row-major 24-bit offsets (modulo the body length — the
    * synthesized body is not guaranteed full w*h*3), and each of the
    * 60 bits is one adjacent-intensity comparison. 60 bits, not 64:
    * the q23 convention, which also keeps every shift inside
    * checked-BIGINT range on the oracle side. Blocking is q23's
    * 4x15-bit pigeonhole — complete for distance <= 3 because 3 flips
    * cannot touch all 4 blocks.
    *
    * Entry-level planting (the q45/q46 shifted-id device): docs with
    * doc_id % 30 == 0 re-enter as two re-containered copies — last
    * char flipped (+999999) and first char flipped (+1999998), both
    * offsets ≡ 0 (mod 3) so the copies stay BMPs. Byte-exact dedup
    * finds ZERO of these; the phash pairs them at Hamming 0-3
    * (sf0.01: 51 pairs). The oracle replays planting, decode
    * formulas, hash, and pairing entirely in SQL.
    *
    * Scale shape: hashing is a narrow per-partition map over the
    * media scan (payload bytes never shuffle — the file's standing
    * rule); the exchange carries (id, 8-byte hash) only; the
    * pigeonhole join is q23's O(n) candidate generation.
    */
  def imageNearDups(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val seeds = docs
      .where(col("doc_id") % 3 === 0 && length(col("text")) >= 1)
      .where(col("doc_id") % 30 === 0)
    val tailFlip = seeds.select(
      (col("doc_id") + 999999L).as("doc_id"),
      concat(col("text").substr(lit(1), length(col("text")) - 1), lit("Q"))
        .as("text"))
    val headFlip = seeds.select(
      (col("doc_id") + 1999998L).as("doc_id"),
      concat(lit("Q"), col("text").substr(lit(2), length(col("text"))))
        .as("text"))
    imagePhashPairs(docs.unionByName(tailFlip).unionByName(headFlip))
  }

  /** The operator over any `(doc_id, text)` corpus: BMP subset
    * (doc_id % 3 == 0, the mediaTable cycle), per-partition dHash,
    * pigeonhole pairs. Spec entry point for crafted plants.
    */
  def imagePhashPairs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{bit_count, shiftright}
    val spark = docs.sparkSession
    import spark.implicits._
    val imgs = mediaTableOn(docs
      .where(col("doc_id") % 3 === 0 && octet_length(col("text")) >= 1)
      .select(col("doc_id"), col("text")))
      .filter(_.media_type == "image/bmp")
    val hashes = imgs.mapPartitions { it =>
      it.map { m =>
        val bb = ByteBuffer.wrap(m.payload).order(ByteOrder.LITTLE_ENDIAN)
        require(m.payload(0) == 'B'.toByte && m.payload(1) == 'M'.toByte,
          s"media ${m.media_id}: not a BMP")
        val w = bb.getInt(18).toLong
        val h = bb.getInt(22).toLong
        val n = m.payload.length - BmpHeaderLen
        def px(r: Int, c: Int): Int = {
          val off = (((r * h / 6) * w + c * w / 11) * 3) % n
          m.payload(BmpHeaderLen + off.toInt) & 0xFF
        }
        var hash = 0L
        var bit = 0
        var r = 0
        while (r < 6) {
          var c = 0
          while (c < 10) {
            if (px(r, c + 1) > px(r, c)) hash |= 1L << bit
            bit += 1; c += 1
          }
          r += 1
        }
        (m.media_id, hash)
      }
    }.toDF("media_id", "phash")
    val chunks = hashes.select(col("media_id"), col("phash"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("phash"), c * 15)
            .bitwiseAND((1L << 15) - 1).as("ck"))
      }: _*)).as("blk"))
      .select(col("media_id"), col("phash"),
        col("blk.chunk").as("chunk"), col("blk.ck").as("ck"))
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  private val energyWindows = 16

  /** The q174 driver entry: AUDIO ENERGY CONTOUR — decode the PCM16
    * samples out of the WAV body (genuine little-endian signed-16
    * math over the data chunk, sized by the header's data-size field,
    * not by trust in the payload length) and reduce them to a
    * 16-window absolute-energy profile per clip, each window flagged
    * quiet/loud against the clip's own mean. This is the first stage
    * of every audio pipeline — VAD, silence trimming, energy-based
    * segmentation, and the contour that audio fingerprinting (the
    * q172 story, audio side) hashes. q50-q52 parse headers and hash
    * bodies; this is the first entry that decodes SAMPLES.
    *
    * All integer: sample values are exact int16, window sums are
    * BIGINT, and the quiet flag is the integer cross-multiply
    * sum_abs * windows < total_abs (no division). The oracle replays
    * the byte-pair little-endian reconstruction over hex-rendered
    * bytes (q164's device) and the same window arithmetic.
    *
    * Scale shape: sample decode is a narrow per-partition flatMap on
    * the media scan (payload never shuffles); the exchange carries
    * (id, window, partial sums) — map-side combined, bounded by
    * clips x 16 — and the per-clip total is a 16-row window.
    */
  def audioEnergy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wavs = mediaTable(spark, sfDir).filter(_.media_type == "audio/wav")
    val samples = wavs.flatMap { m =>
      val nS = wavSampleCount(m)
      (0 until nS).iterator.map { s =>
        (m.media_id, (s.toLong * energyWindows / nS).toInt,
          math.abs(wavSample(m.payload, s)))
      }
    }.toDF("media_id", "win", "a")
    val perWin = samples.groupBy(col("media_id"), col("win"))
      .agg(count(lit(1)).as("n_samples"), sum(col("a")).as("sum_abs"))
    perWin
      .withColumn("total_abs",
        sum(col("sum_abs")).over(Window.partitionBy(col("media_id"))))
      .select(col("media_id"), col("win"), col("n_samples"),
        col("sum_abs"),
        (col("sum_abs") * lit(energyWindows.toLong) < col("total_abs"))
          .as("is_quiet"))
  }

  /** The q255 driver entry: ACTIVITY SEGMENTATION (voice-activity
    * detection shape) — the step an audio training pipeline runs
    * after the energy contour: consecutive non-quiet windows of the
    * q174 contour merge into activity segments (one row per segment
    * with its span and energy mass), so downstream sampling cuts at
    * silence boundaries instead of mid-utterance. Islands are found
    * with the q33 run-grouping device (win − row_number is constant
    * exactly on a consecutive run), all-integer.
    *
    * Scale shape: inherits q174's posture (payload bytes never
    * shuffle; the exchange carries per-window partial sums bounded
    * by clips × 16); the island window partitions per clip over ≤ 16
    * rows.
    */
  def activitySegments(spark: SparkSession, sfDir: String): DataFrame = {
    val active = audioEnergy(spark, sfDir)
      .where(!col("is_quiet"))
      .select(col("media_id"), col("win").cast("long").as("win"),
        col("sum_abs"))
    val w = Window.partitionBy(col("media_id")).orderBy(col("win").asc)
    active
      .withColumn("grp", col("win") - row_number().over(w))
      .groupBy(col("media_id"), col("grp"))
      .agg(min(col("win")).as("start_win"), max(col("win")).as("end_win"),
        count(lit(1)).as("n_windows"), sum(col("sum_abs")).as("seg_energy"))
      .select(col("media_id"), col("start_win"), col("end_win"),
        col("n_windows"), col("seg_energy"))
  }

  private val patchGridSide = 4

  /** The q256 driver entry: PATCH-GRID FEATURES (ViT tokenization
    * shape) — the image-side preprocessing a multimodal training
    * pipeline runs: each decoded image maps onto a fixed 4×4 patch
    * grid and every patch reduces to its pixel count, intensity sum
    * and fixed-point mean — the "patch embedding" stand-in whose
    * plumbing (decode → grid assignment → per-patch reduce → 16
    * feature rows per image) is the real thing even though the
    * feature itself is a mean rather than a learned projection.
    * Intensity at (r, c) is the q172 byte convention: body byte at
    * ((r·w + c)·3) mod n; patch assignment is floor((r·4)/h,
    * (c·4)/w) — all-integer, so the oracle replays it over
    * hex-rendered bytes exactly.
    *
    * Scale shape: the per-patch sums ACCUMULATE INSIDE the per-image
    * decode map (a 16-cell local array), so the operator emits 16
    * finished rows per image with ZERO exchange — payload bytes and
    * pixels never shuffle at all, the q204 posture.
    */
  def patchGrid(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val imgs = mediaTableOn(Tables.load(spark, sfDir, "documents")
      .where(col("doc_id") % 3 === 0 && octet_length(col("text")) >= 1)
      .select(col("doc_id"), col("text")))
      .filter(_.media_type == "image/bmp")
    imgs.mapPartitions { it =>
      it.flatMap { m =>
        val bb = ByteBuffer.wrap(m.payload).order(ByteOrder.LITTLE_ENDIAN)
        require(m.payload(0) == 'B'.toByte && m.payload(1) == 'M'.toByte,
          s"media ${m.media_id}: not a BMP")
        val w = bb.getInt(18)
        val h = bb.getInt(22)
        val n = m.payload.length - BmpHeaderLen
        val sums = new Array[Long](patchGridSide * patchGridSide)
        val counts = new Array[Long](patchGridSide * patchGridSide)
        var r = 0
        while (r < h) {
          val pr = r * patchGridSide / h
          var c = 0
          while (c < w) {
            val cell = pr * patchGridSide + c * patchGridSide / w
            val v = m.payload(BmpHeaderLen + ((r * w + c) * 3) % n) & 0xFF
            sums(cell) += v
            counts(cell) += 1
            c += 1
          }
          r += 1
        }
        (0 until patchGridSide * patchGridSide).iterator.map { cell =>
          // a header-declared dimension below the grid leaves cells
          // with zero pixels (fixture dims 16+n%64 x 16+n%48 can't,
          // arbitrary BMPs can): such a cell reports mean 0 rather
          // than dividing by zero (round-13 advice)
          val mean =
            if (counts(cell) == 0L) 0L else sums(cell) * 1000L / counts(cell)
          (m.media_id, (cell / patchGridSide).toLong,
            (cell % patchGridSide).toLong, counts(cell), sums(cell), mean)
        }
      }
    }.toDF("media_id", "pr", "pc", "n_px", "sum_i", "mean_milli")
  }

  /** The q204 driver entry: LOUDNESS-NORMALIZATION GAIN — the
    * pre-feature-extraction step every audio pipeline runs: compute
    * each clip's RMS level from the exact PCM16 samples (the q174
    * decode) and the multiplicative gain that brings it to a target
    * RMS, so downstream features (energy contours, fingerprints,
    * training spectrograms) see level-invariant input. Silent clips
    * (all-zero samples) emit the −1 sentinel rather than an infinite
    * gain (the q185 rule).
    *
    * Exactness: Σs² is an exact BIGINT (|s| ≤ 32768 ⇒ s² ≤ 2³⁰);
    * RMS = sqrt(Σs²/n) is a division plus a CORRECTLY-ROUNDED sqrt
    * (the q188 argument), the gain one further division — a fixed
    * identical tree, micro-floored once.
    *
    * Scale shape: the whole statistic reduces INSIDE the per-clip
    * decode map — one output row per clip, ZERO exchange of samples
    * or payloads; the strongest possible shuffle story.
    */
  def loudnessGain(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val stats = mediaTable(spark, sfDir)
      .filter(_.media_type == "audio/wav")
      .map { m =>
        val nS = wavSampleCount(m)
        var ssq = 0L
        var s = 0
        while (s < nS) {
          val v = wavSample(m.payload, s)
          ssq += v * v
          s += 1
        }
        (m.media_id, nS.toLong, ssq)
      }
      .toDF("media_id", "n_samples", "ssq")
      .where(col("n_samples") >= 1)
    val rms = sqrt(col("ssq").cast("double") /
      col("n_samples").cast("double"))
    stats.select(col("media_id"), col("n_samples"), col("ssq"),
      when(col("ssq") === 0, lit(-1L))
        .otherwise(floor(lit(1000000.0) * rms).cast("long"))
        .as("rms_micro"),
      when(col("ssq") === 0, lit(-1L))
        .otherwise(floor(lit(1000000.0) * (lit(10000.0) / rms))
          .cast("long")).as("gain_micro"))
  }

  /** Fails unless `m` carries the RIFF/WAVE magic. */
  private def requireWav(m: MediaRecord): Unit =
    require(new String(m.payload, 0, 4, "US-ASCII") == "RIFF" &&
      new String(m.payload, 8, 4, "US-ASCII") == "WAVE",
      s"media ${m.media_id}: not a WAV")

  /** PCM16 sample count of a checked WAV record: the magic, and a
    * data-size field that agrees with the payload. The header check of
    * q174, q204 and q210, the Spark twin of the oracle's `wavCte`.
    */
  private def wavSampleCount(m: MediaRecord): Int = {
    requireWav(m)
    val dataSize = ByteBuffer.wrap(m.payload).order(ByteOrder.LITTLE_ENDIAN)
      .getInt(40)
    require(dataSize == m.payload.length - WavHeaderLen,
      s"media ${m.media_id}: data-size field disagrees with payload")
    dataSize / 2
  }

  /** Sample `si` of a PCM16 WAV payload, little-endian signed: the
    * Spark twin of the oracle's `pcmDecodeSql` plus its sign step.
    */
  private def wavSample(payload: Array[Byte], si: Int): Long = {
    val lo = payload(WavHeaderLen + 2 * si) & 0xFF
    val hi = payload(WavHeaderLen + 2 * si + 1) & 0xFF
    val x = lo | (hi << 8)
    (if (x >= 32768) x - 65536 else x).toLong
  }

  /** The q197 driver entry: BINARY-LAKE INGESTION via the
    * `binaryFile` SOURCE — the missing source format next to
    * CSV/JSON/ORC/XML/SequenceFile (q19/q59/q63/q106/q82): media
    * assets live in an object store as MILLIONS OF RAW FILES, not
    * rows, and the lake's front door is `spark.read.format
    * ("binaryFile")` — distributed file enumeration (the same
    * InMemoryFileIndex as O1), per-file (path, length, content)
    * rows, glob pushdown, and `maxPartitionBytes` packing. The entry
    * runs the full lifecycle: write every BMP asset as a real
    * standalone .bmp file, ingest the directory back through
    * binaryFile, parse ids from paths and dimensions from the
    * LITTLE-ENDIAN header bytes (the q50 decode), emit structural
    * metadata. The oracle predicts every field from the synthesis
    * formulas over `documents` — a corrupted write, a mis-parsed
    * header, or a file dropped by enumeration all hash-fail.
    *
    * Scale shape: file writes and header parses are per-partition;
    * `content` never shuffles (the output is 5 scalar columns);
    * at 10⁹ assets the only care is enumeration (partitioned
    * listing) and packing small files — both are source-level knobs,
    * not plan changes.
    */
  def binaryLake(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.withScratch(spark, "q197_binlake", sfDir) { dir =>
      import spark.implicits._
      val mediaDir = s"$dir/media"
      new java.io.File(mediaDir).mkdirs()
      mediaTable(spark, sfDir)
        .filter(_.media_type == "image/bmp")
        .foreachPartition { (it: Iterator[MediaRecord]) =>
          it.foreach { m =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$mediaDir/${m.media_id}.bmp"),
              m.payload)
          }
        }
      spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp")
        .load(mediaDir)
        .select(col("path"), col("length"), col("content"))
        .as[(String, Long, Array[Byte])]
        .map { case (path, len, bytes) =>
          require(bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte,
            s"$path: not a BMP")
          val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
          val id = path.split("/").last.stripSuffix(".bmp").toLong
          (id, len, bb.getInt(18).toLong, bb.getInt(22).toLong, len - 54L)
        }
        .toDF("media_id", "file_len", "width", "height", "body_len")
    }

  /** 2^15 fixed-point 64-point DFT twiddle tables. Generated ONCE at
    * class load from libm cos/sin and embedded VERBATIM into the q210
    * oracle SQL (SparkEntry interpolates these arrays into a VALUES
    * list), so both engines use byte-identical integer constants and
    * no transcendental function ever runs inside either query — the
    * only way to make a spectral feature exact under the driver's
    * hash compare (cos/sin are not correctly-rounded in IEEE, unlike
    * sqrt: the q188 argument in reverse).
    */
  val DftScale = 32768L
  val DftCos64: Array[Long] = Array.tabulate(64)(n =>
    math.floor(32768.0 * math.cos(2.0 * math.Pi * n / 64.0)).toLong)
  val DftSin64: Array[Long] = Array.tabulate(64)(n =>
    math.floor(32768.0 * math.sin(2.0 * math.Pi * n / 64.0)).toLong)

  /** Squared magnitude of DFT bin `k` over the `len` samples from
    * sample `start`, twiddles `(k * n) % 64` from the tables above and
    * each component descaled by one TRUNCATING division before
    * squaring: the frame step of q210's bands and q235's fingerprints,
    * the Spark twin of the oracle's `dftCtes`.
    */
  private def dftBinEnergy(payload: Array[Byte], start: Int, len: Int,
      k: Int): Long = {
    var re = 0L
    var im = 0L
    var n = 0
    while (n < len) {
      val v = wavSample(payload, start + n)
      val idx = (k * n) % 64
      re += v * DftCos64(idx)
      im += v * DftSin64(idx)
      n += 1
    }
    val rq = re / DftScale // truncating, matches DuckDB //
    val iq = im / DftScale
    rq * rq + iq * iq
  }

  /** The q210 driver entry: SPECTRAL ENERGY-BAND PROFILE — the
    * windowed-DFT front end of audio fingerprinting (Haitsma &
    * Kalker's band-energy device) and of every spectrogram-based
    * feature pipeline, beside q174's time-domain contour. Each clip's
    * PCM16 stream (the q174 decode) is cut into non-overlapping
    * 64-sample frames; each frame is projected onto five octave bins
    * (k = 1, 2, 4, 8, 16) with the fixed-point twiddle tables above;
    * band energy is the frame-summed squared magnitude, descaled by
    * one TRUNCATING division per component before squaring (2^36
    * squared would overflow BIGINT; truncation — not floor — because
    * DuckDB's // truncates toward zero on negatives exactly like
    * Scala Long division). The above-average flag is the q174
    * integer cross-multiply (energy * nbins > total).
    *
    * Scale shape: the STRONGEST shuffle story available — the whole
    * per-frame DFT reduces inside the per-clip decode map
    * (payload bytes and samples never leave the scan partition); the
    * operator emits 5 rows per clip, and the only exchange is the
    * 5-row-per-clip window for the total.
    */
  def spectralBands(spark: SparkSession, sfDir: String): DataFrame =
    spectralBandsOn(
      mediaTable(spark, sfDir).filter(_.media_type == "audio/wav"))

  val SpectralBins: Array[Int] = Array(1, 2, 4, 8, 16)

  /** The operator over any WAV records (spec entry point: a crafted
    * pure tone at a bin frequency must concentrate its energy there).
    */
  def spectralBandsOn(wavs: Dataset[MediaRecord]): DataFrame = {
    val spark = wavs.sparkSession
    import spark.implicits._
    val bins = SpectralBins
    val perBin = wavs.flatMap { m =>
      val frames = wavSampleCount(m) / 64
      if (frames == 0) Iterator.empty
      else {
        val energy = Array.fill(bins.length)(0L)
        var f = 0
        while (f < frames) {
          var b = 0
          while (b < bins.length) {
            energy(b) += dftBinEnergy(m.payload, f * 64, 64, bins(b))
            b += 1
          }
          f += 1
        }
        bins.indices.iterator.map(b =>
          (m.media_id, bins(b).toLong, frames.toLong, energy(b)))
      }
    }.toDF("media_id", "bin", "n_frames", "band_energy")
    perBin
      .withColumn("total",
        sum(col("band_energy")).over(Window.partitionBy(col("media_id"))))
      .select(col("media_id"), col("bin"), col("n_frames"),
        col("band_energy"),
        (col("band_energy") * lit(bins.length.toLong) > col("total"))
          .as("above_avg"))
  }

  /** The q244 driver entry: VIDEO SCENE-CUT CANDIDATES — the frame-
    * delta profile that drives keyframe selection in every video
    * ingestion pipeline (sample frames NEAR CUTS, not on a blind
    * stride — the upgrade over q51's fixed-stride sampler): the AVI
    * movi body splits into its header-declared frame count, each
    * frame's byte-sum energy computes row-locally in the decode map,
    * and a transition is a cut candidate when the energy step exceeds
    * 25% of the local level (8|dE| > E_prev + E_cur, exact integer
    * cross-multiply — the q174 device). Emits every transition with
    * both energies and the verdict, the reviewable table a sampler
    * consumes.
    *
    * Scale shape: q210's strongest-story shape — payload bytes never
    * leave the scan partition; output is transitions-per-clip rows
    * (bounded by the avih frame count), and there is NO exchange at
    * all below the sink.
    */
  def sceneCuts(spark: SparkSession, sfDir: String): DataFrame =
    sceneCutsOn(mediaTable(spark, sfDir)
      .filter(_.media_type == "video/avi"))

  /** The operator over any AVI records (spec entry point: a crafted
    * byte-level jump must fire exactly at its transition).
    */
  def sceneCutsOn(avis: Dataset[MediaRecord]): DataFrame = {
    val spark = avis.sparkSession
    import spark.implicits._
    avis
      .flatMap { m =>
        val bb = ByteBuffer.wrap(m.payload).order(ByteOrder.LITTLE_ENDIAN)
        require(new String(m.payload, 0, 4, "US-ASCII") == "RIFF" &&
          new String(m.payload, 8, 4, "US-ASCII") == "AVI ",
          s"media ${m.media_id}: not an AVI")
        val nFrames = bb.getInt(48)
        val bodyLen = m.payload.length - AviHeaderLen
        val fl = if (nFrames > 0) bodyLen / nFrames else 0
        if (nFrames < 2 || fl < 1) Iterator.empty
        else {
          val e = Array.tabulate(nFrames) { j =>
            var sum = 0L
            var i = 0
            while (i < fl) {
              sum += (m.payload(AviHeaderLen + j * fl + i) & 0xFF)
              i += 1
            }
            sum
          }
          (1 until nFrames).iterator.map { j =>
            (m.media_id, j.toLong, e(j - 1), e(j),
              8L * math.abs(e(j) - e(j - 1)) > e(j - 1) + e(j))
          }
        }
      }
      .toDF("media_id", "frame_idx", "e_prev", "e_cur", "is_cut")
  }

  // -------- audio fingerprint matching (q235) --------

  /** Fingerprint geometry: 32-sample analysis frames projected with
    * the SAME 64-point fixed-point twiddle tables (a zero-padded
    * 64-point DFT of the half frame — indices (k*n)%64 stay exact),
    * 16 frequency bins (k = 1..16), the first 4 frames of each clip
    * (fingerprint the clip HEAD, the Haitsma-Kalker convention), and
    * one bit per (frame transition, adjacent-band pair):
    *
    *   bit(t, b) = 1  iff  (E(t+1,b) - E(t+1,b+1))
    *                     - (E(t,  b) - E(t,  b+1)) > 0
    *
    * — the H&K energy-difference sign, 3 transitions x 15 band pairs
    * = 45 bits packed into one BIGINT. Clips with fewer than 4 frames
    * (< 256 body bytes) hold no full fingerprint and are excluded
    * (matching a half-defined fingerprint against zero-padding would
    * pigeonhole every short clip into one degenerate bucket).
    */
  val FpFrameLen = 32
  val FpFrames = 4
  val FpBins = 16
  val FpTransitions: Int = FpFrames - 1 // 3
  val FpChunkBits = 15
  val FpChunks = 3
  val FpTwinOffset = 6000000000L // % 3 == 0: twins keep the audio slot

  /** 45-bit Haitsma-Kalker band-difference fingerprints, one BIGINT
    * per qualifying clip. The WHOLE computation — decode, per-frame
    * DFT, energies, difference bits, packing — is row-local inside
    * one flatMap over the scan: payload bytes and samples never
    * leave the partition; only the 8-byte fingerprint flows on.
    */
  def audioFingerprints(wavs: Dataset[MediaRecord]): DataFrame = {
    val spark = wavs.sparkSession
    import spark.implicits._
    wavs.flatMap { m =>
      requireWav(m)
      val nS = ByteBuffer.wrap(m.payload).order(ByteOrder.LITTLE_ENDIAN)
        .getInt(40) / 2
      if (nS / FpFrameLen < FpFrames) Iterator.empty
      else {
        val e = Array.ofDim[Long](FpFrames, FpBins)
        var f = 0
        while (f < FpFrames) {
          var k = 1
          while (k <= FpBins) {
            e(f)(k - 1) =
              dftBinEnergy(m.payload, f * FpFrameLen, FpFrameLen, k)
            k += 1
          }
          f += 1
        }
        var fp = 0L
        var t = 0
        while (t < FpTransitions) {
          var b = 0
          while (b < FpBins - 1) {
            val d1 = e(t + 1)(b) - e(t + 1)(b + 1)
            val d0 = e(t)(b) - e(t)(b + 1)
            if (d1 - d0 > 0) fp |= 1L << (FpChunkBits * t + b)
            b += 1
          }
          t += 1
        }
        Iterator.single((m.media_id, fp))
      }
    }.toDF("media_id", "fp")
  }

  /** The q235 driver entry: AUDIO FINGERPRINT MATCHING — the
    * retrieval half of the fingerprint front end whose analysis half
    * is q210: Haitsma-Kalker band-energy-difference bits per clip,
    * matched by Hamming distance <= 2 through the q23 pigeonhole
    * device (3 x 15-bit chunks: two flips can break at most two
    * chunks, so every pair within distance 2 agrees on >= 1 chunk —
    * candidates are an equi-join, never O(n^2)). Twins are PLANTED
    * (q163's re-container device): every doc_id % 15 == 10 clip is
    * re-ingested under id + FpTwinOffset, modeling the same recording
    * arriving from a second source; fixture near-dup texts supply any
    * additional organic matches. Output is the verified match table
    * (id_a, id_b, hamming).
    *
    * Scale shape: fingerprinting is a zero-shuffle scan map (8 bytes
    * out per clip); the only exchanges are the chunk equi-join and
    * the distinct over candidate pairs, both bounded by bucket
    * occupancy — the q22/q23 LSH posture. Payload bytes never
    * shuffle.
    */
  def audioFingerprintMatch(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val planted = docs.unionByName(
      docs.where(col("doc_id") % 15 === 10)
        .select((col("doc_id") + FpTwinOffset).as("doc_id"), col("text")))
    matchFingerprints(audioFingerprints(
      mediaTableOn(planted).filter(_.media_type == "audio/wav")))
  }

  /** Pigeonhole match over any (media_id, fp) frame — spec entry
    * point for crafted WAVs and completeness pins.
    */
  def matchFingerprints(fps: DataFrame): DataFrame = {
    val chunks = fps.select(
      col("media_id"), col("fp"),
      explode(array((0 until FpChunks).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("fp"), c * FpChunkBits)
            .bitwiseAND((1L << FpChunkBits) - 1).as("ck"))
      }: _*)).as("blk"))
      .select(col("media_id"), col("fp"),
        col("blk.chunk").as("chunk"), col("blk.ck").as("ck"))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
          col("a.media_id") < col("b.media_id"))
      .select(
        col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 2)
  }
}
