package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession.table
import graft.Materialize.MaterializeOps

/** Multimodal column handling: images/audio/video as opaque BINARY
  * columns plus typed metadata, with the decode/feature stage isolated
  * behind a narrow per-partition seam.
  *
  * The IMAGE path is fully real: `imageTable` renders a deterministic
  * PNG per row (dimensions and fill derived from the id, so the oracle
  * can predict them), and `decodeImages` decodes those bytes with
  * javax.imageio — an actual encode->decode codec round-trip, JDK-only
  * (respects the offline-build constraint). The AUDIO path is equally
  * real via javax.sound.sampled (`audioTable`/`decodeAudio`: WAV/PCM
  * encode->decode with id-arithmetic sample expectations). Only VIDEO
  * keeps a clearly-marked deterministic stub (the JDK ships no video
  * codec).
  * Around both, everything is the production shape:
  *  - schema: (id, modality, payload BINARY, meta fields);
  *  - batch-at-a-time decode via `mapPartitions` (the Scala analog of
  *    `mapInPandas`: one library/model init per partition, amortized
  *    over the rows — NEVER a per-row UDF that re-inits the codec);
  *  - decoded features come back as columnar-friendly fixed-width
  *    fields, so downstream stays in Tungsten/codegen land;
  *  - payload stays out of every shuffle until after decode, and decode
  *    output drops the payload — at 100 TB the binary bytes cross the
  *    wire zero times.
  */
object Multimodal {

  // ImageIO defaults to a DISK-backed stream cache: every encode/decode
  // creates (and deletes) a temp file under java.io.tmpdir. For the
  // small in-memory payloads this module round-trips, that file churn
  // dominates the codec itself — measured 175 ms vs 66 ms for 500 PNG
  // round-trips single-threaded (round 17), and it contends across
  // tasks at width. Memory-cached streams change no bytes, only cost.
  // Object-init runs once per JVM, on both driver and executors (the
  // codec closures reference this object).
  javax.imageio.ImageIO.setUseCache(false)

  case class MediaRow(id: Long, modality: String, payload: Array[Byte])
  case class MediaFeatures(id: Long, modality: String, byte_len: Long,
                           width: Int, height: Int, mean_luma: Double)
  case class ImageRow(id: Long, payload: Array[Byte])
  case class ImageFeatures(id: Long, width: Long, height: Long,
                           luma_milli: Long)

  /** Synthesize a BINARY media column from the documents table (the
    * harness ships no real media; UTF-8 bytes stand in for an encoded
    * payload). Production: spark.read.format("binaryFile") or a payload
    * column in parquet.
    */
  def mediaTable(spark: SparkSession, sfDir: String): DataFrame =
    mediaFrame(table(spark, sfDir, "documents"))

  /** The mediaTable projection over ANY documents-shaped frame (static
    * or streaming): (id, modality, payload BINARY).
    */

  /** Output-sort a codec-derived frame WITHOUT re-running the codec.
    * A global orderBy range-partitions its input, and the range
    * partitioner's SAMPLING pass executes the child plan once before
    * the exchange executes it again — for these frames that second
    * pass is a full decode/encode sweep of the corpus. Measured at the
    * r13 100x full-suite record: mm_resize (decode + dim arithmetic +
    * orderBy) ran SLOWER than the strictly-heavier mm_resize_exec
    * (decode + resample + encode + re-decode, no double-run), 62.0 s
    * vs 52.0 s. Checkpointing the small feature frame first makes the
    * sort read materialized rows; every codec runs exactly once.
    */
  private def sortedOnce(df: DataFrame, cols: String*): DataFrame =
    df.materialized.orderBy(cols.map(col): _*)

  def mediaFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("id"),
      (when(col("doc_id") % 2 === 0, "image").otherwise("video")).as("modality"),
      encode(col("text"), "UTF-8").as("payload"))

  /** Deterministic REAL image corpus: one PNG per even doc_id, rendered
    * with java.awt + encoded by javax.imageio. Width, height and the
    * constant gray fill are pure id arithmetic —
    * w = id%31+2, h = id%17+2, gray = id%256 — so the DuckDB oracle can
    * state exactly what a correct decode must recover, without being
    * able to (or needing to) reproduce the PNG container bytes.
    */
  def imageTable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir, "documents")
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id")).as[Long]
      // the id list is a few KB of parquet -> ONE input split, which
      // would serialize every downstream encode/decode chain onto one
      // core; spread the ids across the session width BEFORE the
      // CPU-heavy codec stages (the exchange moves only bare longs)
      .repartition(graft.Rebalance.sessionWidth(spark))
      .mapPartitions(ids => ids.map(id => ImageRow(id, encodePng(id))))
      .toDF()
  }

  /** Render + PNG-encode the deterministic image for `id` (see
    * imageTable for the dimension/fill formulas).
    */
  private def encodePng(id: Long): Array[Byte] = {
    val w = (id % 31 + 2).toInt
    val h = (id % 17 + 2).toInt
    val g = (id % 256).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (g << 16) | (g << 8) | g
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def decodeOrFail(id: Long, payload: Array[Byte]): java.awt.image.BufferedImage = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, s"undecodable image payload for id $id")
    img
  }

  /** Mean luma of a decoded image in exact integer milli-units:
    * floor(1000 * sum(r+g+b) / (3*w*h)). On a constant-gray image this
    * is exactly 1000*gray.
    */
  private def lumaMilli(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var sum = 0L
    var i = 0
    while (i < px.length) {
      val p = px(i)
      sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
      i += 1
    }
    1000L * sum / (3L * w * h)
  }

  /** REAL image decode behind the per-partition seam: javax.imageio
    * parses the PNG bytes back to pixels; features are the decoded
    * dimensions plus mean luma in exact integer milli-units. On the
    * constant-fill corpus that is exactly 1000*gray — the oracle checks
    * the codec round-trip recovered every generator parameter. Fails
    * loudly on undecodable bytes: silently skipping corrupt payloads
    * would undercount a real corpus.
    */
  def decodeImages(spark: SparkSession, images: DataFrame): Dataset[ImageFeatures] = {
    import spark.implicits._
    images.as[ImageRow].mapPartitions { rows =>
      // ImageIO reader instances are created per call; the expensive
      // plugin registry scan happens once per JVM — nothing per-row to
      // hoist, but a native codec handle would be opened HERE, once
      rows.map { r =>
        val img = decodeOrFail(r.id, r.payload)
        ImageFeatures(r.id, img.getWidth.toLong, img.getHeight.toLong, lumaMilli(img))
      }
    }
  }

  /** mm_resize_exec: the resample EXECUTED, not just planned — decode,
    * nearest-neighbor resample to the aspect-preserving box of
    * `resizePlan` (floor source mapping sx = x*w div ow: pure integer,
    * deterministic), re-encode as PNG, then decode the OUTPUT back and
    * emit its measured (dims, luma). The re-decode makes the audit
    * honest: a correct resample of a constant-fill source preserves
    * mean luma exactly, so the oracle can state the whole
    * decode->resample->encode->decode chain's result from id
    * arithmetic. All pixel I/O is bulk-array (getRGB/setRGB row
    * batches), never per-pixel accessor calls in a hot loop.
    */
  def resizeExec(spark: SparkSession, sfDir: String, target: Int = 224): DataFrame =
    resizeImages(spark, imageTable(spark, sfDir), target)

  /** resizeExec over a caller-supplied (id, payload) frame — the seam
    * specs use to push non-uniform images through the resample chain.
    */
  def resizeImages(spark: SparkSession, images: DataFrame, target: Int): DataFrame = {
    import spark.implicits._
    images.as[ImageRow].mapPartitions { rows =>
      rows.map { r =>
        val img = decodeOrFail(r.id, r.payload)
        val w = img.getWidth
        val h = img.getHeight
        val ow = if (w >= h) target else (w.toLong * target / h).toInt
        val oh = if (w >= h) (h.toLong * target / w).toInt else target
        val src = img.getRGB(0, 0, w, h, null, 0, w)
        val dst = new Array[Int](ow * oh)
        var y = 0
        while (y < oh) {
          val sy = (y.toLong * h / oh).toInt
          var x = 0
          while (x < ow) {
            dst(y * ow + x) = src(sy * w + (x.toLong * w / ow).toInt)
            x += 1
          }
          y += 1
        }
        val out = new java.awt.image.BufferedImage(
          ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
        out.setRGB(0, 0, ow, oh, dst, 0, ow)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        val dec = decodeOrFail(r.id, bos.toByteArray)
        ImageFeatures(r.id, dec.getWidth.toLong, dec.getHeight.toLong, lumaMilli(dec))
      }
    }.toDF()
      .select(col("id"), col("width").as("out_w"), col("height").as("out_h"),
        col("luma_milli"))
      .transform(sortedOnce(_, "id"))
  }

  /** STUB decode for the VIDEO modality — the one modality left with no
    * JDK codec (images round-trip through javax.imageio, audio through
    * javax.sound.sampled; see decodeAudio). Derives deterministic
    * pseudo-features from the bytes so the seam stays oracle-checkable;
    * a real decoder (ffmpeg/JNI) plugs in here with the same
    * per-partition amortization.
    */
  private def decodeStub(r: MediaRow): MediaFeatures = {
    val len = r.payload.length.toLong
    val w = (len % 640 + 1).toInt
    val h = (len % 480 + 1).toInt
    val luma = if (len == 0) 0.0
               else r.payload.iterator.map(b => (b & 0xff).toDouble).sum / len
    MediaFeatures(r.id, r.modality, len, w, h, math.floor(luma * 1000) / 1000)
  }

  /** Per-partition stub decode for codec-less modalities (see decodeStub). */
  def decodeFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      // val codec = Codec.open()  <- once per partition in production
      rows.map(decodeStub)
    }
  }

  case class AudioRow(id: Long, payload: Array[Byte])
  case class AudioFeatures(id: Long, n_samples: Long, sample_rate: Long,
                           sum_abs: Long, peak_abs: Long)

  /** Deterministic REAL audio corpus: one PCM WAV per odd doc_id,
    * encoded by javax.sound.sampled (the imageTable pattern for the
    * audio modality — JDK-only, offline-safe). Sample count and every
    * 16-bit sample value are pure id arithmetic —
    * n = id%100+8, sample(i) = (id*31 + i*7) % 65536 - 32768 — so the
    * oracle states exactly what a correct decode must recover without
    * reproducing the RIFF container bytes.
    */
  def audioTable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir, "documents")
      .filter(col("doc_id") % 2 === 1)
      .select(col("doc_id").as("id")).as[Long]
      // same split-spreading rationale as imageTable: the id list is one
      // input split; spread before the CPU-heavy codec stages
      .repartition(graft.Rebalance.sessionWidth(spark))
      .mapPartitions(ids => ids.map(id => AudioRow(id, encodeWav(id))))
      .toDF()
  }

  /** Render + WAV-encode the deterministic clip for `id` (see audioTable
    * for the formulas): 8 kHz, 16-bit signed little-endian, mono.
    */
  private def encodeWav(id: Long): Array[Byte] = {
    val n = (id % 100 + 8).toInt
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = ((id * 31 + i * 7) % 65536 - 32768).toInt
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL audio decode behind the per-partition seam: parse the WAV
    * container back to PCM with javax.sound.sampled, verify the format,
    * and emit exact-integer amplitude features — sample count, rate,
    * sum and peak of |sample|. On the id-arithmetic corpus the oracle
    * recomputes all four from the generator formulas; any container or
    * sample-math drift hash-mismatches. Fails loudly on undecodable
    * bytes (same contract as decodeOrFail).
    */
  def decodeAudio(spark: SparkSession, audio: DataFrame): Dataset[AudioFeatures] = {
    import spark.implicits._
    audio.as[AudioRow].mapPartitions { rows =>
      rows.map { r =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        val f = ais.getFormat
        require(f.getSampleSizeInBits == 16 && f.getChannels == 1 &&
          !f.isBigEndian &&
          f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          s"unexpected audio format for id ${r.id}: $f")
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        var sumAbs = 0L
        var peak = 0L
        var i = 0
        while (i < n) {
          val s = (bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xff)
          val a = math.abs(s.toLong)
          sumAbs += a
          if (a > peak) peak = a
          i += 1
        }
        AudioFeatures(r.id, n.toLong, f.getSampleRate.toLong, sumAbs, peak)
      }
    }
  }

  /** mm_audio_decode: the full real audio codec round-trip — generate
    * WAVs, decode them back, emit recovered exact-integer features.
    */
  def decodedAudioFeatures(spark: SparkSession, sfDir: String): DataFrame =
    sortedOnce(decodeAudio(spark, audioTable(spark, sfDir)).toDF(), "id")

  case class AudioFingerprint(id: Long, fp: Long, peak_frame: Long)

  /** mm_audio_fingerprint: compact audio fingerprint off the REAL
    * decode — the audio twin of [[imageAHash]]'s ingest-time hashing
    * stage. Each clip's PCM splits into 8 equal-share frames
    * (frame of sample i = (8*i) div n); frame energy = sum |sample|;
    * the fingerprint bit j says energy rose from frame j to j+1 (the
    * sign-of-delta discipline production audio fingerprints build on,
    * reduced to its integer-exact core — no FFT, so the oracle can
    * replay every bit from the generator's sample arithmetic), plus
    * the loudest frame's index (ties to the earliest). Extraction is
    * one pass over the samples inside the declared codec seam; the
    * emitted row is 3 integers per clip regardless of clip length —
    * what an ingest pipeline persists so matching never re-decodes.
    *
    * Output: (id, fp, peak_frame), ordered by id.
    */
  def audioFingerprints(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val out = audioTable(spark, sfDir).as[AudioRow].mapPartitions { rows =>
      rows.map { r =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        val f = ais.getFormat
        require(f.getSampleSizeInBits == 16 && f.getChannels == 1 &&
          !f.isBigEndian &&
          f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          s"unexpected audio format for id ${r.id}: $f")
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        val e = new Array[Long](8)
        var i = 0
        while (i < n) {
          val s = (bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xff)
          e((8 * i) / n) += math.abs(s.toLong)
          i += 1
        }
        var fp = 0L
        var j = 0
        while (j < 7) {
          if (e(j + 1) > e(j)) fp |= (1L << j)
          j += 1
        }
        var pf = 0
        j = 1
        while (j < 8) {
          if (e(j) > e(pf)) pf = j
          j += 1
        }
        AudioFingerprint(r.id, fp, pf.toLong)
      }
    }
    sortedOnce(out.toDF(), "id")
  }

  /** Metadata pass that never touches a decoder: byte length + content
    * hash straight off the BINARY column (pure codegen, oracle-checkable).
    */
  def mediaMeta(spark: SparkSession, sfDir: String): DataFrame =
    mediaTable(spark, sfDir)
      .select(col("id"), col("modality"),
        octet_length(col("payload")).cast("long").as("byte_len"),
        sha2(col("payload"), 256).as("sha"))
      .orderBy("id")

  /** mm_decode: the full real codec round-trip — generate PNGs, decode
    * them with javax.imageio, emit the recovered (width, height,
    * luma_milli) per image. The oracle recomputes what the generator
    * encoded; any codec/pixel math drift hash-mismatches.
    *
    * Deliberately BUILD-INCLUSIVE (never store-served): this query and
    * [[resizeExec]] exist to MEASURE the codec chain itself — serving
    * them from [[imageFeatureFrame]] would time the cache, not the
    * decode (VERDICT r16 #3's honesty split).
    */
  def decodedImageFeatures(spark: SparkSession, sfDir: String): DataFrame =
    sortedOnce(decodeImages(spark, imageTable(spark, sfDir)).toDF(), "id")

  /** Decode-once-serve-many (VERDICT r16 #3): the decoded fixed-width
    * image feature frame (id, width, height, luma_milli) — a few
    * integers per image, regardless of payload size — materialized ONCE
    * per corpus snapshot and shared by every query that CONSUMES decoded
    * features rather than measuring the decode ([[resizePlan]]'s dim
    * arithmetic, [[featureSummary]]'s per-modality rollup). This is what
    * an ingest pipeline persists at 100 TB: payloads decode once at
    * ingest, every downstream curation pass reads the feature columns.
    * Keyed on corpus content fingerprint (the aHash-store discipline);
    * the ≥2-consumer StoreContractSpec rule covers it.
    */
  private val imageFeatureStores = graft.ArtifactStore.frames("mm.imageFeatures")
  private def imageFeatureFrame(spark: SparkSession, sfDir: String): DataFrame =
    imageFeatureStores.getOrBuild(
      corpusSlot(spark, sfDir), docsFp(spark, sfDir)) {
      decodeImages(spark, imageTable(spark, sfDir)).toDF().materialized
    }

  /** Patterned sibling of [[imageTable]]: pixel gray
    * (id*31 + x*7 + y*13) % 256 instead of the constant fill — the
    * perceptual-hash rung needs images with internal structure (an
    * average-hash of a constant image is degenerately all-zero). Same
    * dimension formulas, same PNG encode path, same id-parity split.
    */
  def patternImageTable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir, "documents")
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id")).as[Long]
      .repartition(graft.Rebalance.sessionWidth(spark))
      .mapPartitions(ids => ids.map(id => ImageRow(id, encodePatternPng(id))))
      .toDF()
  }

  private def encodePatternPng(id: Long): Array[Byte] = {
    val w = (id % 31 + 2).toInt
    val h = (id % 17 + 2).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = ((id * 31L + x * 7L + y * 13L) % 256L).toInt
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** mm_phash: 8x8 average hash (aHash — the canonical cheap
    * perceptual fingerprint behind image near-dup detection) computed
    * through the REAL codec chain: encode the patterned PNGs, decode
    * with javax.imageio, nearest-neighbor-sample an 8x8 grid
    * (sx = jx*w div 8 — [[resizeExec]]'s floor source mapping), then
    * bit j = sample_j > floor(mean of the 64 samples). The hash is
    * emitted as two 32-bit halves so every value stays a non-negative
    * BIGINT in both engines (a packed 64-bit hash would need the sign
    * bit). The oracle replays the whole thing arithmetically from the
    * generator formulas — codec drift, sampling-grid drift, or
    * threshold drift all hash-mismatch.
    *
    * Scale shape: per-row decode + 64 integer samples behind the
    * declared mapPartitions codec seam, no shuffle at all before the
    * output sort. At 100 TB the hash column feeds the simhash-style
    * banded pairing rung (hamming near-dups join on band chunks, never
    * all-pairs) — the hash computation itself stays embarrassingly
    * parallel.
    *
    * Output: (id, width, height, ahash_lo, ahash_hi), ordered by id.
    */
  def imageAHash(spark: SparkSession, sfDir: String): DataFrame =
    // store-served (decode-once): the output sort reads materialized
    // hash rows — the codec chain runs once per corpus snapshot, shared
    // with the pairing rung's build
    aHashStored(spark, sfDir).orderBy("id")

  /** The aHash frame as a stored artifact (VERDICT r16 #3): one decode +
    * hash pass per corpus snapshot, serving both the hash query itself
    * ([[imageAHash]]) and the banded pairing rung's build
    * ([[aHashPairsUncached]] — itself stored, consumed by pairs/
    * clusters/funnel). Same slot/fingerprint discipline as the pair
    * stores.
    */
  private val aHashFeatureStores = graft.ArtifactStore.frames("mm.aHashFeatures")
  private def aHashStored(spark: SparkSession, sfDir: String): DataFrame =
    aHashFeatureStores.getOrBuild(
      corpusSlot(spark, sfDir), docsFp(spark, sfDir)) {
      aHashFrame(spark, sfDir).materialized
    }

  /** The aHash relation without the output sort — shared by
    * [[imageAHash]] and the pairing rung (which checkpoints it so the
    * decode chain runs ONCE, not once per join side).
    */
  private def aHashFrame(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    patternImageTable(spark, sfDir).as[ImageRow]
      .mapPartitions(rows => rows.map(aHashOfRow))
      .toDF("id", "width", "height", "ahash_lo", "ahash_hi")
  }

  /** Decode one patterned image and compute its aHash — the per-row
    * core shared by the batch frame and the streaming twin (which
    * encodes in the same call since its input is the bare id stream).
    */
  private[graft] def aHashOfRow(r: ImageRow): (Long, Long, Long, Long, Long) = {
    val img = decodeOrFail(r.id, r.payload)
    val w = img.getWidth
    val h = img.getHeight
    val s = new Array[Long](64)
    var j = 0
    while (j < 64) {
      val sx = ((j % 8) * w) / 8
      val sy = ((j / 8) * h) / 8
      s(j) = (img.getRGB(sx, sy) & 0xff).toLong // gray: all channels equal
      j += 1
    }
    val avg = s.sum / 64L
    var lo = 0L
    var hi = 0L
    j = 0
    while (j < 64) {
      if (s(j) > avg) {
        if (j < 32) lo |= 1L << j else hi |= 1L << (j - 32)
      }
      j += 1
    }
    (r.id, w.toLong, h.toLong, lo, hi)
  }

  /** Encode-then-hash for a bare id — the streaming twin's per-row op. */
  private[graft] def aHashOfId(id: Long): (Long, Long, Long, Long, Long) =
    aHashOfRow(ImageRow(id, encodePatternPng(id)))

  /** mm_phash_pairs: image near-duplicate pairs by aHash hamming
    * distance — the banded pairing rung over [[imageAHash]], closing
    * the multimodal dedup loop (crawled image corpora are MOSTLY
    * re-hosted copies; pHash-bucket dedup is the standard first pass).
    * Same chunk discipline as the text SimHash rung: the 64-bit hash
    * splits into 4 x 16-bit bands, hamming <= 3 guarantees (pigeonhole)
    * at least one band matches exactly, so candidates only materialize
    * inside a band bucket — never all-pairs. Hot buckets (a chunk value
    * shared by > maxDf images: think letterboxed black frames at crawl
    * scale) are dropped from pairing entirely, the stop-shingle guard
    * applied to pixels.
    *
    * The decoded hash frame is checkpointed once — the codec chain
    * never runs twice. Verification is exact: bit_count of the XOR on
    * both halves, <= maxHamming, over DISTINCT candidate pairs.
    *
    * Output: (id_a, id_b, hamming), ordered.
    */
  def aHashPairs(spark: SparkSession, sfDir: String,
                 maxHamming: Int = 3, maxDf: Int = 100): DataFrame =
    // run-lifetime artifact store (the Dedup.fuzzyGraphStore pattern
    // on the image side): the pair graph is ONE artifact per corpus
    // snapshot and parameter choice — the pairs query, the cluster
    // resolution and the funnel all consume the same edges, so the
    // decode + banded pairing runs once per run, not once per
    // consumer. Keyed on content fingerprint + parameters +
    // checkpoint mode.
    aHashPairStores.getOrBuild(
      corpusSlot(spark, sfDir) + s"|$maxHamming|$maxDf",
      docsFp(spark, sfDir)) {
      aHashPairsUncached(spark, sfDir, maxHamming, maxDf).materialized
    }.orderBy("id_a", "id_b")

  private val aHashPairStores = graft.ArtifactStore.frames("mm.aHashPairs")

  private def corpusSlot(spark: SparkSession, sfDir: String): String =
    spark.sparkContext.applicationId + "|" + sfDir + "|" +
      spark.conf.get("spark.graft.reliableCheckpoint", "false")
  private def docsFp(spark: SparkSession, sfDir: String): String =
    graft.GraftSession.contentFingerprint(spark, s"$sfDir/documents.parquet")

  private def aHashPairsUncached(spark: SparkSession, sfDir: String,
                                 maxHamming: Int, maxDf: Int): DataFrame = {
    // store-served hashes: already materialized, so the two join sides
    // and the df pass all read the same checkpointed rows (no re-decode,
    // no second materialize)
    val hs = aHashStored(spark, sfDir).select("id", "ahash_lo", "ahash_hi")
    val chunked = hs.select(col("id"), col("ahash_lo"), col("ahash_hi"),
      posexplode(array(
        col("ahash_lo").bitwiseAND(lit(0xFFFFL)),
        shiftright(col("ahash_lo"), 16).bitwiseAND(lit(0xFFFFL)),
        col("ahash_hi").bitwiseAND(lit(0xFFFFL)),
        shiftright(col("ahash_hi"), 16).bitwiseAND(lit(0xFFFFL)))).as(Seq("band", "chunk")))
    val rare = chunked.groupBy("band", "chunk")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("band", "chunk")
    val pruned = chunked.join(rare, Seq("band", "chunk"), "left_semi")
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.ahash_lo").as("la"), col("a.ahash_hi").as("ha"),
        col("b.ahash_lo").as("lb"), col("b.ahash_hi").as("hb"))
      .distinct()
      .withColumn("hamming",
        (bit_count(col("la").bitwiseXOR(col("lb"))) +
          bit_count(col("ha").bitwiseXOR(col("hb")))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** mm_phash_clusters: image near-duplicate CLUSTERS — the banded
    * aHash pairs ([[aHashPairs]]) resolved into components, completing
    * the image-dedup loop the way dedup_clusters completes the text
    * one (a re-hosted image usually has MANY copies; the keep/drop
    * decision needs the whole component, not pairwise edges). Runs the
    * large-star/small-star contraction (Dedup.connectedComponentsTwoStar)
    * — re-hosting chains (site A copies B copies C) are exactly the
    * high-diameter topology the star rounds flatten in O(log n).
    *
    * Scale shape: the pairing rung's cost dominates (banded, df-capped,
    * representatives of the decode); the contraction then runs over
    * near-dup edges only. Output: (id, cluster_id = component-minimum
    * image id) for every paired image, ordered.
    */
  def aHashClusters(spark: SparkSession, sfDir: String,
                    maxHamming: Int = 3, maxDf: Int = 100): DataFrame =
    aHashClusterStores.getOrBuild(
      corpusSlot(spark, sfDir) + s"|$maxHamming|$maxDf",
      docsFp(spark, sfDir)) {
      // the store-served pair graph is already checkpointed; the
      // contraction's edge input needs no second materialization
      val pairs = aHashPairs(spark, sfDir, maxHamming, maxDf)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      graft.ops.Dedup.connectedComponentsTwoStar(pairs)
        .select(col("doc_id").as("id"), col("cluster_id"))
        .materialized
    }.orderBy("id")

  private val aHashClusterStores = graft.ArtifactStore.frames("mm.aHashClusters")

  /** mm_media_funnel: the image-side CURATION FUNNEL in one audit row —
    * what [[graft.ops.Dedup.curationFunnel]] (pipeline_e2e) is for text: how
    * many images arrived, how many near-dup-paired, how many clusters
    * they form, how many a keep-one-per-cluster pass drops, how many
    * survive. The numbers a crawl report leads with, derived from the
    * SAME machinery the standalone queries price (decode -> aHash ->
    * banded pairs -> star-contraction clusters), composed rather than
    * reimplemented.
    *
    * Output: 1 row (n_images, n_paired, n_clusters, n_dropped, n_kept).
    */
  def mediaFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val clusters = aHashClusters(spark, sfDir) // store-materialized
    val nImages = table(spark, sfDir, "documents")
      .filter(col("doc_id") % 2 === 0)
      .agg(count(lit(1)).as("n_images"))
    val stats = clusters.agg(count(lit(1)).as("n_paired"),
      count_distinct(col("cluster_id")).as("n_clusters"))
    nImages.crossJoin(broadcast(stats))
      .select(col("n_images"), col("n_paired"), col("n_clusters"),
        (col("n_paired") - col("n_clusters")).as("n_dropped"),
        (col("n_images") - (col("n_paired") - col("n_clusters"))).as("n_kept"))
  }

  /** Decoded-feature aggregate: per modality, count + summed dimensions.
    * Image dims come from the REAL javax.imageio decode; video dims from
    * the labeled stub (the one codec-less modality).
    */
  def featureSummary(spark: SparkSession, sfDir: String): DataFrame = {
    // decode-CONSUMING (not decode-measuring): reads the stored feature
    // frame — the codec ran once per corpus snapshot, at ingest
    val img = imageFeatureFrame(spark, sfDir)
      .select(lit("image").as("modality"), col("width"), col("height"))
    val vid = decodeFeatures(spark,
        mediaTable(spark, sfDir).filter(col("modality") === "video")).toDF()
      .select(lit("video").as("modality"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"))
    sortedOnce(
      img.unionByName(vid)
        .groupBy("modality")
        .agg(count(lit(1)).as("n"),
          sum(col("width")).as("sum_width"),
          sum(col("height")).as("sum_height")), "modality")
  }

  /** Resize planning: aspect-preserving fit of each decoded image into a
    * target box (the standard pre-train normalization step). Source
    * dimensions come from the REAL decode; the output dims are pure
    * integer arithmetic (BIGINT floor division — oracle-exact). The
    * pixel resample itself belongs next to decodeImages' codec; the plan
    * (who, from what dims, to what dims) is the Spark-side contract.
    */
  def resizePlan(spark: SparkSession, sfDir: String, target: Int = 224): DataFrame =
    sortedOnce(
      // decode-CONSUMING: dim arithmetic over the stored feature frame
      imageFeatureFrame(spark, sfDir)
        .select(col("id"), col("width"), col("height"))
        .withColumn("out_w",
          expr(s"CASE WHEN width >= height THEN ${target}L ELSE (width * $target) div height END"))
        .withColumn("out_h",
          expr(s"CASE WHEN width >= height THEN (height * $target) div width ELSE ${target}L END")),
      "id")

  /** Frame-sampling shape for video: explode N evenly-spaced frame
    * indices per media row — the fan-out stage before a per-frame decode.
    * Deterministic arithmetic only.
    */
  def sampleFrames(spark: SparkSession, sfDir: String, nFrames: Int = 4): DataFrame =
    mediaTable(spark, sfDir)
      .filter(col("modality") === "image")
      .withColumn("total_frames", octet_length(col("payload")).cast("long"))
      .select(col("id"), col("total_frames"),
        explode(sequence(lit(0), lit(nFrames - 1))).as("k"))
      .withColumn("frame_idx",
        floor(col("k") * col("total_frames") / nFrames).cast("long"))
      .select(col("id"), col("k").cast("long").as("k"), col("frame_idx"))
      .orderBy("id", "k")

  /** mm_scenes: scene-boundary segmentation over the sampled frames —
    * the shot-detection stage of a video curation pipeline (cut where
    * consecutive frame features jump more than a threshold; each run
    * between cuts is one scene, the unit a caption/filter model then
    * scores). The per-frame "feature" here is REAL byte access into
    * the payload at the sampled offset (the harness payload is UTF-8
    * text, so the byte doubles as an oracle-checkable feature); a
    * production decoder swaps in a per-frame embedding at the same
    * seam without touching the segmentation plan.
    *
    * Scale shape: frame fan-out is the [[sampleFrames]] explode
    * (nFrames rows per media item, payload never shuffled — the byte
    * is projected out BEFORE the window); the lag/cut/scene-index
    * windows partition by media id over exactly nFrames rows, so the
    * per-partition sort is constant-size regardless of corpus scale.
    * One shuffle on id, then the per-scene rollup reuses the same
    * partitioning.
    *
    * Output: one row per detected scene — (id, scene_idx, start_k,
    * end_k, n_frames), ordered.
    */
  def sceneCuts(spark: SparkSession, sfDir: String,
                nFrames: Int = 8, threshold: Long = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frames = mediaTable(spark, sfDir)
      .filter(col("modality") === "image")
      .withColumn("total_frames", octet_length(col("payload")).cast("long"))
      .select(col("id"), col("total_frames"), col("payload"),
        explode(sequence(lit(0), lit(nFrames - 1))).as("k"))
      .withColumn("frame_idx",
        floor(col("k") * col("total_frames") / nFrames).cast("long"))
      .select(col("id"), col("k").cast("long").as("k"),
        ascii(expr("substring(CAST(payload AS STRING), CAST(frame_idx + 1 AS INT), 1)"))
          .cast("long").as("feat"))
    val w = Window.partitionBy("id").orderBy("k")
    frames
      .withColumn("prev", lag(col("feat"), 1).over(w))
      .withColumn("cut",
        when(col("prev").isNull || abs(col("feat") - col("prev")) >= threshold, 1L)
          .otherwise(0L))
      .withColumn("scene_idx", sum(col("cut")).over(w) - 1L)
      .groupBy("id", "scene_idx")
      .agg(min(col("k")).as("start_k"), max(col("k")).as("end_k"),
        count(lit(1)).as("n_frames"))
      .orderBy("id", "scene_idx")
  }

  /** [[sceneCuts]] computed ENTIRELY in-row — same relation, zero
    * shuffle, zero window: all of a media item's frames live in its one
    * payload row, so sampling, feature deltas, cut flags and the
    * per-scene rollup are array HOFs over that row. This is what makes
    * the STREAMING twin stateless (stream_scenes: a pure per-row
    * projection, no state store) and it is also the better BATCH plan
    * when scenes feed a later per-doc stage — the window form exists as
    * the shape the shared oracle replays in SQL.
    *
    * Expects a media-shaped frame (id, modality, payload).
    */
  def sceneFrame(media: DataFrame,
                 nFrames: Int = 8, threshold: Long = 30): DataFrame = {
    val s = col("payload").cast("string")
    val total = octet_length(col("payload")).cast("long")
    media
      .filter(col("modality") === "image")
      .withColumn("feats",
        transform(sequence(lit(0L), lit(nFrames - 1L)), k =>
          ascii(s.substr((floor(k * total / nFrames) + 1L).cast("int"), lit(1)))
            .cast("long")))
      // cut(0) = 1; cut(k) = |feat(k) - feat(k-1)| >= threshold
      .withColumn("cuts",
        transform(col("feats"), (f, i) =>
          when(i === 0, lit(1L)).otherwise(
            when(abs(f - element_at(col("feats"), i)) >= threshold, 1L)
              .otherwise(0L))))
      // 0-based frame positions where a new scene starts
      .withColumn("starts",
        filter(transform(col("cuts"), (c, i) =>
          when(c === 1L, i.cast("long")).otherwise(lit(-1L))), x => x >= 0L))
      .withColumn("scene",
        explode(transform(col("starts"), (st, i) =>
          struct(i.cast("long").as("scene_idx"), st.as("start_k"),
            // next scene's start - 1, or the last frame for the final
            // scene (try_element_at: the lookup past the end is the
            // expected signal, not an error)
            coalesce(try_element_at(col("starts"), i + 2) - 1L, lit(nFrames - 1L))
              .as("end_k")))))
      .select(col("id"), col("scene.scene_idx").as("scene_idx"),
        col("scene.start_k").as("start_k"), col("scene.end_k").as("end_k"),
        (col("scene.end_k") - col("scene.start_k") + 1L).as("n_frames"))
  }
}
