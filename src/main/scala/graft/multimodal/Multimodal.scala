package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * payloads plus a typed metadata struct, with decode / feature-extract /
  * frame-sample stages.
  *
  * IMAGES are decoded for real: the JDK ships PNG/JPEG/GIF/BMP codecs
  * (`javax.imageio.ImageIO`), so [[encodeGrayPng]] / [[decodeImageFeatures]]
  * run an actual encode→decode round trip over real compressed bytes.
  * AUDIO is decoded for real too: the JDK ships WAV/AIFF/AU containers
  * (`javax.sound.sampled`), so [[encodePcmWav]] / [[decodeAudioFeatures]]
  * run an actual PCM round trip through a genuine RIFF/WAVE stream.
  * COMPRESSED audio is real as well: [[ImaAdpcm]] implements the
  * published IMA/DVI ADPCM codec (4 bits/sample, pure integer) in the
  * standard WAVE fmt-0x0011 container, so [[encodeImaAdpcmWav]] /
  * [[adpcmRoundTripStats]] run a genuine lossy compress→decompress
  * cycle. Inter-frame/entropy codecs (opus/h264) are NOT in this
  * container, so the generic byte-level decode and the non-AVI frame
  * demux remain clearly-marked deterministic STAND-INS — but every
  * decode path routes through the [[MediaCodecs]] registry, so
  * swapping in a real codec is a one-class change (see the MediaCodecs
  * scaladoc example; MultimodalCodecSpec proves the PNG/WAV paths
  * route through the registry with identical results) —
  * what is real throughout, and what this module exists to pin down, is
  * the Spark-side shape a production pipeline needs:
  *  - payloads travel as `BinaryType` columns (Tungsten keeps them
  *    off-heap; parquet stores them as BYTE_ARRAY pages) with metadata
  *    in a sibling struct so pruning works — a scan that only needs
  *    metadata never touches payload bytes;
  *  - per-partition batch processing via `mapPartitions` on a typed
  *    Dataset: the decoder is instantiated once per partition (the
  *    expensive part for real codecs), then streamed over the iterator —
  *    the JVM twin of `mapInPandas`' batch contract;
  *  - outputs are columnar-friendly (fixed-width features,
  *    `array<float>` embeddings) so downstream similarity/dedup
  *    operators (graft.operators.Similarity) compose directly.
  */
object Multimodal {

  // memory-backed ImageIO streams (see the MediaCodecs note) — set in
  // BOTH object inits because encode closures (grayPngBytes et al.)
  // can reach an executor without ever loading MediaCodecs
  javax.imageio.ImageIO.setUseCache(false)

  case class MediaRecord(id: Long, media_type: String, payload: Array[Byte])
  case class MediaFeatures(id: Long, media_type: String, n_bytes: Long,
      mean_byte: Double, embedding: Array[Float], codec: String)
  case class ImageFeatures(id: Long, media_type: String, n_bytes: Long,
      width: Int, height: Int, mean_pixel: Double, embedding: Array[Float])
  case class Frame(id: Long, frame_idx: Int, offset: Long,
      frame_bytes: Array[Byte], codec: String)

  /** Wrap any table with a binary payload column into the canonical
    * media schema. (Test data has no real media; callers typically
    * `encode(text)` or read raw files via `spark.read.format("binaryFile")`.)
    *
    * This is the entry of every codec-CPU pipeline (decode, FFT,
    * mux/demux), so a tiny single-split input is fanned out here once
    * ([[graft.core.Parallelism.fanOut]]) and every downstream
    * mapPartitions stage inherits full-cluster parallelism; at
    * production input sizes the fan-out is a no-op by its size guard. */
  def asMedia(df: DataFrame, idCol: String, payloadCol: String,
      mediaType: String): Dataset[MediaRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.core.Parallelism.fanOut(
      df.select(col(idCol).cast("long").as("id"),
        lit(mediaType).as("media_type"),
        col(payloadCol).cast("binary").as("payload")))
      .as[MediaRecord]
  }

  /** Decode + feature-extract for NON-image media, batched per
    * partition, routed through the [[MediaCodecs]] feature registry
    * (default: [[MediaCodecs.ByteStatsCodec]], the documented
    * deterministic STAND-IN for the compressed codecs absent in this
    * container — register a real opus/h264 feature codec for
    * production media types; the plumbing here doesn't change).
    * `codec` overrides the registry for this call. Images don't need
    * this — use the real [[decodeImageFeatures]]. Output carries the
    * resolved codec's name in the `codec` column, so stand-in rows are
    * always distinguishable downstream; `requireReal = true` instead
    * FAILS on the first payload whose media type resolves to a
    * documented stand-in ([[MediaCodecs.StandIn]]) — the strict mode
    * for pipelines that must never ingest pseudo-features. */
  def decodeFeatures(media: Dataset[MediaRecord], embeddingDim: Int = 8,
      codec: Option[MediaCodecs.MediaFeatureCodec] = None,
      requireReal: Boolean = false): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    val snap = MediaCodecs.featureSnapshot // plan-build-time capture
    media.mapPartitions { it =>
      // the codec strategy travels in the closure; a heavy native
      // context belongs in a lazy per-JVM field inside the codec
      it.map { r =>
        val c = codec.getOrElse(MediaCodecs.resolve(snap, r.media_type))
        if (requireReal && MediaCodecs.isStandIn(c))
          throw new IllegalArgumentException(
            s"media_type '${r.media_type}' (id=${r.id}) resolves to " +
            s"stand-in codec '${c.name}' — register a real codec or " +
            "drop requireReal")
        val (meanByte, emb) = c.decode(r.payload, embeddingDim)
        MediaFeatures(r.id, r.media_type, r.payload.length.toLong,
          meanByte, emb, c.name)
      }
    }
  }

  /** REAL image encode: pack each payload's bytes row-major into a
    * `width`-pixel-wide 8-bit grayscale image (zero-padded to the last
    * row) and compress it to PNG with the JDK's `javax.imageio` codec.
    * The output payloads are genuine PNG files; pixel values survive the
    * round trip exactly (8-bit gray PNG is lossless), which is what
    * makes the decoded features oracle-checkable: every pixel is a
    * deterministic function of the input bytes even though the PNG
    * byte stream itself is codec-version-dependent. */
  def encodeGrayPng(media: Dataset[MediaRecord], width: Int = 16): Dataset[MediaRecord] = {
    require(width >= 1)
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map(r => MediaRecord(r.id, "image/png", grayPngBytes(r.payload, width)))
    }
  }

  /** The [[encodeGrayPng]] kernel as a plain function: payload bytes →
    * genuine PNG bytes (row-major `width`-wide 8-bit gray, zero-padded
    * to the last row) — reused by the AVI muxing pipeline, which packs
    * per-frame PNGs into a real RIFF container ([[AviMjpeg]]). */
  def grayPngBytes(payload: Array[Byte], width: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(grayImage(payload, width), "png", bos)
    bos.toByteArray
  }

  /** The LOSSY twin of [[grayPngBytes]]: the same row-major gray
    * packing compressed to baseline JPEG at `quality` by the JDK's
    * actual DCT codec — genuine compressed frames for true-MJPEG AVIs
    * ([[AviMjpeg]] names the stream MJPG; with JPEG chunks the file is
    * what that fourcc promises). JPEG is lossy, so oracled queries keep
    * PNG frames (pixel-exact replay); the JPEG path's bounded
    * reconstruction error is pinned in MultimodalCodecSpec instead. */
  def grayJpegBytes(payload: Array[Byte], width: Int,
      quality: Float = 0.9f): Array[Byte] = {
    require(quality > 0f && quality <= 1f, "quality in (0, 1]")
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null,
        new javax.imageio.IIOImage(grayImage(payload, width), null, null),
        param)
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  private def grayImage(payload: Array[Byte],
      width: Int): java.awt.image.BufferedImage = {
    val h = math.max(1, (payload.length + width - 1) / width)
    val img = new java.awt.image.BufferedImage(width, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var i = 0
    val n = width * h
    while (i < n) {
      raster.setSample(i % width, i / width, 0,
        if (i < payload.length) payload(i) & 0xff else 0)
      i += 1
    }
    img
  }

  /** REAL image decode + feature extraction, batched per partition,
    * routed through the [[MediaCodecs]] image registry (default:
    * [[MediaCodecs.ImageIoCodec]] — the JDK's actual PNG/JPEG/GIF/BMP
    * decoder). Features come from the decoded pixels — dimensions,
    * mean luminance (band 0), and an `embeddingDim`-band embedding
    * (mean luminance of `embeddingDim` horizontal stripes: a real, if
    * tiny, pooled-pixel feature). Undecodable payloads fail loudly
    * rather than degrade to byte statistics. `codec` overrides the
    * registry for this call. */
  def decodeImageFeatures(media: Dataset[MediaRecord],
      embeddingDim: Int = 8,
      codec: Option[MediaCodecs.GrayImageCodec] = None): Dataset[ImageFeatures] = {
    require(embeddingDim >= 1)
    val spark = media.sparkSession
    import spark.implicits._
    val snap = MediaCodecs.imageSnapshot // plan-build-time capture
    media.mapPartitions { it =>
      // the mapPartitions boundary is where a heavier codec (JavaCV
      // etc.) amortizes its per-JVM setup across the batch
      it.map { r =>
        val c = codec.getOrElse(MediaCodecs.resolve(snap, r.media_type))
        val (w, h, px) = c.decodeGray(r.payload, r.id)
        val (mean, emb) = grayBandFeatures(w, h, px, embeddingDim)
        ImageFeatures(r.id, r.media_type, r.payload.length.toLong, w, h,
          mean, emb)
      }
    }
  }

  /** Perceptual difference hash (dHash) of each image: registry decode
    * → exact block-sum downscale onto a `(gridW+1) × gridH` luminance
    * grid → one bit per horizontally-adjacent cell pair (set iff the
    * left cell's mean luminance is strictly below the right's), packed
    * into a 64-bit signature at bit `gy*gridW + gx`. The classic
    * crop/re-encode-robust image fingerprint (public algorithm —
    * Krawetz's dHash), and the hash-space twin of the embedding-based
    * [[graft.operators.Dedup.semanticPairs]] image near-dup: SemDeDup
    * asks "does this LOOK like that" in cosine space; dHash asks it in
    * Hamming space where the candidate join is pigeonhole-exact.
    *
    * Mean comparison is cross-multiplied block sums
    * (`sL·nR < sR·nL` on exact integers — no division, no rounding),
    * so the hash replays bit-for-bit in the DuckDB oracle; cells left
    * empty by short images have `s = n = 0`, making the comparison
    * false on either side — empty cells contribute 0-bits with no
    * special casing. Output: `(id, phash)`.
    *
    * Scale shape: one `mapPartitions` projection per payload — no
    * shuffle; the pair stage ([[dHashPairs]]) is the banded equi-join. */
  def dHash(media: Dataset[MediaRecord], gridW: Int = 8, gridH: Int = 8,
      codec: Option[MediaCodecs.GrayImageCodec] = None): DataFrame = {
    require(gridW >= 1 && gridH >= 1 && gridW * gridH <= 64,
      s"dHash grid $gridW x $gridH exceeds 64 bits")
    val spark = media.sparkSession
    import spark.implicits._
    val snap = MediaCodecs.imageSnapshot
    media.mapPartitions { it =>
      it.map { r =>
        val c = codec.getOrElse(MediaCodecs.resolve(snap, r.media_type))
        val (w, h, px) = c.decodeGray(r.payload, r.id)
        (r.id, dHash64(w, h, px, gridW, gridH))
      }
    }.toDF("id", "phash")
  }

  /** The [[dHash]] kernel: pixel (x, y) lands in grid cell
    * `(min(gridW, x·(gridW+1)/w), min(gridH−1, y·gridH/h))` — the same
    * proportional band mapping as [[grayBandFeatures]] — and each of
    * the `gridW·gridH` adjacent-pair comparisons becomes one bit. */
  private[graft] def dHash64(w: Int, h: Int, px: Array[Int],
      gridW: Int, gridH: Int): Long = {
    val cols = gridW + 1
    val s = new Array[Long](gridH * cols)
    val n = new Array[Long](gridH * cols)
    var y = 0
    while (y < h) {
      val gy = math.min(gridH - 1, y * gridH / h)
      var x = 0
      while (x < w) {
        val k = gy * cols + math.min(gridW, x * cols / w)
        s(k) += px(y * w + x)
        n(k) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var gy = 0
    while (gy < gridH) {
      var gx = 0
      while (gx < gridW) {
        val l = gy * cols + gx
        if (s(l) * n(l + 1) < s(l + 1) * n(l)) hash |= 1L << (gy * gridW + gx)
        gx += 1
      }
      gy += 1
    }
    hash
  }

  /** dHash near-dup pairs `(a < b)` with Hamming distance ≤
    * `maxHamming` over 64-bit signatures from [[dHash]]. Pigeonhole
    * banding (the [[graft.operators.Dedup.simHashPairs]] scheme at 64
    * bits): the signature splits into `maxHamming + 1` disjoint blocks,
    * and any pair within distance `maxHamming` must agree EXACTLY on at
    * least one block — so candidate generation is a lossless equi-join
    * on `(block index, block value)`, verified by one
    * `bit_count(xor)` projection. Never all-pairs: pair cost is
    * Σ(bucket²) over block-value buckets, the house candidate shape. */
  def dHashPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    val banded = dHashBlocks(hashes, maxHamming)
    banded.select(col("id").as("a"), col("phash").as("ph_a"),
        col("block"), col("block_val"))
      .join(banded.select(col("id").as("b"), col("phash").as("ph_b"),
        col("block"), col("block_val")), Seq("block", "block_val"))
      .filter(col("a") < col("b"))
      // a pair agreeing on several blocks joins once per block; keep
      // the row whose block is the LOWEST one the two signatures agree
      // on — a pure projection on the signatures, so the dedup costs
      // no shuffle (a distinct() here was a full exchange) and stays
      // legal on a stream
      .filter(col("block") ===
        lowestMatchingBlock(col("ph_a"), col("ph_b"), maxHamming))
      .withColumn("hamming", bit_count(col("ph_a").bitwiseXOR(col("ph_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
  }

  /** Lowest block index on which two signatures agree — the stateless
    * pair-dedup key for the banded joins: every joined row agrees on
    * its own block, so exactly the row carrying this index survives. */
  private def lowestMatchingBlock(a: Column, b: Column,
      maxHamming: Int): Column = {
    val blocks = maxHamming + 1
    val width = 64 / blocks
    def band(c: Column, bi: Int): Column = {
      val lo = bi * width
      val wd = if (bi == blocks - 1) 64 - lo else width
      shiftrightunsigned(c, lo)
        .bitwiseAND(if (wd >= 64) -1L else (1L << wd) - 1)
    }
    (0 until blocks).foldRight(lit(-1): Column) { (bi, acc) =>
      when(band(a, bi) === band(b, bi), lit(bi)).otherwise(acc)
    }
  }

  /** The pigeonhole banding behind [[dHashPairs]], exposed so a corpus
    * can PERSIST its block table (the phash index): `maxHamming + 1`
    * disjoint blocks per signature, each row carrying the signature so
    * the Hamming verify after a block-keyed join is a projection —
    * no signature-table join at all. */
  def dHashBlocks(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64)
    val blocks = maxHamming + 1
    val width = 64 / blocks
    hashes.select(col("id"), col("phash"), posexplode(
      array((0 until blocks).map { bi =>
        val lo = bi * width
        val wd = if (bi == blocks - 1) 64 - lo else width
        shiftrightunsigned(col("phash"), lo)
          .bitwiseAND(if (wd >= 64) -1L else (1L << wd) - 1)
      }: _*)).as(Seq("block", "block_val")))
  }

  /** Incremental dHash near-dup against a PERSISTED block index: the
    * ingest batch's signatures are banded fresh and equi-joined
    * against the corpus's stored block table on (block, block_val) —
    * the corpus pays hashing/banding once at ingest, each batch costs
    * its own signatures plus a bucket-keyed join linear in the batch
    * (the [[graft.operators.Dedup.simHashCrossPairs]] lifecycle on the
    * perceptual modality). Output `(batch_id, corpus_id, hamming)`. */
  def dHashCrossPairs(batchHashes: DataFrame, corpusBlocks: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    dHashBlocks(batchHashes, maxHamming)
      .select(col("id").as("batch_id"), col("phash").as("ph_a"),
        col("block"), col("block_val"))
      .join(corpusBlocks.select(col("id").as("corpus_id"),
        col("phash").as("ph_b"), col("block"), col("block_val")),
        Seq("block", "block_val"))
      .filter(col("batch_id") =!= col("corpus_id"))
      // stateless pair dedup (see dHashPairs) — this is also what
      // keeps the STREAMING twin legal: a distinct() would be a
      // stateful aggregation on an unbounded stream
      .filter(col("block") ===
        lowestMatchingBlock(col("ph_a"), col("ph_b"), maxHamming))
      .withColumn("hamming", bit_count(col("ph_a").bitwiseXOR(col("ph_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("batch_id"), col("corpus_id"),
        col("hamming").cast("int").as("hamming"))
  }

  /** The pooled-pixel feature kernel shared by [[decodeImageFeatures]]
    * and the streaming frame twin: (rounded mean luminance,
    * `embeddingDim` horizontal-stripe luminance means). */
  private[graft] def grayBandFeatures(w: Int, h: Int, px: Array[Int],
      embeddingDim: Int): (Double, Array[Float]) = {
    var sum = 0L
    val bandSum = new Array[Long](embeddingDim)
    val bandN = new Array[Long](embeddingDim)
    var y = 0
    while (y < h) {
      val band = math.min(embeddingDim - 1, y * embeddingDim / h)
      var x = 0
      while (x < w) {
        val v = px(y * w + x)
        sum += v
        bandSum(band) += v
        bandN(band) += 1
        x += 1
      }
      y += 1
    }
    val nPix = w.toLong * h
    val mean = if (nPix == 0) 0.0 else sum.toDouble / nPix
    val emb = Array.tabulate(embeddingDim)(j =>
      if (bandN(j) == 0) 0.0f else (bandSum(j).toDouble / bandN(j) / 255.0).toFloat)
    (math.round(mean * 10000.0) / 10000.0, emb)
  }

  /** REAL audio encode: each payload byte becomes one 16-bit PCM
    * sample (`(b − 128) · 256`, mono, signed little-endian) in a
    * genuine RIFF/WAVE container. The container header is written
    * directly ([[pcmWavBytes]]) — BYTE-IDENTICAL to what
    * `javax.sound.sampled.AudioSystem.write` emits for this format
    * (pinned in MultimodalCodecSpec), but without `AudioSystem.write`'s
    * JVM-GLOBAL provider-registry lock (`JDK13Services.getProviders` is
    * a synchronized static): under the round-16 read-side fan-out the
    * audio stages run tens of tasks per executor, and one registry
    * lookup PER ROW turned them into a lock convoy (measured: the
    * audio family 2–3× SLOWER 32-way than single-task). PCM WAV is
    * lossless, so samples survive the round trip exactly — the same
    * oracle-ability argument as [[encodeGrayPng]]. */
  def encodePcmWav(media: Dataset[MediaRecord], sampleRate: Int = 8000): Dataset[MediaRecord] = {
    require(sampleRate >= 1)
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val pcm = new Array[Byte](r.payload.length * 2)
        var i = 0
        while (i < r.payload.length) {
          val s = ((r.payload(i) & 0xff) - 128) * 256
          pcm(2 * i) = (s & 0xff).toByte
          pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        MediaRecord(r.id, "audio/wav", pcmWavBytes(pcm, sampleRate))
      }
    }
  }

  /** The canonical 44-byte RIFF/WAVE header + PCM data for 16-bit
    * signed mono little-endian samples — exactly the bytes
    * `AudioSystem.write(..., Type.WAVE, ...)` produces for this format
    * (MultimodalCodecSpec pins the equality), produced lock-free (see
    * [[encodePcmWav]]'s scaladoc for why that matters under fan-out). */
  private[multimodal] def pcmWavBytes(pcm: Array[Byte],
      sampleRate: Int): Array[Byte] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val out = new Array[Byte](44 + pcm.length)
    val bb = java.nio.ByteBuffer.wrap(out)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes(ascii)).putInt(36 + pcm.length)
      .put("WAVE".getBytes(ascii))
      .put("fmt ".getBytes(ascii)).putInt(16)
      .putShort(1.toShort) // PCM
      .putShort(1.toShort) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate = rate · blockAlign
      .putShort(2.toShort) // blockAlign = 16-bit mono
      .putShort(16.toShort)
      .put("data".getBytes(ascii)).putInt(pcm.length).put(pcm)
    out
  }

  /** Wrap RAW 16-bit signed mono LE PCM bytes as a genuine RIFF/WAVE
    * stream — the re-containering step after an AVI audio-track demux
    * ([[AviMjpeg.demuxAudioPcm]] returns the bare sample bytes; this
    * puts them back into the container the real
    * [[MediaCodecs.JavaSoundCodec]] decode path expects). Wrapping the
    * track [[encodePcmWav]] muxed yields the byte-exact WAV that
    * encoding the source directly would have produced — pinned in
    * MultimodalCodecSpec (as is byte-equality of the direct header
    * writer with `AudioSystem.write`'s output). */
  def wrapPcmWav(pcm: Array[Byte], sampleRate: Int = 8000): Array[Byte] = {
    require(sampleRate >= 1)
    require((pcm.length & 1) == 0,
      s"pcm must be whole 16-bit samples, got ${pcm.length} bytes")
    pcmWavBytes(pcm, sampleRate)
  }

  /** REAL compressed-audio encode: payload bytes → 16-bit PCM samples
    * (the same `(b − 128)·256` mapping as [[encodePcmWav]]) → IMA ADPCM
    * at 4 bits/sample in the standard WAVE fmt-0x0011 container
    * ([[ImaAdpcm.encodeWav]]). Output `media_type` is `audio/adpcm`, so
    * downstream decode stages resolve [[MediaCodecs.ImaAdpcmWavCodec]]
    * from the registry with no caller changes — the compressed twin of
    * the PCM path, at ~4:1 the bytes. Record-parallel, no shuffle. */
  def encodeImaAdpcmWav(media: Dataset[MediaRecord], sampleRate: Int = 8000,
      blockAlign: Int = 256): Dataset[MediaRecord] = {
    require(sampleRate >= 1)
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val samples = new Array[Int](r.payload.length)
        var i = 0
        while (i < r.payload.length) {
          samples(i) = ((r.payload(i) & 0xff) - 128) * 256
          i += 1
        }
        MediaRecord(r.id, "audio/adpcm",
          ImaAdpcm.encodeWav(samples, sampleRate, blockAlign))
      }
    }
  }

  case class AdpcmRoundTrip(id: Long, n_samples: Long,
      compressed_bytes: Long, max_abs_err: Int, mean_abs_err: Double,
      decoded_sum: Long)

  /** Lossy-compression audit for the IMA ADPCM path: encode each
    * payload (same byte→PCM mapping as [[encodeImaAdpcmWav]]), decode
    * it back, and report per record the compressed size and the exact
    * reconstruction error (max and mean |orig − decoded|, mean rounded
    * to 6 dp) plus the decoded-sample sum as an integrity checksum.
    * The entire encode→decode trajectory is the published pure-integer
    * IMA state machine, so the DuckDB oracle replays it exactly
    * (recursive CTE over (predictor, stepIndex) — `q_adpcm_roundtrip`).
    * Record-parallel, no shuffle; an empty payload scores the all-zero
    * row with `compressed_bytes` = the 60-byte container header. */
  def adpcmRoundTripStats(media: Dataset[MediaRecord],
      sampleRate: Int = 8000, blockAlign: Int = 256): Dataset[AdpcmRoundTrip] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val samples = new Array[Int](r.payload.length)
        var i = 0
        while (i < r.payload.length) {
          samples(i) = ((r.payload(i) & 0xff) - 128) * 256
          i += 1
        }
        val enc = ImaAdpcm.encodeWav(samples, sampleRate, blockAlign)
        val (_, dec) = ImaAdpcm.decodeWav(enc, r.id)
        require(dec.length == samples.length,
          s"id=${r.id}: round trip lost samples")
        var maxErr = 0
        var sumErr = 0L
        var decSum = 0L
        i = 0
        while (i < dec.length) {
          val e = math.abs(samples(i) - dec(i))
          if (e > maxErr) maxErr = e
          sumErr += e
          decSum += dec(i)
          i += 1
        }
        AdpcmRoundTrip(r.id, samples.length.toLong, enc.length.toLong,
          maxErr,
          if (samples.length == 0) 0.0
          else math.round(sumErr.toDouble / samples.length * 1e6) / 1e6,
          decSum)
      }
    }
  }

  case class AudioFeatures(id: Long, media_type: String, n_bytes: Long,
      sample_rate: Int, n_samples: Long, mean_amp: Double,
      zero_crossings: Long, embedding: Array[Float])

  /** REAL audio decode + feature extraction, batched per partition,
    * routed through the [[MediaCodecs]] audio registry (default:
    * [[MediaCodecs.JavaSoundCodec]] — the JDK's actual WAV container
    * parser; 16-bit signed mono PCM only, anything else fails loudly).
    * Features come from the decoded samples: count, mean |amplitude|
    * (scaled to [0, 1]), zero-crossing count (exact integer — the
    * classic voiced/unvoiced signal), and an `embeddingDim`-band
    * embedding (mean |amplitude| of `embeddingDim` time stripes — the
    * audio twin of [[decodeImageFeatures]]' luminance bands, and the
    * same composable `array<float>` shape the similarity stack
    * consumes). `codec` overrides the registry for this call. */
  def decodeAudioFeatures(media: Dataset[MediaRecord],
      embeddingDim: Int = 8,
      codec: Option[MediaCodecs.PcmAudioCodec] = None): Dataset[AudioFeatures] = {
    require(embeddingDim >= 1)
    val spark = media.sparkSession
    import spark.implicits._
    val snap = MediaCodecs.audioSnapshot // plan-build-time capture
    media.mapPartitions { it =>
      // a heavier codec (opus etc.) amortizes per-JVM setup here
      it.map { r =>
        val c = codec.getOrElse(MediaCodecs.resolve(snap, r.media_type))
        val (sampleRate, samples) = c.decodePcm(r.payload, r.id)
        val n = samples.length
        var sumAbs = 0L
        var crossings = 0L
        val bandSum = new Array[Long](embeddingDim)
        val bandN = new Array[Long](embeddingDim)
        var prevNeg = false
        var i = 0
        while (i < n) {
          val s = samples(i)
          val neg = s < 0
          if (i > 0 && neg != prevNeg) crossings += 1
          prevNeg = neg
          val a = math.abs(s).toLong
          sumAbs += a
          val band = math.min(embeddingDim - 1, i * embeddingDim / n)
          bandSum(band) += a
          bandN(band) += 1
          i += 1
        }
        val mean = if (n == 0) 0.0 else sumAbs.toDouble / n / 32768.0
        val emb = Array.tabulate(embeddingDim)(j =>
          if (bandN(j) == 0) 0.0f
          else (bandSum(j).toDouble / bandN(j) / 32768.0).toFloat)
        AudioFeatures(r.id, r.media_type, r.payload.length.toLong,
          sampleRate, n.toLong,
          math.round(mean * 10000.0) / 10000.0, crossings, emb)
      }
    }
  }

  case class SpectralAudioFeatures(id: Long, media_type: String,
      sample_rate: Int, n_samples: Long, n_frames: Long,
      bands: Array[Double], embedding: Array[Float])

  /** REAL audio decode + SPECTRAL feature extraction (round 15) — the
    * published audio-dedup/quality representation ([[decodeAudioFeatures]]'
    * time-band amplitude means are a stand-in; every deployed pipeline
    * works on spectra): each clip splits into full non-overlapping
    * `frameSize`-sample frames (a power of two; trailing partial frame
    * dropped), each frame runs the [[Fft]] radix-2 transform over the
    * exactly-normalized samples s/32768 (a power-of-two divide — no
    * rounding), and bin k of the output (k = 0 .. frameSize/2, the
    * one-sided spectrum of a real signal) is the LOG-MAGNITUDE band
    * energy pooled over frames:
    *
    *   e_k(frame) = re_k² + im_k²         (anchored to integer
    *                                       micro-units per frame)
    *   band_k     = anchor6(log10(Σ_frames μ(e_k)/1e6 / nFrames
    *                              + 1e-12))
    *
    * The per-frame micro-unit anchor makes the cross-frame pool an
    * order-independent LONG sum (the house integer-micro-unit mean
    * convention), and the Fft's sqrt-only twiddles make every e_k
    * bit-identical across JVMs and engines — so the DuckDB oracle
    * replays the full butterfly schedule value-for-value (the oracle
    * SQL is generated FROM the same schedule). Clips with zero full
    * frames emit band_k = log10(1e-12) = −12 exactly.
    *
    * One record-parallel pass, no shuffle: decode routes through the
    * [[MediaCodecs]] audio registry exactly as [[decodeAudioFeatures]];
    * `codec` overrides the registry for this call. The `embedding`
    * float cast of `bands` feeds the similarity stack (SemDeDup leg)
    * unchanged. */
  def spectralAudioFeatures(media: Dataset[MediaRecord],
      frameSize: Int = 16,
      codec: Option[MediaCodecs.PcmAudioCodec] = None)
      : Dataset[SpectralAudioFeatures] = {
    require(frameSize >= 2 && (frameSize & (frameSize - 1)) == 0,
      s"frameSize must be a power of two >= 2, got $frameSize")
    val spark = media.sparkSession
    import spark.implicits._
    val snap = MediaCodecs.audioSnapshot
    val nBins = frameSize / 2 + 1
    media.mapPartitions { it =>
      it.map { r =>
        val c = codec.getOrElse(MediaCodecs.resolve(snap, r.media_type))
        val (sampleRate, samples) = c.decodePcm(r.payload, r.id)
        val n = samples.length
        val nFrames = n / frameSize
        val sums = new Array[Long](nBins)
        val re = new Array[Double](frameSize)
        val im = new Array[Double](frameSize)
        var f = 0
        while (f < nFrames) {
          var q = 0
          while (q < frameSize) {
            re(q) = samples(f * frameSize + q) / 32768.0
            im(q) = 0.0
            q += 1
          }
          Fft.fft(re, im)
          var k = 0
          while (k < nBins) {
            val e = re(k) * re(k) + im(k) * im(k)
            sums(k) += math.floor(e * 1e6 + 0.5).toLong
            k += 1
          }
          f += 1
        }
        val bands = Array.tabulate(nBins) { k =>
          val m = if (nFrames == 0) 0.0
            else sums(k).toDouble / 1e6 / nFrames
          math.floor(math.log10(m + 1e-12) * 1e6 + 0.5) / 1e6
        }
        SpectralAudioFeatures(r.id, r.media_type, sampleRate, n.toLong,
          nFrames.toLong, bands, bands.map(_.toFloat))
      }
    }
  }

  case class AudioFingerprint(id: Long, frame: Long, hash: Int)

  /** Constellation-hash audio fingerprints (Wang 2003 "An
    * Industrial-Strength Audio Search Algorithm" — the published
    * landmark scheme): per full `frameSize`-sample frame the [[Fft]]
    * spectrum reduces to EXACT INTEGER micro-unit bin energies (the
    * [[spectralAudioFeatures]] anchor, so peak picking is integer
    * comparison — bit-replayable), the top `peaksPerFrame` non-DC bins
    * (energy desc, bin asc at ties) become the frame's peaks, and each
    * peak anchors up to `fanout` landmark pairs with peaks `1..maxDt`
    * frames ahead (ordered dt asc, bin asc). A landmark packs as
    * `hash = (b1·64 + b2)·64 + dt` — bins < 64, dt < 64.
    *
    * Hash-space note for scale: candidate-join cost is Σ(bucket²) over
    * the hash space, so the space must grow with the corpus — at
    * production audio rates (44.1 kHz, 1024-point frames) the landmark
    * space is ~10⁷ and buckets stay bounded; this corpus's synthetic
    * 8 kHz streams use 64-sample frames (32 non-DC bins × 32 bins ×
    * maxDt offsets), the largest space the data supports, and the
    * `maxHashFreq` cap plus the aligned-offset vote do the
    * discriminating.
    *
    * One record-parallel pass, no shuffle; output is the (id, frame,
    * hash) fingerprint table, ~peaksPerFrame·fanout rows per frame.
    * Matching ([[audioFingerprintMatches]]) is a hash EQUI-JOIN plus
    * the offset histogram — the LSH-banding cost shape, never
    * all-pairs. */
  def audioFingerprints(media: Dataset[MediaRecord], frameSize: Int = 16,
      peaksPerFrame: Int = 2, fanout: Int = 3, maxDt: Int = 8,
      codec: Option[MediaCodecs.PcmAudioCodec] = None)
      : Dataset[AudioFingerprint] = {
    require(frameSize >= 4 && (frameSize & (frameSize - 1)) == 0 &&
      frameSize <= 64, s"frameSize must be a power of two in [4, 64], " +
      s"got $frameSize (bins must pack into 6 bits)")
    require(peaksPerFrame >= 1 && fanout >= 1)
    // the peak picker selects from the frameSize/2 non-DC bins; asking
    // for more would index best = -1 on the exhausted pool
    require(peaksPerFrame <= frameSize / 2,
      s"peaksPerFrame must be <= frameSize/2 = ${frameSize / 2} " +
        s"(the non-DC bin count), got $peaksPerFrame")
    require(maxDt >= 1 && maxDt < 64, s"maxDt must be in [1, 63], got $maxDt")
    val spark = media.sparkSession
    import spark.implicits._
    val snap = MediaCodecs.audioSnapshot
    val nBins = frameSize / 2 + 1
    media.mapPartitions { it =>
      it.flatMap { r =>
        val c = codec.getOrElse(MediaCodecs.resolve(snap, r.media_type))
        val (_, samples) = c.decodePcm(r.payload, r.id)
        val nFrames = samples.length / frameSize
        val re = new Array[Double](frameSize)
        val im = new Array[Double](frameSize)
        // peaks(f) = the frame's peak bins in pick order
        val peaks = Array.ofDim[Int](nFrames, peaksPerFrame)
        var f = 0
        while (f < nFrames) {
          var q = 0
          while (q < frameSize) {
            re(q) = samples(f * frameSize + q) / 32768.0
            im(q) = 0.0
            q += 1
          }
          Fft.fft(re, im)
          val em = new Array[Long](nBins)
          var k = 0
          while (k < nBins) {
            em(k) = math.floor(
              (re(k) * re(k) + im(k) * im(k)) * 1e6 + 0.5).toLong
            k += 1
          }
          // top peaksPerFrame of bins 1..nBins-1 (skip DC) by
          // (energy desc, bin asc) — selection by repeated max keeps
          // the tie rule explicit
          val taken = new Array[Boolean](nBins)
          var p = 0
          while (p < peaksPerFrame) {
            var best = -1
            var k2 = 1
            while (k2 < nBins) {
              if (!taken(k2) && (best < 0 || em(k2) > em(best))) best = k2
              k2 += 1
            }
            taken(best) = true
            peaks(f)(p) = best
            p += 1
          }
          f += 1
        }
        // landmark pairing: anchors in (frame, pick-order) sequence,
        // targets in (dt asc, pick-order asc), first `fanout` kept
        val out = Seq.newBuilder[AudioFingerprint]
        f = 0
        while (f < nFrames) {
          var p = 0
          while (p < peaksPerFrame) {
            val b1 = peaks(f)(p)
            var made = 0
            var dt = 1
            while (dt <= maxDt && f + dt < nFrames && made < fanout) {
              var p2 = 0
              while (p2 < peaksPerFrame && made < fanout) {
                val b2 = peaks(f + dt)(p2)
                out += AudioFingerprint(r.id, f.toLong,
                  (b1 * 64 + b2) * 64 + dt)
                made += 1
                p2 += 1
              }
              dt += 1
            }
            p += 1
          }
          f += 1
        }
        out.result()
      }
    }
  }

  /** Match fingerprint sets pairwise — the Shazam offset-histogram
    * vote: candidate pairs come from ONE equi-join on the landmark
    * hash (ultra-common hashes above `maxHashFreq` distinct ids are
    * dropped from candidate generation first — the maxShingleFreq
    * recall argument: a hash half the corpus shares identifies
    * nothing), votes group by (a, b, frame offset), and a pair
    * matches when its best single offset accumulates >= `minVotes`
    * aligned landmarks. Output: (a, b, offset, votes), a < b. */
  def audioFingerprintMatches(fps: Dataset[AudioFingerprint],
      minVotes: Long, maxHashFreq: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.functions._
    // THREE consumers read `fps` (the rare-hash aggregate plus both
    // legs of the candidate self-join), and the fingerprint subtree is
    // the expensive part (decode + per-frame FFT). Eager-pin it once so
    // extraction runs one time, not three — the muxAv compute-once
    // pattern; blocks are ContextCleaner-reclaimed (never the
    // CacheManager), and the fingerprint table is ~1% of the audio
    // bytes, the standard materialization at scale.
    val f = fps.toDF().localCheckpoint(true)
    val rare = f.groupBy(col("hash"))
      .agg(countDistinct(col("id")).as("__ids"))
      .filter(col("__ids") <= maxHashFreq)
      .select(col("hash"))
    // PINNED exchanges (explicit partition count = the session's
    // configured shuffle partitions — the same number ENSURE_REQUIREMENTS
    // would use, so nothing changes at production scale): the landmark
    // self-join fans out ~100x (round-17 probe: 87k fingerprint rows ->
    // 9M pairs -> 6.9M vote groups at sf0.1, Σ bucket² = 18M), and AQE's
    // partition coalescing — sized on the tiny JOIN INPUT, blind to the
    // fanout above it — collapsed both exchanges to ~1 partition and ran
    // the join plus the 6.9M-group aggregation single-threaded (measured
    // 8.2s -> 1.7s on the vote aggregate alone from un-coalescing).
    // Explicit-N repartitions are exempt from coalescing; both join legs
    // share the ONE pinned hash shuffle (ReuseExchange), and hash(a,b)
    // clusters (a,b,offset) and (a,b) alike, so both vote aggregates ride
    // the second pinned shuffle with no further exchange (guide §2.4).
    val np = f.sparkSession.sessionState.conf.numShufflePartitions
    val fr = f.join(rare, Seq("hash")).repartition(np, col("hash"))
    val votes = fr
      .select(col("hash"), col("id").as("a"), col("frame").as("fa"))
      .join(fr.select(col("hash"), col("id").as("b"), col("frame").as("fb")),
        Seq("hash"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), (col("fa") - col("fb")).as("offset"))
      .repartition(np, col("a"), col("b"))
      .groupBy(col("a"), col("b"), col("offset"))
      .agg(count(lit(1)).as("votes"))
    // best offset per pair: votes desc, offset asc at ties. max_by over
    // the unique (votes, ~offset) order — SELECTION-IDENTICAL to the
    // former row_number window (offset is unique per pair, so the order
    // key is total) but a hash aggregate instead of exchange+sort+rank:
    // the vote table here is pairs × offsets (6.9M rows at sf0.1,
    // round-17 probe) and the window path paid TWO full sorts of it
    // (partial WindowGroupLimit sort + post-exchange sort); the
    // aggregate pays none and map-side-combines before the exchange.
    bestOffsetPerPair(votes, Seq("a", "b"))
      .filter(col("votes") >= minVotes)
      .select(col("a"), col("b"), col("offset"), col("votes"))
  }

  /** (pairCols..., offset, votes) → one row per pair with its best
    * offset: max votes, lowest offset on vote ties — the Shazam
    * histogram argmax as a codegen'd hash aggregate (see
    * [[audioFingerprintMatches]] for why not a ranking window). */
  private def bestOffsetPerPair(votes: DataFrame,
      pairCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    votes.groupBy(pairCols.map(col): _*)
      .agg(max_by(struct(col("offset"), col("votes")),
        // ~offset = -offset - 1 reverses the order over all of Long;
        // -offset overflows at Long.MinValue (ANSI throws, else wraps)
        struct(col("votes"), bitwise_not(col("offset")).as("__notoff"))).as("__best"))
      .select(pairCols.map(col) ++
        Seq(col("__best.offset").as("offset"), col("__best.votes").as("votes")): _*)
  }

  /** Match a QUERY fingerprint set against a stored INDEX — the
    * Shazam deployment shape ([[audioFingerprintMatches]] is the
    * corpus-self-dedup twin): one equi-join of the query landmarks
    * against the (persisted, hash-bucketed) index, the same
    * aligned-offset vote, with `maxHashFreq` computed on the INDEX
    * side (it is the stored side's degenerate-bucket stat). Output:
    * (q, m, offset, votes), every (query id, index id) pair whose best
    * offset accumulates >= `minVotes`. */
  def audioFingerprintLookup(query: Dataset[AudioFingerprint],
      index: Dataset[AudioFingerprint], minVotes: Long,
      maxHashFreq: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.functions._
    val idx = index.toDF()
    val rare = idx.groupBy(col("hash"))
      .agg(countDistinct(col("id")).as("__ids"))
      .filter(col("__ids") <= maxHashFreq)
      .select(col("hash"))
    val idxF = idx.join(rare, Seq("hash"))
    // pinned (q, m) exchange for the same fanout-blind-coalescing
    // reason as [[audioFingerprintMatches]]; the probe-side join keeps
    // its planner freedom (the stored index is bucketed on hash, so a
    // pinned repartition would defeat the bucket join)
    val np = idx.sparkSession.sessionState.conf.numShufflePartitions
    val votes = query.toDF()
      .select(col("hash"), col("id").as("q"), col("frame").as("fq"))
      .join(idxF.select(col("hash"), col("id").as("m"),
        col("frame").as("fm")), Seq("hash"))
      .select(col("q"), col("m"), (col("fq") - col("fm")).as("offset"))
      .repartition(np, col("q"), col("m"))
      .groupBy(col("q"), col("m"), col("offset"))
      .agg(count(lit(1)).as("votes"))
    // same argmax-by-votes aggregate as [[audioFingerprintMatches]] —
    // selection-identical to the former ranking window, sort-free
    bestOffsetPerPair(votes, Seq("q", "m"))
      .filter(col("votes") >= minVotes)
      .select(col("q"), col("m"), col("offset"), col("votes"))
  }

  case class AudioQuality(id: Long, media_type: String, sample_rate: Int,
      n_samples: Long, peak: Int, clipped_samples: Long, clip_ratio: Double,
      n_windows: Long, silent_windows: Long, silence_ratio: Double,
      rms: Double)

  /** REAL audio decode + quality screening — the speech-curation gate
    * that drops silent, clipped, or dead recordings before they cost
    * feature extraction: per clip, the silence ratio over fixed
    * `windowSize`-sample windows (a window is silent when its mean
    * |amplitude| is under 1% of full scale — exact integer test
    * `sumAbs·100 < 32768·windowLen`, the last partial window
    * included), the clipped-sample count (|s| ≥ 32512, i.e. within
    * one 8-bit step of either rail), the peak level, and the RMS
    * level in [0, 1]. Decode routes through the [[MediaCodecs]] audio
    * registry exactly as [[decodeAudioFeatures]]; `codec` overrides
    * the registry for this call.
    *
    * One pass over the samples per clip, batched per partition —
    * record-parallel with no shuffle, so it scales with input
    * partitioning like every other decode stage. Ratios and RMS round
    * to 6 dp through the same `math.round` the oracle's `round(x, 6)`
    * replays; all the counting is exact integer arithmetic. A
    * zero-sample clip scores the all-zero row. */
  def audioQualityFeatures(media: Dataset[MediaRecord],
      windowSize: Int = 64,
      codec: Option[MediaCodecs.PcmAudioCodec] = None): Dataset[AudioQuality] = {
    require(windowSize >= 1, "need windowSize >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    val snap = MediaCodecs.audioSnapshot // plan-build-time capture
    media.mapPartitions { it =>
      it.map { r =>
        val c = codec.getOrElse(MediaCodecs.resolve(snap, r.media_type))
        val (sampleRate, samples) = c.decodePcm(r.payload, r.id)
        val n = samples.length
        var peak = 0
        var clipped = 0L
        var sumSq = 0L
        var silent = 0L
        var nWindows = 0L
        var winSum = 0L
        var winN = 0
        var i = 0
        while (i < n) {
          val a = math.abs(samples(i).toInt)
          if (a > peak) peak = a
          if (a >= 32512) clipped += 1
          sumSq += a.toLong * a
          winSum += a
          winN += 1
          if (winN == windowSize || i == n - 1) {
            nWindows += 1
            if (winSum * 100L < 32768L * winN) silent += 1
            winSum = 0L
            winN = 0
          }
          i += 1
        }
        def r6(x: Double) = math.round(x * 1e6) / 1e6
        AudioQuality(r.id, r.media_type, sampleRate, n.toLong, peak,
          clipped,
          if (n == 0) 0.0 else r6(clipped.toDouble / n),
          nWindows, silent,
          if (nWindows == 0) 0.0 else r6(silent.toDouble / nWindows),
          if (n == 0) 0.0 else r6(math.sqrt(sumSq.toDouble / n) / 32768.0))
      }
    }
  }

  /** Resize, batched per partition. STUB: deterministic byte
    * downsampling stands in for pixel-space scaling — a real codec
    * would decode, scale with an interpolation kernel, and re-encode.
    * Shape matters: payload-in → payload-out keeps the record count
    * stable (unlike frame sampling), so it composes anywhere in the
    * pipeline. */
  def resize(media: Dataset[MediaRecord], factor: Int): Dataset[MediaRecord] = {
    require(factor >= 1)
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      // real impl: codec + scaler instantiated once per partition here
      it.map { r =>
        val out = new Array[Byte]((r.payload.length + factor - 1) / factor)
        var i = 0
        while (i < out.length) { out(i) = r.payload(i * factor); i += 1 }
        r.copy(payload = out)
      }
    }
  }

  /** REAL audio downsampling — the audio twin of [[resize]]: decode
    * the container through the [[MediaCodecs]] audio registry (WAV or
    * ADPCM payloads alike), replace each block of `factor` consecutive
    * samples with its block mean (a true box-filter decimator — unlike
    * [[resize]]'s keep-every-Nth bytes, averaging is the correct
    * anti-aliasing-ish reduction for PCM), and re-encode as a genuine
    * WAV at `sampleRate / factor`. The mean uses `Math.floorDiv`
    * (round toward −∞) so the DuckDB oracle replays it exactly as
    * `floor(sum / n)` — Java's `/` truncates toward zero and would
    * diverge on negative block sums. Record-parallel, no shuffle.
    *
    * The last block may be partial (its mean is over the remaining
    * samples); output sample count = ceil(n / factor); a sub-factor
    * sample rate fails loudly rather than emit a 0 Hz container. */
  def decimatePcmWav(media: Dataset[MediaRecord],
      factor: Int): Dataset[MediaRecord] = {
    require(factor >= 1)
    val spark = media.sparkSession
    import spark.implicits._
    val snap = MediaCodecs.audioSnapshot // plan-build-time capture
    media.mapPartitions { it =>
      it.map { r =>
        val c = MediaCodecs.resolve(snap, r.media_type)
        val (rate, samples) = c.decodePcm(r.payload, r.id)
        require(rate >= factor,
          s"id=${r.id}: cannot decimate $rate Hz by $factor")
        val n = samples.length
        val outN = (n + factor - 1) / factor
        val pcm = new Array[Byte](outN * 2)
        var k = 0
        while (k < outN) {
          val start = k * factor
          val end = math.min(start + factor, n)
          var sum = 0L
          var i = start
          while (i < end) { sum += samples(i); i += 1 }
          val v = Math.floorDiv(sum, (end - start).toLong).toInt
          pcm(2 * k) = (v & 0xff).toByte
          pcm(2 * k + 1) = ((v >> 8) & 0xff).toByte
          k += 1
        }
        MediaRecord(r.id, "audio/wav", wrapPcmWav(pcm, rate / factor))
      }
    }
  }

  /** Utterance segmentation — the VAD-lite silence split that turns
    * raw audio into trainable speech segments (the audio twin of
    * sentence chunking): decode through the audio registry (REAL
    * codec — WAV PCM or ADPCM alike), score the same ALIGNED
    * `windowSize`-sample windows as [[audioQualityFeatures]] with its
    * exact integer silence rule (`Σ|s|·100 < 32768·n` — mean below 1%
    * of full scale), and emit each maximal run of NON-silent windows
    * as one utterance. Decode+window is a per-payload flatMap (no
    * shuffle); the run grouping is the gaps-and-islands idiom
    * (win − row_number) PARTITIONED BY audio id — windows of one
    * recording co-locate, nothing global. Output:
    * `(id, utt_idx, start_win, end_win, n_windows)`; fully-silent
    * payloads emit nothing. */
  def utteranceSegments(media: Dataset[MediaRecord], windowSize: Int = 64,
      codec: Option[MediaCodecs.PcmAudioCodec] = None): DataFrame = {
    require(windowSize >= 1, "need windowSize >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    val snap = MediaCodecs.audioSnapshot // plan-build-time capture
    val wsz = windowSize
    val wins = media.mapPartitions { it =>
      it.flatMap { r =>
        val c = codec.getOrElse(MediaCodecs.resolve(snap, r.media_type))
        val (_, samples) = c.decodePcm(r.payload, r.id)
        val nw = (samples.length + wsz - 1) / wsz
        (0 until nw).iterator.map { w =>
          var ws = 0L
          var wn = 0
          var i = w * wsz
          val end = math.min(samples.length, (w + 1) * wsz)
          while (i < end) { ws += math.abs(samples(i)); wn += 1; i += 1 }
          (r.id, w, ws * 100 < 32768L * wn)
        }
      }
    }.toDF("id", "win", "silent")
    val byId = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("win")
    wins.filter(!col("silent"))
      .withColumn("__grp", col("win") - row_number().over(byId))
      .groupBy(col("id"), col("__grp"))
      .agg(min(col("win")).as("start_win"), max(col("win")).as("end_win"),
        count(lit(1)).as("n_windows"))
      .withColumn("utt_idx",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("id").orderBy("start_win")) - 1).cast("int"))
      .select(col("id"), col("utt_idx"),
        col("start_win").cast("long").as("start_win"),
        col("end_win").cast("long").as("end_win"), col("n_windows"))
  }

  /** Scene-change keyframe selection over demuxed frames — histogram-
    * difference shot-boundary detection (Zhang, Kankanhalli & Smoliar,
    * Multimedia Systems 1993 — the classic published method), the
    * video-curation step real pipelines run INSTEAD of fixed-stride
    * sampling (sample where the content changes, not every N frames):
    * each frame decodes through the image registry (REAL codec — the
    * frames coming out of the AVI/GIF demux are PNG/JPEG payloads),
    * reduces to a `bins`-bin luminance histogram (exact integer
    * counts, padding rows included exactly as the decoder sees them),
    * and consecutive frames within a video compare by L1 histogram
    * distance; a frame is a keyframe iff it is the video's first or
    * its distance from the PREVIOUS frame reaches `threshold`. All
    * integer arithmetic, so the whole chain oracles bit-for-bit.
    *
    * Scale shape: decode+histogram is one mapPartitions projection per
    * frame (no shuffle); the consecutive-frame compare is a lag window
    * PARTITIONED BY video id — frames of one video co-locate, nothing
    * global. Output: `(id, frame_idx, l1_dist, is_keyframe)` with
    * l1_dist NULL on each video's first frame. */
  def sceneChanges(frames: Dataset[Frame], threshold: Long,
      bins: Int = 16, mediaType: String = "image/png",
      codec: Option[MediaCodecs.GrayImageCodec] = None): DataFrame = {
    require(bins >= 1 && bins <= 256 && 256 % bins == 0,
      s"bins must divide 256, got $bins")
    require(threshold >= 0)
    val spark = frames.sparkSession
    import spark.implicits._
    val snap = MediaCodecs.imageSnapshot // plan-build-time capture
    val div = 256 / bins
    val nBins = bins
    val hists = frames.mapPartitions { it =>
      it.map { f =>
        val c = codec.getOrElse(MediaCodecs.resolve(snap, mediaType))
        val (_, _, px) = c.decodeGray(f.frame_bytes, f.id)
        val hist = new Array[Long](nBins)
        var i = 0
        while (i < px.length) { hist(px(i) / div) += 1L; i += 1 }
        (f.id, f.frame_idx, hist)
      }
    }.toDF("id", "frame_idx", "hist")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("frame_idx")
    hists.withColumn("__ph", lag(col("hist"), 1).over(w))
      .withColumn("l1_dist",
        when(col("__ph").isNull, lit(null).cast("long"))
          .otherwise(aggregate(zip_with(col("hist"), col("__ph"),
            (a, b) => abs(a - b)), lit(0L), (acc, x) => acc + x)))
      .select(col("id"), col("frame_idx"), col("l1_dist"),
        (col("__ph").isNull || col("l1_dist") >= threshold)
          .as("is_keyframe"))
  }

  /** Frame sampling, routed through the [[MediaCodecs]] demux registry
    * (default: [[MediaCodecs.ByteSliceDemux]] — fixed-size byte slices,
    * the documented deterministic stand-in for a real keyframe
    * extractor; register an ffmpeg-backed demux for "video/…" types and
    * this operator, and every query composed on it, runs unchanged).
    * Exploded to one row per frame: row counts multiply here — exactly
    * like real video pipelines — so this runs AFTER any payload-level
    * filtering. `codec` overrides the registry for this call. Frames
    * carry the resolved demux codec's name (`codec` column) so
    * stand-in slices are always distinguishable from a real container
    * walk; `requireReal = true` fails loudly when a media type
    * resolves to the byte-slice stand-in. */
  def sampleFrames(media: Dataset[MediaRecord], frameSize: Int,
      maxFrames: Int,
      codec: Option[MediaCodecs.FrameDemuxCodec] = None,
      requireReal: Boolean = false): Dataset[Frame] = {
    val spark = media.sparkSession
    import spark.implicits._
    val snap = MediaCodecs.demuxSnapshot // plan-build-time capture
    media.flatMap { r =>
      val c = codec.getOrElse(MediaCodecs.resolve(snap, r.media_type))
      if (requireReal && MediaCodecs.isStandIn(c))
        throw new IllegalArgumentException(
          s"media_type '${r.media_type}' (id=${r.id}) resolves to " +
          s"stand-in demux '${c.name}' — register a real codec or " +
          "drop requireReal")
      c.demux(r.payload, frameSize, maxFrames).map { case (fi, off, b) =>
        Frame(r.id, fi, off, b, c.name)
      }
    }
  }
}
