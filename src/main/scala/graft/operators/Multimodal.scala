package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed in partition-local
  * batches — the Scala analog of the arrow-batched mapInPandas pattern
  * (north-star extension; training pipelines carry media this way).
  *
  * All THREE media legs are now REAL pure-JVM codecs:
  *   - IMAGE: [[ImageCodec]] — genuine PNG encode/decode through
  *     `javax.imageio`, perceptual hash over decoded pixels
  *     ([[phashDedupGroups]]);
  *   - AUDIO: [[AudioCodec]] — genuine RIFF/WAVE 16-bit PCM encode
  *     through `javax.sound.sampled.AudioSystem`, decode back to
  *     samples, acoustic fingerprint over DECODED samples
  *     ([[audioDedupGroups]]);
  *   - VIDEO: [[VideoCodec]] — genuine multi-frame ANIMATED GIF
  *     encode/decode through `javax.imageio`'s sequence writer,
  *     keyframe sampling over decoded frames, temporal fingerprint
  *     ([[videoDedupGroups]]).
  * The byte-histogram [[MediaCodec.decodeStub]] remains only as the
  * explicitly-labelled stand-in for codecs genuinely absent from the
  * JVM (JPEG-XL, H.264, ...), exercised by the batched-plumbing rows.
  *
  * Scale notes: payloads never shuffle — every op here is map-only over
  * the scan; batches bound per-task peak memory exactly like Arrow
  * record batches; at 100 TB the media table would be partitioned by
  * kind and bucketed by media_id so joins against features stay local.
  */
object Multimodal {

  // ImageIO's default stream cache writes a TEMPFILE per encode /
  // decode — at corpus scale that is one disk file (and one fd) per
  // image on every executor, and it exhausts the process fd limit
  // long before memory (measured: the sf1 audit's phash/video rows
  // died on "Too many open files"). All payloads here are in-memory
  // byte arrays; the memory-backed cache is strictly better.
  javax.imageio.ImageIO.setUseCache(false)

  /** One media row: opaque payload + typed metadata, like a real
    * lakehouse media table (kind in {image, audio, video}).
    */
  case class MediaRow(
      media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, sample_rate: Int, duration_ms: Long)

  case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long, bin0_hits: Long,
      features: Array[Double])

  case class FrameSample(media_id: Long, frame_idx: Int, offset: Long)

  /** The codec boundary. A real implementation would decode
    * image/audio/video bytes; the stub derives deterministic features
    * so the pipeline around it is fully testable.
    */
  object MediaCodec {
    val FeatureDim = 16

    /** STUB — stands in for a real decoder (e.g. JPEG -> pixels ->
      * pooled features). Deterministic: a normalized 16-bin byte
      * histogram of the payload.
      */
    def decodeStub(payload: Array[Byte]): Array[Double] = {
      val hist = new Array[Double](FeatureDim)
      var i = 0
      while (i < payload.length) {
        hist((payload(i) & 0xff) % FeatureDim) += 1.0
        i += 1
      }
      if (payload.length > 0) {
        var j = 0
        while (j < FeatureDim) { hist(j) /= payload.length; j += 1 }
      }
      hist
    }
  }

  /** Deterministic media table derived from `documents` (no media
    * fixture exists): payload = utf-8 text bytes, kind/metadata derived
    * from stable columns. Plays the role of a scanned media lake table.
    */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.plans.GraftOps.widen(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("n_chars")))
      .as[(Long, String, Long)]
      .map { case (id, text, nChars) =>
        val kind = (id % 3) match {
          case 0 => "image"
          case 1 => "audio"
          case _ => "video"
        }
        MediaRow(id, kind, text.getBytes("UTF-8"),
          width = (nChars % 640).toInt + 16, height = (nChars % 480).toInt + 16,
          sample_rate = 16000, duration_ms = nChars * 10)
      }
  }

  /** Batched feature extraction: partition-local iteration in fixed-size
    * batches through the stub codec (the mapInPandas shape — batch in,
    * batch out, bounded memory).
    */
  def extractFeatures(media: Dataset[MediaRow], batchSize: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val f = MediaCodec.decodeStub(r.payload)
          val bin0 = math.round(f(0) * r.payload.length)
          MediaFeatures(r.media_id, r.kind, r.payload.length.toLong, bin0, f)
        }
      }
    }
  }

  /** Frame sampling plumbing for video rows: `n` evenly-spaced byte
    * offsets per payload (a real codec seeks keyframes; offsets make the
    * fan-out schema and partitioning real).
    */
  def sampleFrames(media: Dataset[MediaRow], n: Int = 4): Dataset[FrameSample] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { r =>
      val len = math.max(r.payload.length.toLong, 1L)
      (0 until n).map(i => FrameSample(r.media_id, i, i * len / n))
    }
  }

  /** Declared query: the frame-sampling fan-out as a flat table —
    * (media_id, frame_idx, offset) for every video row (one row per
    * sampled frame; deterministic offsets).
    */
  def frameOffsets(spark: SparkSession, dir: String): DataFrame =
    sampleFrames(mediaTable(spark, dir)).toDF()

  /** Declared query: per-kind feature statistics — proves the payload ->
    * batch decode -> aggregate pipeline end-to-end. Aggregates exact
    * integer counts (never fold-order-dependent double sums) so the
    * DuckDB oracle can reproduce it from the same byte definition.
    */
  def featureStats(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(mediaTable(spark, dir)).toDF()
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("bin0_hits")).as("bin0_hits"))
      .withColumn("bin0_ratio", round(col("bin0_hits") / col("total_bytes"), 6))

  /** Perceptual signature of a payload: a 64-bit hash whose bit b says
    * "byte-class b is over-represented" (64-bin byte histogram, bit set
    * iff 64*count(bin) > length — pure integer arithmetic, so any engine
    * reproduces it exactly). The stub analog of an image pHash: decoded
    * content with the same coarse feature profile collides.
    */
  def perceptualSignature(payload: Array[Byte]): Long = {
    val counts = new Array[Int](64)
    var i = 0
    while (i < payload.length) {
      counts((payload(i) & 0xff) % 64) += 1
      i += 1
    }
    var h = 0L
    var b = 0
    while (b < 64) {
      if (64L * counts(b) > payload.length) h |= (1L << b)
      b += 1
    }
    h
  }

  /** Declared query: perceptual-signature dedup groups — the image-
    * pipeline near-dup pattern (bucket by fingerprint of the DECODED
    * content, no pairwise comparison anywhere). One row per (kind,
    * signature) bucket holding >1 media row: the keeper (min media_id),
    * member count, and total payload bytes the dedup would reclaim.
    *
    * Scale shape: map-only signature extraction fused with the decode
    * scan, then ONE groupBy on a 64-bit key — the whole dedup is a
    * single partial-aggregated shuffle of (kind, long) pairs; payloads
    * never shuffle. Contrast with the quadratic pairing detectors in
    * [[Dedup]]: bucket-grouping is how media dedup stays linear at 100 TB.
    */
  def signatureDedupGroups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .map(r => (r.media_id, r.kind, perceptualSignature(r.payload),
        r.payload.length.toLong))
      .toDF("media_id", "kind", "signature", "n_bytes")
      .groupBy(col("kind"), col("signature"))
      .agg(count(lit(1)).as("n"),
        min(col("media_id")).as("keep_id"),
        sum(col("n_bytes")).as("total_bytes"))
      .filter(col("n") > 1)
  }

  /** REAL image codec leg (no stub): `javax.imageio` is pure-JVM, so
    * the PNG encode/decode round-trip runs for real in this sandbox —
    * payloads are genuine PNG byte streams and the perceptual hash is
    * computed from DECODED PIXELS, not payload bytes.
    */
  object ImageCodec {
    import java.awt.image.BufferedImage

    /** Render a deterministic 16x16 RGB raster from a seed byte string
      * (pixels drawn from a Random seeded by the bytes' FNV-1a hash)
      * and encode it as a real PNG. Same seed bytes => bit-identical
      * pixels; PNG is lossless, so decode returns them exactly.
      */
    def renderPng(seed: Array[Byte]): Array[Byte] =
      renderPngSized(seed, 16, 16)

    /** [[renderPng]] at arbitrary dimensions (the metadata-extraction
      * row renders per-doc sizes so IHDR parsing is non-vacuous).
      */
    def renderPngSized(seed: Array[Byte], w: Int, h0: Int): Array[Byte] = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < seed.length) {
        h ^= (seed(i) & 0xffL); h *= 0x100000001b3L; i += 1
      }
      val r = new java.util.Random(h)
      val img = new BufferedImage(w, h0, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h0) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y, r.nextInt(1 << 24)); x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** Average-hash over DECODED pixels: ImageIO.read the PNG, 2x2
      * block-average to 8x8 integer grayscale (gray = r+g+b, exact),
      * bit b set iff 64·gray(b) > Σ gray — pure integer arithmetic on
      * real decoded content, so identical images collide and the hash
      * is engine-reproducible given the same decoder.
      */
    def averageHash(png: Array[Byte]): Long = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png))
      require(img != null && img.getWidth == 16 && img.getHeight == 16,
        "expected a 16x16 PNG payload")
      val gray = new Array[Long](64)
      var total = 0L
      var by = 0
      while (by < 8) {
        var bx = 0
        while (bx < 8) {
          var g = 0L
          var dy = 0
          while (dy < 2) {
            var dx = 0
            while (dx < 2) {
              val rgb = img.getRGB(bx * 2 + dx, by * 2 + dy)
              g += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              dx += 1
            }
            dy += 1
          }
          gray(by * 8 + bx) = g
          total += g
          bx += 1
        }
        by += 1
      }
      var hash = 0L
      var b = 0
      while (b < 64) {
        if (64L * gray(b) > total) hash |= (1L << b)
        b += 1
      }
      hash
    }
  }

  /** Parse the IHDR metadata out of a raw PNG byte stream WITHOUT
    * decoding pixels — the catalog-ingest operation a media pipeline
    * runs over every object before deciding what to decode at all
    * (dimensions, bit depth, color type straight from the container
    * header). Pure binary parsing: the 8-byte signature, then the
    * IHDR chunk's big-endian fields at fixed offsets (PNG spec
    * ISO/IEC 15948 §11.2.2). Returns (width, height, bitDepth,
    * colorType).
    */
  def pngHeader(png: Array[Byte]): (Int, Int, Int, Int) = {
    require(png.length >= 26 &&
      (png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' &&
      png(3) == 'G', "not a PNG stream")
    def be32(o: Int): Int =
      ((png(o) & 0xff) << 24) | ((png(o + 1) & 0xff) << 16) |
        ((png(o + 2) & 0xff) << 8) | (png(o + 3) & 0xff)
    require(png(12) == 'I' && png(13) == 'H' && png(14) == 'D' &&
      png(15) == 'R', "first chunk is not IHDR")
    (be32(16), be32(20), png(24) & 0xff, png(25) & 0xff)
  }

  /** Declared query: PNG container metadata extracted from the real
    * encoded BINARIES — per document, a genuine variable-size PNG
    * (width = n_chars mod 24 + 8, height = n_chars mod 17 + 8,
    * seeded from the title) renders, encodes, and has its IHDR header
    * parsed back WITHOUT pixel decode. The oracle derives the expected
    * dimensions from the same n_chars arithmetic with no codec at all
    * — so a broken encoder (wrong dims, wrong color declaration) or a
    * broken parser (endianness, offsets) fails the hash gate. Map-only
    * fused with the scan; payloads never shuffle. Output: (media_id,
    * width, height, bit_depth, color_type).
    */
  def pngMetaQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.GraftOps.widen(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("n_chars")))
      .as[(Long, String, Long)]
      .map { case (id, text, nChars) =>
        val title = text.split(" ").take(3).mkString(" ")
        val w = (nChars % 24).toInt + 8
        val h = (nChars % 17).toInt + 8
        val png = ImageCodec.renderPngSized(title.getBytes("UTF-8"), w, h)
        val (pw, ph, depth, color) = pngHeader(png)
        (id, pw, ph, depth, color)
      }
      .toDF("media_id", "width", "height", "bit_depth", "color_type")
  }

  /** Real-PNG media table: one genuine PNG per document, rendered
    * deterministically from the document TITLE (its first three
    * whitespace words — the fixture's collision-bearing key: distinct
    * docs sharing a title render bit-identical images, the thumbnail
    * situation media dedup exists for).
    */
  def imageTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.GraftOps.widen(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .map { case (id, text) =>
        val title = text.split(" ").take(3).mkString(" ")
        (id, ImageCodec.renderPng(title.getBytes("UTF-8")))
      }
      .toDF("media_id", "png")
  }

  /** Declared query: perceptual-hash dedup over REAL decoded pixels —
    * render → PNG-encode → `ImageIO.read` decode → 8x8 average-hash →
    * bucket-group. One map-only pass fused with the scan (payloads
    * never shuffle; only (media_id, long) pairs do), then one
    * partial-aggregated groupBy on the 64-bit hash — the linear media
    * dedup shape at any scale.
    *
    * Oracle-checkable WITHOUT a decoder on the oracle side: rendering
    * is injective per distinct title (seeded 16x16 draws; cross-title
    * hash collisions are ~n²/2⁶⁴) and PNG is lossless, so the decoded
    * aHash groups are EXACTLY the title duplicate groups — which
    * DuckDB derives independently from the first three words. A broken
    * decode (constant pixels, wrong channel order collapsing content)
    * would merge unrelated groups and fail the row/hash compare.
    * Output: (keep_id, n) per duplicate group.
    */
  def phashDedupGroups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    imageTable(spark, dir)
      .select(col("media_id"), col("png"))
      .as[(Long, Array[Byte])]
      .map { case (id, png) => (id, ImageCodec.averageHash(png)) }
      .toDF("media_id", "phash")
      .groupBy(col("phash"))
      .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("keep_id"), col("n"))
  }

  /** REAL audio codec leg: `javax.sound.sampled` is pure-JVM and needs
    * no audio device for file I/O, so the RIFF/WAVE encode/decode
    * round-trip runs for real in this sandbox — payloads are genuine
    * 16-bit PCM WAV byte streams (44-byte RIFF header, little-endian
    * frames) and the acoustic fingerprint is computed from DECODED
    * SAMPLES, not payload bytes.
    */
  object AudioCodec {
    val SampleRate = 8000
    val NumSamples = 1024

    private def fnv(seed: Array[Byte]): Long = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < seed.length) {
        h ^= (seed(i) & 0xffL); h *= 0x100000001b3L; i += 1
      }
      h
    }

    /** Synthesize a deterministic 1024-sample square-wave melody from a
      * seed byte string — 64 seeded NOTES of 16 samples, each with its
      * own half-period (2..9 samples) and amplitude (4096..20479) — and
      * encode it as a real WAV file via `AudioSystem.write`. One note
      * per fingerprint window, so the 64 energy bits below are as
      * independent as the image hash's 64 block sums (a coarser
      * segmentation would alias windows together and collapse the
      * fingerprint space). Pure integer sample math — no trig, no
      * floats — so the same seed yields bit-identical PCM on any JVM,
      * and 16-bit PCM WAV is lossless, so decode returns the samples
      * exactly.
      */
    def renderWav(seed: Array[Byte]): Array[Byte] = {
      val r = new java.util.Random(fnv(seed))
      val pcm = new Array[Byte](NumSamples * 2)
      val segLen = NumSamples / 64
      var s = 0
      while (s < 64) {
        val halfPeriod = 2 + r.nextInt(8)
        val amp = 4096 + r.nextInt(16384)
        var i = 0
        while (i < segLen) {
          val t = s * segLen + i
          val v = if ((i / halfPeriod) % 2 == 0) amp else -amp
          pcm(2 * t) = (v & 0xff).toByte
          pcm(2 * t + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        s += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        SampleRate.toFloat, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, NumSamples.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** Decode a WAV byte stream back to its 16-bit PCM samples through
      * the real `AudioSystem` parser (header walk, frame decode —
      * wrong-format payloads throw).
      */
    def decodeSamples(wav: Array[Byte]): Array[Int] = {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      val f = in.getFormat
      require(f.getSampleSizeInBits == 16 && f.getChannels == 1 &&
        !f.isBigEndian, s"expected 16-bit LE mono PCM, got $f")
      val raw = in.readAllBytes()
      val out = new Array[Int](raw.length / 2)
      var i = 0
      while (i < out.length) {
        out(i) = ((raw(2 * i + 1) << 8) | (raw(2 * i) & 0xff))
        i += 1
      }
      out
    }

    /** Acoustic fingerprint over DECODED samples — the audio analog of
      * [[ImageCodec.averageHash]]: 64 equal windows, bit b set iff
      * window b's absolute-amplitude energy exceeds the track mean
      * (64·energy(b) > Σ energy — pure integer arithmetic on decoded
      * content). Same decoded waveform => same fingerprint; a broken
      * decode (header misparse, byte-order flip) scrambles it.
      */
    def fingerprint(wav: Array[Byte]): Long = {
      val s = decodeSamples(wav)
      require(s.length == NumSamples, s"expected $NumSamples samples")
      val win = s.length / 64
      val e = new Array[Long](64)
      var total = 0L
      var i = 0
      while (i < s.length) {
        val a = math.abs(s(i)).toLong
        e(i / win) += a
        total += a
        i += 1
      }
      var h = 0L
      var b = 0
      while (b < 64) {
        if (64L * e(b) > total) h |= (1L << b)
        b += 1
      }
      h
    }
  }

  /** Real-WAV media table: one genuine RIFF/WAVE payload per document,
    * synthesized deterministically from the document TITLE (same
    * collision-bearing key as [[imageTable]]) — distinct docs sharing
    * a title render bit-identical audio, the re-uploaded-clip
    * situation audio dedup exists for.
    */
  def audioTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // deliberately NOT widened: javax.sound's WAVE encode serializes on
    // shared registry locks, so 32 concurrent render tasks measured 3x
    // SLOWER than the single-task scan (1.95 s vs 0.58 s min-of-4);
    // the video/image legs (javax.imageio) do parallelize and stay wide
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val title = text.split(" ").take(3).mkString(" ")
        (id, AudioCodec.renderWav(title.getBytes("UTF-8")))
      }
      .toDF("media_id", "wav")
  }

  /** Declared query: acoustic-fingerprint dedup over REAL decoded
    * audio — synthesize → WAV-encode → `AudioSystem` decode → 64-window
    * energy fingerprint → bucket-group. Identical scale shape to
    * [[phashDedupGroups]]: map-only decode fused with the scan
    * (payloads never shuffle, only (media_id, long) pairs), one
    * partial-aggregated groupBy.
    *
    * Oracle-checkable WITHOUT a decoder on the oracle side, by the
    * same title-identity argument as the image leg: rendering is
    * injective per distinct title (8 seeded segments ≈ 2⁶⁴ melodies;
    * the fingerprint keeps 64 independent energy bits) and 16-bit PCM
    * WAV is lossless, so the decoded fingerprint groups are EXACTLY
    * the title duplicate groups DuckDB derives from the first three
    * words. A broken decode would merge or split groups and fail the
    * hash gate. Output: (keep_id, n) per duplicate group.
    */
  def audioDedupGroups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    audioTable(spark, dir)
      .select(col("media_id"), col("wav"))
      .as[(Long, Array[Byte])]
      .map { case (id, wav) => (id, AudioCodec.fingerprint(wav)) }
      .toDF("media_id", "afp")
      .groupBy(col("afp"))
      .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("keep_id"), col("n"))
  }

  /** REAL video codec leg: multi-frame ANIMATED GIF through
    * `javax.imageio`'s sequence writer/reader — pure JVM, and with an
    * explicit 256-entry grayscale palette the encode is LOSSLESS (every
    * 8-bit gray level is a palette entry), so decoded frames equal
    * rendered frames bit-for-bit. The closest thing to a genuine video
    * container this JVM can round-trip: a seekable multi-frame stream
    * with per-frame decode.
    */
  object VideoCodec {
    val Frames = 4
    val W = 16
    val H = 16

    private val grayPalette: java.awt.image.IndexColorModel = {
      val g = Array.tabulate[Byte](256)(_.toByte)
      new java.awt.image.IndexColorModel(8, 256, g, g, g)
    }

    private def fnv(seed: Array[Byte]): Long = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < seed.length) {
        h ^= (seed(i) & 0xffL); h *= 0x100000001b3L; i += 1
      }
      h
    }

    /** Render a deterministic 4-frame 16x16 grayscale clip from a seed
      * byte string (one seeded stream drives all frames, so frames
      * differ but the clip is a pure function of the seed) and encode
      * it as a real animated GIF via `prepareWriteSequence` /
      * `writeToSequence`.
      */
    def renderGif(seed: Array[Byte]): Array[Byte] = {
      val r = new java.util.Random(fnv(seed))
      val bos = new java.io.ByteArrayOutputStream()
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      w.setOutput(ios)
      w.prepareWriteSequence(null)
      var f = 0
      while (f < Frames) {
        val img = new java.awt.image.BufferedImage(W, H,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
        val ras = img.getRaster
        var y = 0
        while (y < H) {
          var x = 0
          while (x < W) { ras.setSample(x, y, 0, r.nextInt(256)); x += 1 }
          y += 1
        }
        w.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      w.endWriteSequence()
      ios.close()
      w.dispose()
      bos.toByteArray
    }

    /** Decode every frame of an animated GIF back to 8-bit gray pixel
      * arrays through the real `ImageReader` (LZW decode, palette
      * lookup; `getNumImages(true)` walks the container's frame
      * directory).
      */
    def decodeFrames(gif: Array[Byte]): Array[Array[Int]] = {
      val rd = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      rd.setInput(javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(gif)))
      val n = rd.getNumImages(true)
      val out = Array.ofDim[Array[Int]](n)
      var f = 0
      while (f < n) {
        val img = rd.read(f)
        require(img.getWidth == W && img.getHeight == H,
          s"expected ${W}x$H frames")
        val px = new Array[Int](W * H)
        var y = 0
        while (y < H) {
          var x = 0
          while (x < W) { px(y * W + x) = img.getRGB(x, y) & 0xff; x += 1 }
          y += 1
        }
        out(f) = px
        f += 1
      }
      rd.dispose()
      out
    }

    /** Per-frame average-hash over DECODED gray pixels (2x2 block
      * averages to 8x8, bit set iff 64·block > Σ — the
      * [[ImageCodec.averageHash]] discipline on the gray channel).
      */
    def frameHash(px: Array[Int]): Long = {
      val block = new Array[Long](64)
      var total = 0L
      var by = 0
      while (by < 8) {
        var bx = 0
        while (bx < 8) {
          var g = 0L
          var dy = 0
          while (dy < 2) {
            var dx = 0
            while (dx < 2) {
              g += px((by * 2 + dy) * W + (bx * 2 + dx)); dx += 1
            }
            dy += 1
          }
          block(by * 8 + bx) = g
          total += g
          bx += 1
        }
        by += 1
      }
      var h = 0L
      var b = 0
      while (b < 64) {
        if (64L * block(b) > total) h |= (1L << b)
        b += 1
      }
      h
    }

    /** Temporal fingerprint: KEYFRAME-SAMPLE the decoded clip (every
      * `stride`-th frame — the frame-sampling step a real video
      * pipeline runs instead of hashing every frame) and FNV-combine
      * the sampled frame hashes in order, so clips differing only in
      * unsampled frames collide (exactly the coarse recall/precision
      * trade frame sampling buys) while reordered clips do not.
      */
    def fingerprint(gif: Array[Byte], stride: Int = 2): Long = {
      val frames = decodeFrames(gif)
      require(frames.length == Frames, s"expected $Frames frames")
      var h = 0xcbf29ce484222325L
      var f = 0
      while (f < frames.length) {
        if (f % stride == 0) {
          val fh = frameHash(frames(f))
          var b = 0
          while (b < 8) {
            h ^= (fh >>> (8 * b)) & 0xffL; h *= 0x100000001b3L; b += 1
          }
        }
        f += 1
      }
      h
    }
  }

  /** Real-GIF media table: one genuine 4-frame animated GIF per
    * document, rendered deterministically from the document TITLE —
    * the same collision-bearing key as the image and audio legs.
    */
  def videoTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.GraftOps.widen(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .map { case (id, text) =>
        val title = text.split(" ").take(3).mkString(" ")
        (id, VideoCodec.renderGif(title.getBytes("UTF-8")))
      }
      .toDF("media_id", "gif")
  }

  /** Declared query: temporal-fingerprint dedup over REAL decoded
    * video — render → animated-GIF encode → per-frame decode →
    * keyframe-sample → frame-hash chain → bucket-group. Map-only
    * decode fused with the scan, one partial-aggregated groupBy on a
    * 64-bit key; GIF payloads never shuffle.
    *
    * Decoder-free oracle by the title-identity argument (injective
    * seeded render, lossless gray-palette GIF, so fingerprint groups
    * == title groups); a broken frame decode, frame-order scramble, or
    * mis-sampled keyframe set changes the fingerprint and fails the
    * hash gate. Output: (keep_id, n) per duplicate group.
    */
  def videoDedupGroups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    videoTable(spark, dir)
      .select(col("media_id"), col("gif"))
      .as[(Long, Array[Byte])]
      .map { case (id, gif) => (id, VideoCodec.fingerprint(gif)) }
      .toDF("media_id", "vfp")
      .groupBy(col("vfp"))
      .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("keep_id"), col("n"))
  }
}
