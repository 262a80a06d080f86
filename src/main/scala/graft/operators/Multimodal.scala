package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns for training-data pipelines: image/audio/video
  * payloads as opaque `binary` columns with typed metadata, plus
  * decode / feature-extract / resize stages.
  *
  * ALL THREE modalities decode for real with JDK codecs: PNG images
  * (`javax.imageio`, m5), PCM/WAV audio (`javax.sound.sampled`, m6),
  * and multi-frame GIF video (`javax.imageio`'s animated-GIF
  * reader/writer, m7) — each drives encode → binary column → decode
  * end to end with an independent SQL oracle over the lossless
  * round-trip ([[ImageCodec]], [[AudioCodec]], [[VideoCodec]]).
  * `FakeCodec` survives only as the pooled-plumbing test double
  * behind the m2 feature fold. The Spark-side plumbing is real and
  * load-bearing: binary column schema, per-partition pooled codec
  * instances (the mapPartitions analog of `mapInPandas` batch
  * decoding; amortizes codec init exactly like the reference's cached
  * OCR model, app.py:12-16), batch-shaped iteration, and typed
  * feature output (`Array[Float]` embedding column ready for the
  * Similarity operators). Containers outside the JDK's codec set
  * (mp4/vp9) still need javacv/ffmpeg on a real cluster; the m7
  * dataflow is exactly what such a codec would plug into.
  */
object Multimodal {

  type Q = (SparkSession, String) => DataFrame

  final case class MediaFeatures(doc_id: Long, kind: String, n_bytes: Int,
                                 feature: Array[Float])

  /** Deterministic fake codec — a test-double for a generic media
    * decoder, kept ONLY to exercise the pooled per-partition plumbing
    * under `m2_media_features` (all three modalities now decode for
    * REAL: [[ImageCodec]] PNG, [[AudioCodec]] WAV, [[VideoCodec]]
    * multi-frame GIF). Init is deliberately "expensive-shaped"
    * (per-partition pooling must matter): a 64-entry mixing table
    * built once. The "decode" folds the bytes through the table into
    * a 16-dim float feature — stable, content-sensitive, and
    * obviously not a real decoder (swap for javacv/ffmpeg for exotic
    * containers on a cluster).
    *
    * Every step stays `mod 1000003` so the fold is a bounded-integer
    * recurrence the driver's DuckDB oracle replays exactly
    * (`list_reduce` per lane) — no Long-overflow wraparound that SQL
    * BIGINTs would refuse. Each float lane quantizes back to its
    * integer accumulator via `round(f * 1000003)` (acc < 2²⁰ fits a
    * float32 mantissa), which is what the m2 oracle compares.
    */
  final class FakeCodec {
    import FakeCodec.M
    private val table: Array[Long] =
      Array.tabulate(64)(i => (2654435761L * (i + 1)) % M)

    def decodeFeature(bytes: Array[Byte], dim: Int = 16): Array[Float] = {
      val acc = new Array[Long](dim)
      var i = 0
      while (i < bytes.length) {
        val d = i % dim
        acc(d) = (acc(d) * 31 + (bytes(i) & 0xFF) + table(i % 64)) % M
        i += 1
      }
      val out = new Array[Float](dim)
      i = 0
      while (i < dim) {
        out(i) = acc(i).toFloat / M
        i += 1
      }
      out
    }
  }

  object FakeCodec {
    /** prime modulus shared with the DuckDB oracle */
    val M = 1000003L
  }

  /** Synthesize the media table from `documents` (deterministic; the
    * "bytes" are the utf-8 payload of the text — an opaque stand-in
    * with the same column shape a real image table would have). */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Fn.spread(s, dir, "documents")
      .select(
        col("doc_id"),
        element_at(typedlit(Seq("image", "audio", "video")),
          (col("doc_id") % 3).cast("int") + 1).as("kind"),
        col("text").cast("binary").as("bytes"),
        struct(
          (lit(64) + col("doc_id") % 512).cast("int").as("width"),
          (lit(64) + col("doc_id") % 256).cast("int").as("height"),
          when(col("doc_id") % 3 === 1, 16000).otherwise(0).cast("int").as("sample_rate"),
          element_at(typedlit(Seq("png", "wav", "mp4")),
            (col("doc_id") % 3).cast("int") + 1).as("format")).as("meta"))

  /** Per-partition pooled decode → typed feature column. ONE codec
    * per partition, reused across the batch — the plumbing a real
    * decoder needs (this is where `mapInPandas` batches would sit in
    * a Python pipeline). */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val s = media.sparkSession
    import s.implicits._
    media.select(col("doc_id"), col("kind"), col("bytes"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        val codec = new FakeCodec // pooled: one init per partition
        it.map { case (id, kind, bytes) =>
          MediaFeatures(id, kind, bytes.length, codec.decodeFeature(bytes))
        }
      }
  }

  /** "Resize": pure-metadata transform (halve dimensions, floor at
    * 16) — in a real pipeline the codec would re-encode; the metadata
    * contract is what downstream partitioning/pruning relies on. */
  def resizeMeta(media: DataFrame): DataFrame =
    media.withColumn("meta", struct(
      greatest(lit(16), (col("meta.width") / 2).cast("int")).as("width"),
      greatest(lit(16), (col("meta.height") / 2).cast("int")).as("height"),
      col("meta.sample_rate").as("sample_rate"),
      col("meta.format").as("format")))

  /** REAL image codec round-trip — no stub: the JDK ships a genuine
    * PNG encoder/decoder (`javax.imageio`, pure Java, headless-safe),
    * so the image leg of the multimodal family can exercise an actual
    * binary-decode path end to end. Deterministic images are ENCODED
    * to real PNG bytes in one mapPartitions stage (pixel (x,y) of
    * image `id` is an integer formula), carried as an opaque binary
    * column, then DECODED back by ImageIO in a second stage that sees
    * only the bytes; the emitted per-channel pixel sums come from the
    * decoded image alone. PNG is lossless, so the DuckDB oracle can
    * verify the whole encode→binary→decode chain by replaying the
    * pixel formula in SQL — if the decode step were wrong in any way,
    * the sums would not match. ([[AudioCodec]] and [[VideoCodec]] are
    * the WAV and animated-GIF siblings of this pattern.) */
  object ImageCodec {
    locally { System.setProperty("java.awt.headless", "true") }

    def widthOf(id: Long): Int = (16 + id % 8).toInt
    def heightOf(id: Long): Int = (12 + id % 5).toInt

    /** channel c ∈ {0=r,1=g,2=b} of pixel (x, y) — SQL-replayable */
    def pixel(id: Long, x: Int, y: Int, c: Int): Int = c match {
      case 0 => ((id * 31 + x * 7 + y * 13) % 256).toInt
      case 1 => ((id * 17 + x * 5 + y * 11) % 256).toInt
      case _ => ((id * 13 + x * 3 + y * 19) % 256).toInt
    }

    def encodePng(id: Long): Array[Byte] = {
      val (w, h) = (widthOf(id), heightOf(id))
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      // one bulk setRGB: the per-pixel setRGB loop paid a color-model
      // conversion call per pixel (identical raster contents)
      val rgb = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          rgb(y * w + x) =
            (pixel(id, x, y, 0) << 16) | (pixel(id, x, y, 1) << 8) | pixel(id, x, y, 2)
          x += 1
        }
        y += 1
      }
      img.setRGB(0, 0, w, h, rgb, 0, w)
      val out = new java.io.ByteArrayOutputStream(1024)
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }

    /** decode + per-channel pixel sums — reads ONLY the bytes. None
      * for undecodable payloads (corrupt media EXIST at corpus scale;
      * a decode stage must drop-and-count, never crash the task —
      * ImageIO returns null or throws on garbage). */
    def decodeSums(bytes: Array[Byte]): Option[(Int, Int, Long, Long, Long)] = try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) return None
      val (w, h) = (img.getWidth, img.getHeight)
      // one bulk getRGB (same sRGB ints the per-pixel calls returned)
      val rgb = img.getRGB(0, 0, w, h, null, 0, w)
      var (sr, sg, sb) = (0L, 0L, 0L)
      var i = 0
      while (i < rgb.length) {
        val p = rgb(i)
        sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
        i += 1
      }
      Some((w, h, sr, sg, sb))
    } catch { case _: Exception => None }

    /** decode + 2×2 block-mean downscale (the model-input resize
      * step) + per-channel sums of the RESIZED image — verifies the
      * resample arithmetic itself, not just output metadata. Block
      * mean is the exact integer floor((p00+p01+p10+p11)/4), so the
      * oracle replays it bit-for-bit from the pixel formula; odd
      * trailing rows/columns are cropped (the standard
      * truncate-to-multiple rule). Same drop-and-count contract as
      * [[decodeSums]] for corrupt payloads. */
    def resizeSums(bytes: Array[Byte]): Option[(Int, Int, Long, Long, Long)] = try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) return None
      val w = img.getWidth
      val ow = w / 2
      val oh = img.getHeight / 2
      // one bulk getRGB; the block means read from the array (same
      // sRGB ints, same integer floor mean)
      val rgb = img.getRGB(0, 0, w, img.getHeight, null, 0, w)
      var (sr, sg, sb) = (0L, 0L, 0L)
      var by = 0
      while (by < oh) {
        var bx = 0
        while (bx < ow) {
          var (r, g, b) = (0, 0, 0)
          var dy = 0
          while (dy < 2) {
            var dx = 0
            while (dx < 2) {
              val p = rgb((2 * by + dy) * w + 2 * bx + dx)
              r += (p >> 16) & 0xFF; g += (p >> 8) & 0xFF; b += p & 0xFF
              dx += 1
            }
            dy += 1
          }
          sr += r / 4; sg += g / 4; sb += b / 4
          bx += 1
        }
        by += 1
      }
      Some((ow, oh, sr, sg, sb))
    } catch { case _: Exception => None }
  }

  /** Perceptual hashing over DECODED image bytes — the image-dedup
    * primitive (aHash, the average-hash family pHash/dHash belong to):
    * 8×8 nearest-neighbor grid over integer grayscale, bit i set when
    * sample i exceeds the integer mean. Re-encodes of the same content
    * collapse to the same 64 bits regardless of container bytes — the
    * dup class raw-byte digests (d1) cannot see, because two encoders
    * (or two encode runs with different settings) produce different
    * PNG bytes for identical pixels. Every step is integer arithmetic
    * on the decoded pixels, so the DuckDB oracle can replay the whole
    * chain through the lossless PNG round-trip.
    *
    * The d14 media catalog spaces its ids ×24 over the document table
    * so re-uploaded duplicates EXIST at every sf: [[ImageCodec]]'s
    * pixel formula repeats with period lcm(256, 8, 5) = 1280 in the
    * image id, so doc_ids congruent mod 1280/gcd(24,1280) = 160 carry
    * pixel-identical images (≈ 540 planted pairs per 500 docs) — the
    * deterministic stand-in for the same asset uploaded many times. */
  object PHash {
    def mediaId(docId: Long): Long = docId * 24L

    /** (h_hi, h_lo): bits 32-63 / 0-31 of the 64-bit average hash,
      * both as nonnegative < 2³² longs so band arithmetic and XOR are
      * sign-free in both engines. */
    def aHash(img: java.awt.image.BufferedImage): (Long, Long) = {
      val w = img.getWidth; val h = img.getHeight
      // one bulk getRGB; the 64 grid samples index the array (same
      // sRGB ints the per-pixel calls returned)
      val rgb = img.getRGB(0, 0, w, h, null, 0, w)
      val v = new Array[Int](64)
      var i = 0
      while (i < 64) {
        val gx = (i % 8) * w / 8
        val gy = (i / 8) * h / 8
        val p = rgb(gy * w + gx)
        v(i) = (((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)) / 3
        i += 1
      }
      var sum = 0L; i = 0
      while (i < 64) { sum += v(i); i += 1 }
      val mean = sum / 64
      var lo = 0L; var hi = 0L; i = 0
      while (i < 32) { if (v(i) > mean) lo |= (1L << i); i += 1 }
      while (i < 64) { if (v(i) > mean) hi |= (1L << (i - 32)); i += 1 }
      (hi, lo)
    }
  }

  /** REAL audio codec round-trip — the WAV sibling of [[ImageCodec]]:
    * the JDK also ships a genuine PCM/WAV encoder-decoder
    * (`javax.sound.sampled.AudioSystem`). Deterministic 16-bit mono
    * PCM clips are encoded to real WAV bytes, carried as a binary
    * column, and decoded back by a stage that sees only the bytes;
    * PCM WAV is lossless, so the oracle replays the sample formula.
    * ([[VideoCodec]] covers the multi-frame leg the same way.) */
  object AudioCodec {
    val SampleRate = 8000f

    def nSamplesOf(id: Long): Int = (256 + id % 128).toInt

    /** 16-bit signed sample i of clip `id` — SQL-replayable */
    def sample(id: Long, i: Int): Int =
      (((id * 31 + i.toLong * 17) % 65536) - 32768).toInt

    def encodeWav(id: Long): Array[Byte] = {
      val n = nSamplesOf(id)
      val pcm = new Array[Byte](n * 2) // little-endian 16-bit mono
      var i = 0
      while (i < n) {
        val v = sample(id, i)
        pcm(2 * i) = (v & 0xFF).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(SampleRate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val out = new java.io.ByteArrayOutputStream(n * 2 + 64)
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }

    /** decode + stats — reads ONLY the bytes; sample reconstruction
      * follows the DECODED stream's own format (endianness, width).
      * None for undecodable/unsupported payloads (same drop-and-count
      * contract as [[ImageCodec.decodeSums]]). */
    def decodeStats(bytes: Array[Byte]): Option[(Int, Int, Long)] = try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) return None
      val pcm = ais.readAllBytes()
      val n = pcm.length / 2
      var sum = 0L
      var i = 0
      while (i < n) {
        val lo = pcm(2 * i) & 0xFF
        val hi = pcm(2 * i + 1).toInt
        sum += (if (fmt.isBigEndian) ((pcm(2 * i).toInt << 8) | (pcm(2 * i + 1) & 0xFF))
                else ((hi << 8) | lo)).toShort.toLong
        i += 1
      }
      Some((n, fmt.getSampleRate.toInt, sum))
    } catch { case _: Exception => None }
  }

  /** REAL video codec round-trip — the multi-frame sibling of
    * [[ImageCodec]]: the JDK's `javax.imageio` GIF plugin is a genuine
    * ANIMATED (multi-frame) video codec — `writeToSequence` emits one
    * GIF89a stream per clip, `ImageReader.read(frameIdx)` decodes
    * frame by frame. Frames are 256-level grayscale through an
    * explicit `IndexColorModel`, so the palette round-trip is exact
    * (LZW is lossless; an RGB source would get quantized) and the
    * DuckDB oracle can replay the per-frame pixel formula over the
    * decoded sums — the m5 pattern extended to the time axis. mp4/vp9
    * containers still need javacv/ffmpeg on a cluster; this leg pins
    * the dataflow (encode → binary column → frame-wise decode → frame
    * sampling) such a codec drops into. */
  object VideoCodec {
    locally { System.setProperty("java.awt.headless", "true") }

    def widthOf(id: Long): Int = (16 + id % 8).toInt
    def heightOf(id: Long): Int = (12 + id % 5).toInt
    def nFramesOf(id: Long): Int = (2 + id % 4).toInt

    /** gray level of pixel (x, y) in frame f of clip `id` —
      * SQL-replayable */
    def pixel(id: Long, f: Int, x: Int, y: Int): Int =
      ((id * 31 + f * 101 + x * 7 + y * 13) % 256).toInt

    private val grays = Array.tabulate(256)(_.toByte)
    private def grayModel =
      new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)

    def encodeGif(id: Long): Array[Byte] = {
      val (w, h) = (widthOf(id), heightOf(id))
      val out = new java.io.ByteArrayOutputStream(2048)
      val ios = javax.imageio.ImageIO.createImageOutputStream(out)
      val writer =
        javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < nFramesOf(id)) {
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayModel)
          val raster = img.getRaster
          // one bulk setDataElements per frame: the per-pixel
          // setSample loop paid a bounds/band dispatch per pixel
          // (identical raster bytes — the palette is the identity
          // gray ramp)
          val px = new Array[Byte](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { px(y * w + x) = pixel(id, f, x, y).toByte; x += 1 }
            y += 1
          }
          raster.setDataElements(0, 0, w, h, px)
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
          f += 1
        }
        writer.endWriteSequence()
      } finally { writer.dispose(); ios.close() }
      out.toByteArray
    }

    /** decode + per-frame gray sums — reads ONLY the bytes; None for
      * undecodable payloads (same drop-and-count contract as
      * [[ImageCodec.decodeSums]]). Returns (frame_idx, w, h, sum). */
    def decodeFrameSums(bytes: Array[Byte]): Option[Seq[(Int, Int, Int, Long)]] = try {
      val reader =
        javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      try {
        reader.setInput(javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes)))
        val n = reader.getNumImages(true)
        if (n < 1) return None
        Some((0 until n).map { f =>
          val img = reader.read(f)
          val (w, h) = (img.getWidth, img.getHeight)
          // bulk getRGB; the blue channel of the gray palette is the
          // gray level, same as the per-pixel form read
          val rgb = img.getRGB(0, 0, w, h, null, 0, w)
          var sum = 0L
          var i = 0
          while (i < rgb.length) { sum += rgb(i) & 0xFF; i += 1 }
          (f, w, h, sum)
        })
      } finally reader.dispose()
    } catch { case _: Exception => None }
  }

  val defs: Seq[(String, Q, Option[String])] = Seq(

    // ── REAL audio decode: deterministic PCM → genuine WAV bytes (JDK
    //    codec) → decode from bytes alone; oracle replays the sample
    //    formula over the lossless round-trip ───────────────────────
    ("m6_audio_decode", (s: SparkSession, dir: String) => {
      import s.implicits._
      val undecodable = s.sparkContext.longAccumulator("m6_undecodable")
      Fn.spread(s, dir, "documents")
        .filter(col("doc_id") % 3 === 1) // the "audio"-kind rows
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, AudioCodec.encodeWav(id))))
        .toDF("doc_id", "wav")
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, bytes) =>
          val d = AudioCodec.decodeStats(bytes)
          if (d.isEmpty) undecodable.add(1)
          d.map { case (n, rate, sum) => (id, n, rate, sum) }
        })
        .toDF("doc_id", "n_samples", "sample_rate", "sum_samples")
    }: DataFrame, Some("""
      WITH clips AS (
        SELECT doc_id, CAST(256 + doc_id % 128 AS INT) AS n
        FROM documents WHERE doc_id % 3 = 1)
      SELECT doc_id, n AS n_samples, CAST(8000 AS INT) AS sample_rate,
             CAST(list_sum(list_transform(range(0, n),
               i -> (doc_id * 31 + i * 17) % 65536 - 32768)) AS BIGINT)
               AS sum_samples
      FROM clips""")),

    // ── REAL multi-frame video decode: deterministic grayscale frames
    //    encoded to one animated-GIF stream per clip (JDK codec),
    //    shipped as a binary column, decoded FRAME BY FRAME from the
    //    bytes alone; the oracle replays the per-frame pixel-sum
    //    formula over the lossless round-trip ────────────────────────
    ("m7_video_frames", (s: SparkSession, dir: String) => {
      import s.implicits._
      val undecodable = s.sparkContext.longAccumulator("m7_undecodable")
      Fn.spread(s, dir, "documents")
        .filter(col("doc_id") % 3 === 2) // the "video"-kind rows
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, VideoCodec.encodeGif(id))))
        .toDF("doc_id", "gif")
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, bytes) =>
          val d = VideoCodec.decodeFrameSums(bytes)
          if (d.isEmpty) undecodable.add(1)
          d.toSeq.flatten.map { case (f, w, h, sum) => (id, f, w, h, sum) }
        })
        .toDF("doc_id", "frame_idx", "width", "height", "sum_gray")
    }: DataFrame, Some("""
      WITH clips AS (
        SELECT doc_id, CAST(16 + doc_id % 8 AS INT) AS w,
               CAST(12 + doc_id % 5 AS INT) AS h,
               CAST(2 + doc_id % 4 AS INT) AS nf
        FROM documents WHERE doc_id % 3 = 2),
      frames AS (
        SELECT doc_id, w, h, unnest(range(nf)) AS f FROM clips),
      px AS (
        SELECT fr.doc_id, fr.w, fr.h, fr.f, x.x, y.y
        FROM frames fr
        CROSS JOIN (SELECT unnest(range(0, 23)) AS x) x
        CROSS JOIN (SELECT unnest(range(0, 16)) AS y) y
        WHERE x.x < fr.w AND y.y < fr.h)
      SELECT doc_id, f AS frame_idx, w AS width, h AS height,
             CAST(sum((doc_id * 31 + f * 101 + x * 7 + y * 13) % 256) AS BIGINT)
               AS sum_gray
      FROM px GROUP BY 1, 2, 3, 4""")),

    // ── REAL decode: deterministic PNGs encoded by the JDK codec,
    //    shipped as a binary column, decoded back by ImageIO; the
    //    oracle replays the pixel formula (lossless round-trip) ──────
    ("m5_image_decode", (s: SparkSession, dir: String) => {
      import s.implicits._
      // dropped rows are COUNTED, not just discarded: a systematically
      // corrupt shard must show up in metrics, not silently truncate
      val undecodable = s.sparkContext.longAccumulator("m5_undecodable")
      Fn.spread(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0) // the "image"-kind rows
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, ImageCodec.encodePng(id))))
        .toDF("doc_id", "png")
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, bytes) =>
          val d = ImageCodec.decodeSums(bytes)
          if (d.isEmpty) undecodable.add(1)
          d.map { case (w, h, sr, sg, sb) => (id, w, h, sr, sg, sb) }
        })
        .toDF("doc_id", "width", "height", "sum_r", "sum_g", "sum_b")
    }: DataFrame, Some("""
      WITH imgs AS (
        SELECT doc_id, CAST(16 + doc_id % 8 AS INT) AS w,
               CAST(12 + doc_id % 5 AS INT) AS h
        FROM documents WHERE doc_id % 3 = 0),
      px AS (
        SELECT i.doc_id, i.w, i.h, x.x, y.y
        FROM imgs i
        CROSS JOIN (SELECT unnest(range(0, 23)) AS x) x
        CROSS JOIN (SELECT unnest(range(0, 17)) AS y) y
        WHERE x.x < i.w AND y.y < i.h)
      SELECT doc_id, w AS width, h AS height,
             CAST(sum((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_r,
             CAST(sum((doc_id * 17 + x * 5 + y * 11) % 256) AS BIGINT) AS sum_g,
             CAST(sum((doc_id * 13 + x * 3 + y * 19) % 256) AS BIGINT) AS sum_b
      FROM px GROUP BY 1, 2, 3""")),

    // ── REAL resize: decode → 2×2 block-mean downscale → per-channel
    //    sums of the RESIZED pixels (m3 is the metadata contract; this
    //    is the actual resample arithmetic, oracle-replayed exactly
    //    via the integer floor mean over the lossless round-trip) ────
    ("m8_image_resize", (s: SparkSession, dir: String) => {
      import s.implicits._
      val undecodable = s.sparkContext.longAccumulator("m8_undecodable")
      Fn.spread(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0) // the "image"-kind rows
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, ImageCodec.encodePng(id))))
        .toDF("doc_id", "png")
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, bytes) =>
          val d = ImageCodec.resizeSums(bytes)
          if (d.isEmpty) undecodable.add(1)
          d.map { case (w, h, sr, sg, sb) => (id, w, h, sr, sg, sb) }
        })
        .toDF("doc_id", "width", "height", "sum_r", "sum_g", "sum_b")
    }: DataFrame, Some("""
      WITH imgs AS (
        SELECT doc_id, CAST(16 + doc_id % 8 AS INT) AS w,
               CAST(12 + doc_id % 5 AS INT) AS h
        FROM documents WHERE doc_id % 3 = 0),
      blocks AS (
        SELECT i.doc_id, i.w, i.h, bx.bx, by.by
        FROM imgs i
        CROSS JOIN (SELECT unnest(range(0, 12)) AS bx) bx
        CROSS JOIN (SELECT unnest(range(0, 8)) AS by) by
        WHERE bx.bx < i.w // 2 AND by.by < i.h // 2)
      SELECT doc_id, CAST(w // 2 AS INT) AS width, CAST(h // 2 AS INT) AS height,
             CAST(sum((  (doc_id * 31 + (2*bx) * 7     + (2*by) * 13) % 256
                       + (doc_id * 31 + (2*bx+1) * 7   + (2*by) * 13) % 256
                       + (doc_id * 31 + (2*bx) * 7     + (2*by+1) * 13) % 256
                       + (doc_id * 31 + (2*bx+1) * 7   + (2*by+1) * 13) % 256
                      ) // 4) AS BIGINT) AS sum_r,
             CAST(sum((  (doc_id * 17 + (2*bx) * 5     + (2*by) * 11) % 256
                       + (doc_id * 17 + (2*bx+1) * 5   + (2*by) * 11) % 256
                       + (doc_id * 17 + (2*bx) * 5     + (2*by+1) * 11) % 256
                       + (doc_id * 17 + (2*bx+1) * 5   + (2*by+1) * 11) % 256
                      ) // 4) AS BIGINT) AS sum_g,
             CAST(sum((  (doc_id * 13 + (2*bx) * 3     + (2*by) * 19) % 256
                       + (doc_id * 13 + (2*bx+1) * 3   + (2*by) * 19) % 256
                       + (doc_id * 13 + (2*bx) * 3     + (2*by+1) * 19) % 256
                       + (doc_id * 13 + (2*bx+1) * 3   + (2*by+1) * 19) % 256
                      ) // 4) AS BIGINT) AS sum_b
      FROM blocks GROUP BY 1, 2, 3""")),

    // ── perceptual near-dup groups over DECODED pixels ([[PHash]]):
    //    encode→binary→ImageIO-decode→aHash in ONE mapPartitions pass,
    //    then a single hash-agg on the 64-bit hash. Groups, not pairs:
    //    a viral image re-uploaded 10⁶ times makes the pair list
    //    quadratic (10¹² rows) while the group row stays O(1) — the
    //    same representative-keeper contract as d1/d13. The oracle
    //    replays the full decode+hash chain from the pixel formula
    //    (PNG is lossless), so a wrong grid sample, mean, or bit pack
    //    cannot hash-match. ──────────────────────────────────────────
    ("d14_phash_neardup", (s: SparkSession, dir: String) => {
      import s.implicits._
      val undecodable = s.sparkContext.longAccumulator("d14_undecodable")
      Fn.spread(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.flatMap { docId =>
          val bytes = ImageCodec.encodePng(PHash.mediaId(docId))
          val img =
            try Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes)))
            catch { case _: Exception => None }
          if (img.isEmpty) undecodable.add(1)
          img.map { im =>
            val (hi, lo) = PHash.aHash(im)
            (docId, hi, lo)
          }
        })
        .toDF("doc_id", "h_hi", "h_lo")
        .groupBy(col("h_hi"), col("h_lo"))
        .agg(count(lit(1)).as("grp_sz"), min(col("doc_id")).as("keeper"))
        .filter(col("grp_sz") >= 2)
        .select(col("h_hi"), col("h_lo"), col("grp_sz"), col("keeper"))
    }: DataFrame, Some("""
      WITH g AS (SELECT doc_id, doc_id * 24 AS mid FROM documents),
      samp AS (
        SELECT doc_id, i,
               (  (mid*31 + (((i%8) * (16 + mid%8)) // 8) * 7
                          + (((i//8) * (12 + mid%5)) // 8) * 13) % 256
                + (mid*17 + (((i%8) * (16 + mid%8)) // 8) * 5
                          + (((i//8) * (12 + mid%5)) // 8) * 11) % 256
                + (mid*13 + (((i%8) * (16 + mid%8)) // 8) * 3
                          + (((i//8) * (12 + mid%5)) // 8) * 19) % 256) // 3 AS v
        FROM g CROSS JOIN (SELECT unnest(range(0, 64)) AS i)),
      withmean AS (
        SELECT doc_id, i, v,
               sum(v) OVER (PARTITION BY doc_id) // 64 AS m
        FROM samp),
      hashes AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v > m AND i >= 32
                             THEN (CAST(1 AS BIGINT) << CAST(i - 32 AS INT))
                             ELSE 0 END) AS BIGINT) AS h_hi,
               CAST(sum(CASE WHEN v > m AND i < 32
                             THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                             ELSE 0 END) AS BIGINT) AS h_lo
        FROM withmean GROUP BY 1)
      SELECT h_hi, h_lo, CAST(count(*) AS BIGINT) AS grp_sz,
             min(doc_id) AS keeper
      FROM hashes GROUP BY 1, 2 HAVING count(*) >= 2""")),

    // binary column + typed metadata, oracle-checkable (the digest of
    // the binary payload equals md5 of the utf-8 text in DuckDB)
    ("m1_media_meta", (s: SparkSession, dir: String) => {
      mediaTable(s, dir).select(
        col("doc_id"), col("kind"),
        length(col("bytes")).cast("long").as("n_bytes"),
        md5(col("bytes")).as("digest"),
        col("meta.width").as("width"),
        col("meta.height").as("height"),
        col("meta.sample_rate").as("sample_rate"),
        col("meta.format").as("format"))
    }: DataFrame, Some("""
      SELECT doc_id,
             ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             md5(text) AS digest,
             CAST(64 + doc_id % 512 AS INT) AS width,
             CAST(64 + doc_id % 256 AS INT) AS height,
             CAST(CASE WHEN doc_id % 3 = 1 THEN 16000 ELSE 0 END AS INT) AS sample_rate,
             ['png','wav','mp4'][CAST(doc_id % 3 AS INT) + 1] AS format
      FROM documents""")),

    // pooled decode stub → feature column. The oracle replays the
    // per-lane fold with list_reduce over the utf-8 payload (the
    // documents text is ASCII, so unicode(char) == byte value) and
    // compares the integer accumulators recovered from the float
    // lanes — the mapPartitions plumbing itself is what's under test.
    ("m2_media_features", (s: SparkSession, dir: String) => {
      val M = FakeCodec.M
      def lane(j: Int): org.apache.spark.sql.Column =
        round(element_at(col("feature"), j + 1).cast("double") * M).cast("long")
          .as(s"acc$j")
      extractFeatures(mediaTable(s, dir))
        .toDF()
        .select(col("doc_id"), col("kind"), col("n_bytes").cast("long").as("n_bytes"),
          lane(0), lane(7), lane(15))
    }: DataFrame, Some(s"""
      SELECT doc_id,
             ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             lanes[1] AS acc0, lanes[8] AS acc7, lanes[16] AS acc15
      FROM (
        SELECT doc_id, text,
          list_transform(range(0, 16), d ->
            list_reduce(
              list_prepend(CAST(0 AS BIGINT),
                list_transform(range(d, CAST(length(text) AS BIGINT), 16), i -> i)),
              (acc, i) -> (acc * 31 + unicode(substr(text, CAST(i + 1 AS INT), 1))
                           + (2654435761 * ((i % 64) + 1)) % ${FakeCodec.M})
                          % ${FakeCodec.M})) AS lanes
        FROM documents)""")),

    // resize as a metadata transform: the downstream partition/prune
    // contract is the metadata, the (stubbed) re-encode is not
    ("m3_resize_meta", (s: SparkSession, dir: String) => {
      resizeMeta(mediaTable(s, dir)).select(
        col("doc_id"), col("kind"),
        col("meta.width").as("width"),
        col("meta.height").as("height"),
        col("meta.sample_rate").as("sample_rate"),
        col("meta.format").as("format"))
    }: DataFrame, Some("""
      SELECT doc_id,
             ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
             greatest(16, CAST((64 + doc_id % 512) // 2 AS INT)) AS width,
             greatest(16, CAST((64 + doc_id % 256) // 2 AS INT)) AS height,
             CAST(CASE WHEN doc_id % 3 = 1 THEN 16000 ELSE 0 END AS INT) AS sample_rate,
             ['png','wav','mp4'][CAST(doc_id % 3 AS INT) + 1] AS format
      FROM documents""")),

    // frame sampling over the binary payload (video rows): every
    // 64-byte stride yields a "frame", capped at 8 per clip — the
    // per-row fan-out shape a real decoder's keyframe sampler has;
    // frames are digest-checkable without decoding
    ("m4_frame_sample", (s: SparkSession, dir: String) => {
      val clip = mediaTable(s, dir)
        .filter(col("kind") === "video")
        .select(col("doc_id"), col("bytes"),
          least(lit(8), (length(col("bytes")) / 64).cast("int")).as("n_frames"))
        .filter(col("n_frames") > 0)
      // generator + ordinary columns in ONE select: no self-join, no
      // second documents scan
      clip.select(col("doc_id"), col("bytes"),
          explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"),
          (col("frame_idx") * 64).as("offset"),
          md5(substring(col("bytes"), col("frame_idx") * 64 + 1, lit(64))).as("frame_digest"))
    }: DataFrame, Some("""
      WITH clips AS (
        SELECT doc_id, text,
               least(8, CAST(octet_length(encode(text)) // 64 AS INT)) AS n_frames
        FROM documents WHERE doc_id % 3 = 2),
      frames AS (
        SELECT doc_id, text, unnest(range(n_frames)) AS frame_idx
        FROM clips WHERE n_frames > 0)
      SELECT doc_id, frame_idx, frame_idx * 64 AS offset,
             md5(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)) AS frame_digest
      FROM frames"""))
  )
}
