package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for training-data pipelines.
  *
  * Media payloads are opaque `binary` columns with a typed metadata struct
  * alongside — the layout that scales: Spark never interprets the bytes in
  * the relational layer, metadata predicates prune scans (parquet column
  * pruning keeps the heavy binary column unread unless projected), and
  * decode runs partition-parallel.
  *
  * Decode is REAL for image, audio AND video: [[decodeImageStats]] reads
  * PNG/JPEG payloads with `javax.imageio`, [[decodeAudioStats]] reads
  * WAV/PCM with `javax.sound.sampled`, and [[decodeVideoFrames]] (r7)
  * walks MJPEG AVI containers ([[Avi]]) and decodes sampled frames with
  * `javax.imageio` — all pure-JVM codecs, partition-parallel,
  * iterator-to-iterator (a multi-GB media partition never materializes).
  * Other video codecs (H.264 …) have no pure-JVM decoder.
  */
object Multimodal {

  /** kind ∈ {image, audio, video}; meta carries decode-free header fields. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("format", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("n_frames", IntegerType, nullable = true))), nullable = true)))

  final case class MediaMeta(format: String, width: Int, height: Int, n_frames: Int)
  final case class Media(media_id: Long, kind: String, bytes: Array[Byte], meta: MediaMeta)

  /** Deterministic media fixture derived from the `documents` table: the
    * UTF-8 text bytes play the role of an encoded payload; metadata is
    * derived from doc stats. Exercises the real binary-column plumbing.
    */
  def fixtureFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      (when(pmod(col("doc_id"), lit(3)) === 0, "image")
        .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
        .otherwise("video")).as("kind"),
      col("text").cast(BinaryType).as("bytes"),
      struct(
        lit("fake").as("format"),
        (pmod(col("n_chars"), lit(1024)) + 64).cast(IntegerType).as("width"),
        (pmod(col("n_chars"), lit(768)) + 64).cast(IntegerType).as("height"),
        (pmod(col("doc_id"), lit(30)) + 1).cast(IntegerType).as("n_frames")).as("meta"))

  /** Metadata-only transform (e.g. a resize plan): touches the meta struct,
    * never deserializes bytes — stays a narrow codegen'd projection.
    */
  def planResize(media: DataFrame, maxSide: Int): DataFrame = {
    val wSide = col("meta.width")
    val hSide = col("meta.height")
    val scale = least(lit(1.0),
      lit(maxSide.toDouble) / greatest(wSide, hSide).cast(DoubleType))
    media.withColumn("resize_plan", struct(
      round(wSide * scale).cast(IntegerType).as("target_width"),
      round(hSide * scale).cast(IntegerType).as("target_height"),
      (scale < 1.0).as("needs_resize")))
  }

  // ------------------------------------------------------- real codecs

  final case class ImageStats(media_id: Long, ok: Boolean, format: String,
      width: Int, height: Int, channels: Int, n_pixels: Long,
      sum_r: Long, sum_g: Long, sum_b: Long)

  final case class AudioStats(media_id: Long, ok: Boolean, channels: Int,
      sample_rate: Int, n_samples: Long, sum_samples: Long,
      min_sample: Int, max_sample: Int)

  /** Deterministic RGB pattern for the PNG fixture, keyed on (id, x, y).
    * Each channel varies along ONE axis only, so per-image channel sums
    * have a closed form a SQL oracle reproduces with a `range()` lateral —
    * while the bytes on disk are a real, losslessly-decodable PNG: the
    * encode→decode roundtrip is exercised end-to-end and any raster or
    * color-order bug breaks the bit-exact gate.
    */
  private[graft] def fixtureRgb(id: Long, x: Int, y: Int): (Int, Int, Int) =
    (((id + x) % 256).toInt, ((id * 3 + y) % 256).toInt,
      ((id * 5 + 7L * x) % 256).toInt)

  private[graft] def fixtureDims(id: Long): (Int, Int) =
    (((id % 32) + 8).toInt, ((id % 24) + 8).toInt)

  /** Real-PNG media fixture: one image row per document, pixels from
    * [[fixtureRgb]], encoded on executors with `javax.imageio` — the
    * heavy-binary-column layout with genuinely decodable payloads.
    *
    * `twinEvery > 0` additionally plants a NEAR-IDENTICAL twin for every
    * `twinEvery`-th document (media_id = doc_id + `twinOffset`): the same
    * raster with the blue channel of pixel (0,0) shifted by +8 mod 256 — a
    * one-pixel perturbation, the canonical near-duplicate-detection test
    * article. Twin construction is closed-form so a SQL oracle replays it.
    */
  def encodePngFixture(docs: DataFrame, twinEvery: Int = 0,
      twinOffset: Long = 1000000L): DataFrame = {
    val spark = docs.sparkSession
    implicit val enc: Encoder[Media] = Encoders.product[Media]
    if (twinEvery > 0) {
      // twin ids live at doc_id + twinOffset: a corpus whose ids reach the
      // offset would alias a twin onto a REAL document's media_id and
      // corrupt every downstream near-dup pairing — fail loud (one cheap
      // max-aggregate; this is fixture construction, not a hot path)
      val maxId = docs.agg(coalesce(max(col("doc_id").cast(LongType)),
        lit(Long.MinValue))).head().getLong(0)
      require(maxId < twinOffset,
        s"max doc_id $maxId >= twinOffset $twinOffset: twin media_ids " +
          "would collide with real documents — raise twinOffset")
    }
    val ids = docs.select(col("doc_id").cast(LongType)).as[Long](Encoders.scalaLong)
    ids.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      // one PNG writer per TASK, not per image (ImageIO.write does a
      // registry scan + writer construction per call — at fixture image
      // sizes that fixed cost dominates the encode; guide §4.5). Same
      // writer the registry's first-match lookup returns, same bytes.
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("png").next()
      def render(id: Long, mediaId: Long, twin: Boolean): Media = {
        val (w, h) = fixtureDims(id)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        // write the raster's backing byte array directly ([b,g,r] per
        // pixel, row-major, stride w*3 for this constructor) instead of
        // per-pixel setRGB, whose ColorModel round-trip dominated the
        // fixture encode (r12 optimization; same stored bytes — setRGB on
        // TYPE_3BYTE_BGR under the default sRGB model is an exact store)
        val data = img.getRaster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferByte].getData
        var y = 0
        var p = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val (r, g, b0) = fixtureRgb(id, x, y)
            val b = if (twin && x == 0 && y == 0) (b0 + 8) % 256 else b0
            data(p) = b.toByte; data(p + 1) = g.toByte; data(p + 2) = r.toByte
            p += 3
            x += 1
          }
          y += 1
        }
        val baos = new java.io.ByteArrayOutputStream()
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
        writer.setOutput(ios)
        writer.write(img)
        ios.flush()
        Media(mediaId, "image", baos.toByteArray, MediaMeta("png", w, h, 1))
      }
      it.flatMap { id =>
        val orig = render(id, id, twin = false)
        if (twinEvery > 0 && id % twinEvery == 0)
          Iterator(orig, render(id, id + twinOffset, twin = true))
        else Iterator(orig)
      }
    }.toDF()
  }

  /** Decode image payloads with `javax.imageio` and emit exact integer
    * raster statistics (dimensions, channel count, per-channel sums).
    * Integer outputs make the decode ORACLE-ABLE bit-exactly; an
    * undecodable payload yields `ok = false` with zeroed stats instead of
    * failing the partition (at 100 TB some corrupt media is a certainty).
    */
  def decodeImageStats(media: DataFrame): Dataset[ImageStats] = {
    implicit val encIn: Encoder[Media] = Encoders.product[Media]
    implicit val encOut: Encoder[ImageStats] = Encoders.product[ImageStats]
    media.as[Media].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { m =>
        val fmt = Option(m.meta).map(_.format).orNull
        val img =
          if (m.bytes == null) null
          else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.bytes))
        if (img == null)
          ImageStats(m.media_id, ok = false, fmt, 0, 0, 0, 0L, 0L, 0L, 0L)
        else {
          val w = img.getWidth; val h = img.getHeight
          var sr = 0L; var sg = 0L; var sb = 0L
          // bulk row reads: one getRGB(int[]) call per scanline instead of
          // w·h per-pixel calls (identical ARGB ints; the per-pixel form's
          // per-call ColorModel dispatch dominated decode — r12)
          val row = new Array[Int](w)
          var y = 0
          while (y < h) {
            img.getRGB(0, y, w, 1, row, 0, w)
            var x = 0
            while (x < w) {
              val rgb = row(x)
              sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
              x += 1
            }
            y += 1
          }
          ImageStats(m.media_id, ok = true, fmt, w, h,
            img.getColorModel.getNumColorComponents, w.toLong * h, sr, sg, sb)
        }
      }
    }
  }

  final case class ImagePHash(media_id: Long, ok: Boolean, phash: Option[Long])

  /** Perceptual 64-bit average-hash over the decoded raster (the
    * block-mean aHash family; cf. pHash): the image is partitioned into an
    * 8×8 grid by `block_j = x*8/w`, `block_i = y*8/h` (integer division),
    * and bit `i*8+j` is set iff the block's mean gray level exceeds the
    * image's mean gray level. Entirely INTEGER arithmetic — gray is the
    * raw channel sum r+g+b and the mean comparison is the cross-
    * multiplication `blockSum * (w*h) > totalSum * blockPixels` — so the
    * hash is bit-exact oracle-able (no float resize kernel, no DCT), while
    * keeping the property that matters: any smooth perturbation (recompress,
    * small edit) moves few bits, so hamming distance ranks similarity.
    *
    * Overflow headroom: gray ≤ 765, so at an 8K raster (3.3e7 px) the
    * largest cross product is ≤ 765·3.3e7·(3.3e7/64) ≈ 1.3e16 < 2^63.
    * Undecodable payloads yield `ok = false`, null hash (same failure
    * contract as [[decodeImageStats]]).
    *
    * Near-dup pairing is downstream: feed the signatures to
    * `Dedup.hammingNearDupPairs` (banded hamming-ball search).
    */
  def imagePHash(media: DataFrame): Dataset[ImagePHash] = {
    implicit val encIn: Encoder[Media] = Encoders.product[Media]
    implicit val encOut: Encoder[ImagePHash] = Encoders.product[ImagePHash]
    media.as[Media].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { m =>
        val img =
          if (m.bytes == null) null
          else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.bytes))
        if (img == null) ImagePHash(m.media_id, ok = false, None)
        else {
          val w = img.getWidth; val h = img.getHeight
          val blockSum = new Array[Long](64)
          val ncols = new Array[Long](8); val nrows = new Array[Long](8)
          var total = 0L
          // bulk row reads — see decodeImageStats (identical ARGB ints)
          val row = new Array[Int](w)
          var y = 0
          while (y < h) {
            val bi = y * 8 / h
            img.getRGB(0, y, w, 1, row, 0, w)
            var x = 0
            while (x < w) {
              val rgb = row(x)
              val gray = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              blockSum(bi * 8 + x * 8 / w) += gray
              total += gray
              x += 1
            }
            y += 1
          }
          var x = 0
          while (x < w) { ncols(x * 8 / w) += 1; x += 1 }
          y = 0
          while (y < h) { nrows(y * 8 / h) += 1; y += 1 }
          val wh = w.toLong * h
          var hash = 0L
          var b = 0
          while (b < 64) {
            if (blockSum(b) * wh > total * (ncols(b % 8) * nrows(b / 8)))
              hash |= 1L << b
            b += 1
          }
          ImagePHash(m.media_id, ok = true, Some(hash))
        }
      }
    }
  }

  /** Deterministic PCM16 sample for the WAV fixture — one axis, closed
    * form, exact roundtrip through 16-bit signed little-endian PCM.
    */
  private[graft] def fixtureSample(id: Long, i: Long): Int =
    (((id * 31 + i * 17) % 65536) - 32768).toInt

  private[graft] def fixtureSamples(id: Long): Int = ((id % 400) + 100).toInt

  /** Real-WAV media fixture: mono PCM16 @ 8 kHz payloads written with
    * `javax.sound.sampled` (canonical RIFF/WAVE container).
    */
  def encodeWavFixture(docs: DataFrame): DataFrame = {
    implicit val enc: Encoder[Media] = Encoders.product[Media]
    val ids = docs.select(col("doc_id").cast(LongType)).as[Long](Encoders.scalaLong)
    ids.mapPartitions { it =>
      it.map { id =>
        val n = fixtureSamples(id)
        val pcm = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val s = fixtureSample(id, i)
          pcm(i * 2) = (s & 0xff).toByte
          pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val baos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
        Media(id, "audio", baos.toByteArray, MediaMeta("wav", 0, 0, 0))
      }
    }.toDF()
  }

  /** Decode WAV payloads with `javax.sound.sampled` and emit exact integer
    * sample statistics. Same failure contract as [[decodeImageStats]].
    */
  def decodeAudioStats(media: DataFrame): Dataset[AudioStats] = {
    implicit val encIn: Encoder[Media] = Encoders.product[Media]
    implicit val encOut: Encoder[AudioStats] = Encoders.product[AudioStats]
    media.as[Media].mapPartitions { it =>
      it.map { m =>
        try {
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(m.bytes))
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian)
          val bytes = ais.readAllBytes()
          val nCh = fmt.getChannels
          var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
          var n = 0L
          var off = 0
          while (off + 1 < bytes.length) {
            val s = ((bytes(off) & 0xff) | (bytes(off + 1) << 8)).toShort.toInt
            sum += s; if (s < mn) mn = s; if (s > mx) mx = s
            n += 1; off += 2
          }
          // n counts raw samples across channels; report per-channel frames
          AudioStats(m.media_id, ok = true, nCh, fmt.getSampleRate.toInt,
            n / nCh, sum, mn, mx)
        } catch {
          case _: Exception =>
            AudioStats(m.media_id, ok = false, 0, 0, 0L, 0L, 0, 0)
        }
      }
    }
  }

  /** Frame-sampling plan for video rows: one output row per sampled frame
    * index (metadata-driven generator; bytes stay untouched/unexploded so
    * the heavy column is not duplicated across frame rows).
    */
  def sampleFrames(media: DataFrame, everyNth: Int): DataFrame = {
    require(everyNth > 0, s"everyNth must be positive, got $everyNth")
    // n_frames <= 0 (or null) would make sequence() throw and fail the
    // whole job for one malformed row — frameless videos sample no frames
    media.where(col("kind") === "video" && col("meta.n_frames") > 0)
      .select(col("media_id"),
        explode(sequence(lit(0), col("meta.n_frames") - 1, lit(everyNth)))
          .as("frame_idx"))
  }

  // --------------------------------------------- real video path (MJPEG)

  /** Solid fill color of frame `f` of fixture video `id` — closed form so
    * a SQL oracle replays it. Channels stay inside [32, 223]: JPEG's
    * RGB→YCbCr→quantize roundtrip moves a uniform field by a couple of
    * counts, and staying off the 0/255 rails keeps that error symmetric
    * (no clamping), bounded well under the tolerance the driver query
    * checks. */
  private[graft] def fixtureFrameRgb(id: Long, f: Int): (Int, Int, Int) =
    (((id * 7 + f * 11L) % 192 + 32).toInt,
      ((id * 13 + f * 17L) % 192 + 32).toInt,
      ((id * 19 + f * 23L) % 192 + 32).toInt)

  /** 2–8 frames per fixture video, keyed on the id. */
  private[graft] def fixtureFrameCount(id: Long): Int = ((id % 7) + 2).toInt

  /** Real-AVI media fixture: one MJPEG video per document — frame count,
    * dimensions and per-frame solid colors in closed form
    * ([[fixtureFrameCount]], [[fixtureDims]], [[fixtureFrameRgb]]), each
    * frame JPEG-encoded with `javax.imageio` on executors and the
    * container assembled by [[Avi.write]]. The bytes on disk are a real,
    * decodable MJPEG AVI, so the container walk and the frame decode are
    * exercised end-to-end.
    */
  def encodeAviFixture(docs: DataFrame): DataFrame = {
    implicit val enc: Encoder[Media] = Encoders.product[Media]
    val ids = docs.select(col("doc_id").cast(LongType)).as[Long](Encoders.scalaLong)
    ids.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      // one JPEG writer per task — see encodePngFixture (r12)
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("jpg").next()
      it.map { id =>
        val (w, h) = fixtureDims(id)
        val n = fixtureFrameCount(id)
        val frames = (0 until n).map { f =>
          val (r, g, b) = fixtureFrameRgb(id, f)
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          // constant-color frame: fill the raster's backing byte array
          // directly ([b,g,r] row-major) — see encodePngFixture (r12)
          val data = img.getRaster.getDataBuffer
            .asInstanceOf[java.awt.image.DataBufferByte].getData
          var p = 0
          while (p < data.length) {
            data(p) = b.toByte; data(p + 1) = g.toByte; data(p + 2) = r.toByte
            p += 3
          }
          val baos = new java.io.ByteArrayOutputStream()
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
          writer.setOutput(ios)
          writer.write(img)
          ios.flush()
          baos.toByteArray
        }
        Media(id, "video", Avi.write(frames, w, h), MediaMeta("avi", w, h, n))
      }
    }.toDF()
  }

  final case class VideoFrame(media_id: Long, ok: Boolean, frame_idx: Int,
      width: Int, height: Int, mean_r: Double, mean_g: Double, mean_b: Double)

  /** REAL video frame extraction — the path that was metadata-only until
    * r7: walk the AVI container ([[Avi.readFrames]]), keep every
    * `everyNth` frame (frame SAMPLING on the actual stream, not the
    * metadata plan), decode each kept MJPEG payload with `javax.imageio`,
    * and emit dimensions plus per-channel pixel means.
    *
    * Partition-parallel and iterator-to-iterator like the other codecs; a
    * video whose container yields no frames emits one `ok = false` row
    * and an individual undecodable frame emits its own `ok = false` row —
    * never a task failure (C4). The means are doubles because JPEG is
    * LOSSY: decoded values are deterministic within a JVM but have no
    * closed form, so the oracle-able projection is a tolerance flag
    * computed by the caller (the `q_video_frames` pattern), exactly like
    * `q_warc_ingest`'s framing_ok.
    */
  def decodeVideoFrames(media: DataFrame, everyNth: Int): Dataset[VideoFrame] = {
    require(everyNth > 0, s"everyNth must be positive, got $everyNth")
    implicit val encIn: Encoder[Media] = Encoders.product[Media]
    implicit val encOut: Encoder[VideoFrame] = Encoders.product[VideoFrame]
    media.as[Media].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { m =>
        val frames =
          if (m.bytes == null) Vector.empty else Avi.readFrames(m.bytes)
        if (frames.isEmpty)
          Iterator.single(VideoFrame(m.media_id, ok = false, -1, 0, 0, 0, 0, 0))
        else frames.iterator.zipWithIndex
          .filter(_._2 % everyNth == 0)
          .map { case (jpeg, f) =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(jpeg))
            if (img == null)
              VideoFrame(m.media_id, ok = false, f, 0, 0, 0, 0, 0)
            else {
              val w = img.getWidth; val h = img.getHeight
              var sr = 0L; var sg = 0L; var sb = 0L
              // bulk row reads — see decodeImageStats (identical ARGB ints)
              val row = new Array[Int](w)
              var y = 0
              while (y < h) {
                img.getRGB(0, y, w, 1, row, 0, w)
                var x = 0
                while (x < w) {
                  val rgb = row(x)
                  sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff
                  sb += rgb & 0xff
                  x += 1
                }
                y += 1
              }
              val n = w.toLong * h
              VideoFrame(m.media_id, ok = true, f, w, h,
                sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
            }
          }
      }
    }
  }
}
