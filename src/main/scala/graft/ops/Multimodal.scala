package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** Multimodal columns for training-data pipelines: image/audio/video as
  * opaque `binary` payloads plus typed metadata, with decode /
  * feature-extraction / resize / frame-sampling as per-partition batch
  * operators.
  *
  * Image payloads are REAL encoded images and the decode kernel is the
  * JDK's `javax.imageio` (PNG/BMP need no external codec): synthesized
  * image rows carry actual PNG bytes of a deterministic two-band pattern,
  * [[MediaFeatures.decodeImage]] decodes them, and the gate's oracle
  * recomputes the pixel statistics from the pattern recipe — so a wrong
  * (or fake) decoder cannot hash-match. Audio payloads are REAL WAV
  * (RIFF) files decoded by the JDK's `javax.sound.sampled` (PCM WAV
  * needs no external codec) with the same oracle discipline over the
  * decoded samples. Video payloads are REAL multi-frame animated GIFs
  * (the one multi-frame container the JDK reads/writes natively):
  * synthesized rows carry k solid-gray frames encoded through
  * `javax.imageio`'s GIF sequence writer, [[MediaFeatures.decodeGif]]
  * reads every frame back, and the gate's oracle recomputes the
  * per-frame pixel statistics and the frame COUNT from the recipe — a
  * decoder that fails to walk the frame sequence cannot hash-match.
  * The deterministic byte-stub path ([[MediaFeatures.decodeStub]])
  * remains only as the fallback for payloads no JDK codec can decode —
  * same batch-iterator shape, so an external-codec parser slots in
  * without touching the plumbing.
  */
object Multimodal {

  /** Sample rate of synthesized audio payloads (8 kHz telephone-band). */
  val AudioRateHz = 8000f

  /** Typed metadata carried next to every payload. */
  case class MediaMeta(width: Int, height: Int, durationMs: Long,
                       codec: String)

  case class MediaRow(mediaId: Long, mediaType: String,
                      payload: Array[Byte], meta: MediaMeta)

  /** Extracted features. For decoded images `width`/`height` are the REAL
    * decoded dimensions, `meanVal`/`histogram` run over RGB channel values
    * and `frameOffsets` is empty; for the byte-stub path (audio/video,
    * undecodable images) `width`/`height` are None and the stats run over
    * raw payload bytes.
    */
  case class MediaFeatureRow(mediaId: Long, mediaType: String, nBytes: Int,
                             width: Option[Int], height: Option[Int],
                             meanVal: Double, histogram: Array[Long],
                             frameOffsets: Array[Int])

  /** Synthesize a deterministic media table from any id-bearing frame:
    * payload bytes derive from md5 chains over the id (pure built-ins, no
    * RNG), media type round-robins image/audio/video, metadata is typed.
    * Stands in for `spark.read.format("binaryFile")` at the same schema.
    * Image rows get REAL PNG payloads via [[encodeImagePayloads]].
    */
  def synthesizeMedia(df: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol).cast("long")
    df.select(
      id.as("mediaId"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (id % 3 + 1).cast("int")).as("mediaType"),
      unhex(concat(md5(id.cast("string")),
        md5(concat(id.cast("string"), lit("_2"))),
        md5(concat(id.cast("string"), lit("_3"))))).as("payload"),
      struct(
        (id % 640 + 64).cast("int").as("width"),
        (id % 480 + 48).cast("int").as("height"),
        (id % 90000 + 1000).as("durationMs"),
        element_at(array(lit("png"), lit("opus"), lit("av1")),
          (id % 3 + 1).cast("int")).as("codec")).as("meta"))
  }

  object MediaFeatures {
    // keep the PNG encoder off the disk-backed ImageIO cache — executors
    // shouldn't page tiny in-memory codec buffers through /tmp
    ImageIO.setUseCache(false)

    /** Deterministic two-band test pattern for `id`: dims (id%13+4) ×
      * (id%11+4); top ⌊h/2⌋ rows one RGB color, the rest another, both
      * derived from small multiples of the id mod 256. Any engine
      * reproduces the pixel statistics from this recipe in closed form —
      * which is exactly what makes the REAL decode oracle-checkable.
      */
    def patternDims(id: Long): (Int, Int) =
      ((id % 13 + 4).toInt, (id % 11 + 4).toInt)

    def bandColors(id: Long): ((Int, Int, Int), (Int, Int, Int)) = (
      (((id * 7) % 256).toInt, ((id * 11) % 256).toInt,
        ((id * 13) % 256).toInt),
      (((id * 17) % 256).toInt, ((id * 19) % 256).toInt,
        ((id * 23) % 256).toInt))

    /** Render the pattern and REALLY encode it as PNG via the JDK codec. */
    def encodePng(id: Long): Array[Byte] = {
      val (w, h) = patternDims(id)
      val ((ar, ag, ab), (br, bg, bb)) = bandColors(id)
      val bi = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        val rgb = if (y < h / 2) (ar << 16) | (ag << 8) | ab
                  else (br << 16) | (bg << 8) | bb
        var x = 0
        while (x < w) { bi.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      val baos = new ByteArrayOutputStream()
      ImageIO.write(bi, "png", baos)
      baos.toByteArray
    }

    /** REAL decode via javax.imageio; None when the payload isn't a
      * decodable image (the caller falls back to [[decodeStub]]).
      */
    def decodeImage(payload: Array[Byte]): Option[BufferedImage] =
      try Option(ImageIO.read(new ByteArrayInputStream(payload)))
      catch { case _: Throwable => None }

    /** Channel statistics over REAL decoded pixels: mean of all RGB
      * channel values and a 16-bin channel-value histogram.
      */
    def pixelStats(bi: BufferedImage): (Double, Array[Long]) = {
      val hist = new Array[Long](16)
      val sum = addPixels(bi, hist)
      (sum.toDouble / (3.0 * bi.getWidth * bi.getHeight), hist)
    }

    /** Adds every RGB channel value of `bi` to the 16-bin `hist` and
      * returns the channel-value sum.
      */
    private def addPixels(bi: BufferedImage, hist: Array[Long]): Long = {
      var sum = 0L
      var y = 0
      while (y < bi.getHeight) {
        var x = 0
        while (x < bi.getWidth) {
          val rgb = bi.getRGB(x, y)
          val r = (rgb >> 16) & 0xff
          val g = (rgb >> 8) & 0xff
          val b = rgb & 0xff
          hist(r >> 4) += 1; hist(g >> 4) += 1; hist(b >> 4) += 1
          sum += r + g + b
          x += 1
        }
        y += 1
      }
      sum
    }

    /** Deterministic audio test signal for `id`: n = id%400+100 samples
      * of 8-bit unsigned mono PCM, sample[i] = (id·31 + i·7) mod 256.
      * Pure integer arithmetic, so any engine recomputes the decoded
      * sample statistics in closed form — the audio analogue of the
      * two-band image pattern.
      */
    def audioSamples(id: Long): Array[Byte] = {
      val n = (id % 400 + 100).toInt
      Array.tabulate(n)(i => (((id * 31 + i * 7) % 256) & 0xff).toByte)
    }

    /** REALLY encode the signal as a WAV (RIFF) file via the JDK codec
      * `javax.sound.sampled` — no external codec needed for PCM WAV.
      */
    def encodeWav(id: Long): Array[Byte] = {
      val data = audioSamples(id)
      val fmt = new javax.sound.sampled.AudioFormat(
        AudioRateHz, 8, 1, false, false) // 8-bit WAV PCM is unsigned LE
      val ais = new javax.sound.sampled.AudioInputStream(
        new ByteArrayInputStream(data), fmt, data.length.toLong)
      val baos = new ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }

    /** REAL decode via javax.sound.sampled: parse the RIFF container,
      * return the unsigned 8-bit mono samples and the sample rate. None
      * when the payload isn't a decodable 8-bit mono WAV (the caller
      * falls back to [[decodeStub]]). The WAV payload carries a 44-byte
      * header, so payload-byte stats differ from sample stats — a fake
      * decoder reading raw bytes cannot reproduce these numbers.
      */
    def decodeWav(payload: Array[Byte]): Option[(Array[Int], Float)] =
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(payload))
        try {
          val fmt = ais.getFormat
          if (fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1 &&
            fmt.getEncoding ==
              javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED)
            Some((ais.readAllBytes().map(_ & 0xff), fmt.getSampleRate))
          else None // only the gated 8-bit mono shape decodes here
        } finally ais.close()
      } catch { case _: Throwable => None }

    /** Statistics over REAL decoded samples: mean sample value and a
      * 16-bin sample-value histogram (same bins as [[pixelStats]]).
      */
    def sampleStats(samples: Array[Int]): (Double, Array[Long]) = {
      val hist = new Array[Long](16)
      var sum = 0L
      var i = 0
      while (i < samples.length) {
        hist(samples(i) >> 4) += 1
        sum += samples(i)
        i += 1
      }
      (if (samples.isEmpty) 0.0 else sum.toDouble / samples.length, hist)
    }

    /** Deterministic video test clip for `id`: k = id%5+2 solid-gray
      * frames of (id%9+4) × (id%7+5) pixels, frame f's gray value
      * (id·29 + f·37) mod 256. Heights start at 5 because the JDK GIF
      * writer corrupts the tail rows of frames shorter than 5 px
      * (measured: every h ≤ 4 round-trips wrong, every h ≥ 5 exact) —
      * the recipe stays inside the codec's correct region. Pure integer
      * arithmetic, so any engine recomputes the decoded per-frame stats
      * and the frame count in closed form.
      */
    def videoFrameCount(id: Long): Int = (id % 5 + 2).toInt

    def videoDims(id: Long): (Int, Int) =
      ((id % 9 + 4).toInt, (id % 7 + 5).toInt)

    def videoGray(id: Long, frame: Int): Int =
      ((id * 29 + frame * 37) % 256).toInt

    // 256-entry identity gray palette: the GIF writer stores an indexed
    // frame's palette verbatim, so samples round-trip bit-exactly —
    // unlike TYPE_BYTE_GRAY, whose setRGB path runs an sRGB→linear
    // conversion that shifts values before they reach the encoder.
    private lazy val grayPalette: java.awt.image.IndexColorModel = {
      val comp = Array.tabulate[Byte](256)(i => i.toByte)
      new java.awt.image.IndexColorModel(8, 256, comp, comp, comp)
    }

    /** Render the clip and REALLY encode it as a multi-frame animated
      * GIF via the JDK codec's sequence writer.
      */
    def encodeGif(id: Long): Array[Byte] = {
      val k = videoFrameCount(id)
      val (w, h) = videoDims(id)
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val baos = new ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < k) {
          val bi = new BufferedImage(w, h,
            BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
          val g = videoGray(id, f)
          val raster = bi.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { raster.setSample(x, y, 0, g); x += 1 }
            y += 1
          }
          writer.writeToSequence(new javax.imageio.IIOImage(bi, null, null),
            null)
          f += 1
        }
        writer.endWriteSequence()
      } finally { ios.close(); writer.dispose() }
      baos.toByteArray
    }

    /** REAL multi-frame decode via javax.imageio's GIF reader: walk the
      * frame sequence and return every frame. None when the payload
      * isn't a decodable GIF (the caller falls back to [[decodeStub]]).
      */
    def decodeGif(payload: Array[Byte]): Option[Seq[BufferedImage]] =
      try {
        val reader = ImageIO.getImageReadersByFormatName("gif").next()
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new ByteArrayInputStream(payload))
        try {
          reader.setInput(iis)
          val n = reader.getNumImages(true)
          if (n <= 0) None
          else Some((0 until n).map(reader.read))
        } finally { iis.close(); reader.dispose() }
      } catch { case _: Throwable => None }

    /** Channel statistics over REAL decoded frames: [[pixelStats]] per
      * frame, combined — mean of all channel values across all frames
      * and the summed 16-bin histogram.
      */
    def frameStats(frames: Seq[BufferedImage]): (Double, Array[Long]) = {
      // raw integer accumulation across frames (NOT mean-per-frame
      // recombination) so the result is a single exact-integer division
      // — the same bit pattern the oracle's closed-form ratio produces
      val hist = new Array[Long](16)
      var sum = 0L
      var pixels = 0L
      frames.foreach { bi =>
        sum += addPixels(bi, hist)
        pixels += bi.getWidth.toLong * bi.getHeight
      }
      (if (pixels == 0) 0.0 else sum.toDouble / (3.0 * pixels), hist)
    }

    /** 64-bit average perceptual hash (aHash) over REAL decoded pixels:
      * nearest-neighbor 8×8 downsample, per-cell gray = the INTEGER
      * channel sum r+g+b (no luma-weight floats), bit i = y·8+x set when
      * 64·gray_i > Σ gray (the "above average" test as an exact integer
      * cross-multiplication — no division anywhere, so any engine that
      * reproduces the pixels reproduces the hash bit-for-bit).
      * Visually identical images hash equal; small edits flip few bits,
      * so Hamming distance on the hash is the near-dup metric.
      */
    def aHash(bi: BufferedImage): Long = {
      val w = bi.getWidth
      val h = bi.getHeight
      val gray = new Array[Long](64)
      var y = 0
      while (y < 8) {
        val py = (y.toLong * h / 8).toInt
        var x = 0
        while (x < 8) {
          val px = (x.toLong * w / 8).toInt
          val rgb = bi.getRGB(px, py)
          gray(y * 8 + x) = ((rgb >> 16) & 0xff).toLong +
            ((rgb >> 8) & 0xff) + (rgb & 0xff)
          x += 1
        }
        y += 1
      }
      val sum = gray.sum
      var hash = 0L
      var i = 0
      while (i < 64) {
        if (64L * gray(i) > sum) hash |= (1L << i)
        i += 1
      }
      hash
    }

    /** [[aHash]] rendered as unsigned 16-hex-digit text — the group key
      * (strings sidestep 64-bit sign pitfalls across engines).
      */
    def aHashHex(bi: BufferedImage): String = f"${aHash(bi)}%016x"

    /** Hamming distance between two aHash values — the near-dup verify
      * for a banded candidate join (SimHash discipline: split the 64
      * bits into 4×16-bit bands; Hamming ≤ 3 pairs must collide on at
      * least one whole band).
      */
    def hammingDist(a: Long, b: Long): Int =
      java.lang.Long.bitCount(a ^ b)

    /** FALLBACK for payloads no JDK codec can decode: derive features
      * from raw payload bytes so the pipeline stays deterministic and
      * testable for codec-less media.
      */
    def decodeStub(payload: Array[Byte]): (Double, Array[Long]) = {
      val hist = new Array[Long](16)
      var sum = 0L
      var i = 0
      while (i < payload.length) {
        val b = payload(i) & 0xff
        hist(b >> 4) += 1
        sum += b
        i += 1
      }
      (if (payload.length == 0) 0.0 else sum.toDouble / payload.length, hist)
    }

    /** Frame sampling offsets: every `stride` bytes — the video-pipeline
      * shape (sample every Nth frame) over an opaque payload.
      */
    def frameOffsets(payloadLen: Int, stride: Int): Array[Int] =
      (0 until payloadLen by stride).toArray

    /** >>> STUB <<< byte-resample kernel for codec-less media:
      * nearest-neighbor byte resample down to `targetBytes` (payloads
      * already at or under budget pass through). Image rows resize for
      * real in [[resizeImages]].
      */
    def resizeStub(payload: Array[Byte], targetBytes: Int): Array[Byte] =
      if (payload.length <= targetBytes) payload
      else Array.tabulate(targetBytes)(i =>
        payload((i.toLong * payload.length / targetBytes).toInt))
  }

  /** Replace image rows' raw bytes with REAL PNG payloads of the
    * deterministic pattern (metadata dimensions updated to the true
    * ones); audio/video rows pass through. Same per-partition batch
    * shape as extraction — no shuffle, no collect.
    */
  def encodeImagePayloads(media: Dataset[MediaRow]): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        if (r.mediaType == "image") {
          val (w, h) = MediaFeatures.patternDims(r.mediaId)
          MediaRow(r.mediaId, r.mediaType, MediaFeatures.encodePng(r.mediaId),
            MediaMeta(w, h, r.meta.durationMs, "png"))
        } else r
      }
    }
  }

  /** Replace audio rows' raw bytes with REAL WAV payloads of the
    * deterministic signal (duration metadata updated to the true signal
    * length); other rows pass through. Same batch shape as
    * [[encodeImagePayloads]].
    */
  def encodeAudioPayloads(media: Dataset[MediaRow]): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        if (r.mediaType == "audio") {
          val n = MediaFeatures.audioSamples(r.mediaId).length
          MediaRow(r.mediaId, r.mediaType, MediaFeatures.encodeWav(r.mediaId),
            MediaMeta(r.meta.width, r.meta.height,
              (n * 1000L) / AudioRateHz.toLong, "wav"))
        } else r
      }
    }
  }

  /** Replace video rows' raw bytes with REAL multi-frame animated-GIF
    * payloads of the deterministic clip (metadata updated to the true
    * frame dimensions and a 25 fps clip duration); other rows pass
    * through. Same batch shape as [[encodeImagePayloads]].
    */
  def encodeVideoPayloads(media: Dataset[MediaRow]): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        if (r.mediaType == "video") {
          val (w, h) = MediaFeatures.videoDims(r.mediaId)
          val k = MediaFeatures.videoFrameCount(r.mediaId)
          MediaRow(r.mediaId, r.mediaType, MediaFeatures.encodeGif(r.mediaId),
            MediaMeta(w, h, k * 40L, "gif"))
        } else r
      }
    }
  }

  /** Per-partition batch feature extraction: one iterator pass per
    * partition (the Scala analogue of a pandas-batch UDF) — partitioning
    * and ordering of the input are preserved, no shuffle, no collect.
    * Image payloads take the REAL `javax.imageio` decode, audio payloads
    * the REAL `javax.sound.sampled` WAV decode (frame offsets stride the
    * DECODED sample array — sample-accurate clip markers); anything the
    * JDK can't decode falls back to the byte stub.
    */
  def extractFeatures(media: Dataset[MediaRow],
                      frameStride: Int = 32): Dataset[MediaFeatureRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        def stubRow = {
          val (mean, hist) = MediaFeatures.decodeStub(r.payload)
          MediaFeatureRow(r.mediaId, r.mediaType, r.payload.length,
            None, None, mean, hist,
            MediaFeatures.frameOffsets(r.payload.length, frameStride))
        }
        r.mediaType match {
          case "image" => MediaFeatures.decodeImage(r.payload) match {
            case Some(bi) =>
              val (mean, hist) = MediaFeatures.pixelStats(bi)
              MediaFeatureRow(r.mediaId, r.mediaType, r.payload.length,
                Some(bi.getWidth), Some(bi.getHeight), mean, hist,
                Array.empty[Int])
            case None => stubRow
          }
          case "audio" => MediaFeatures.decodeWav(r.payload) match {
            case Some((samples, _)) =>
              val (mean, hist) = MediaFeatures.sampleStats(samples)
              MediaFeatureRow(r.mediaId, r.mediaType, r.payload.length,
                None, None, mean, hist,
                MediaFeatures.frameOffsets(samples.length, frameStride))
            case None => stubRow
          }
          case "video" => MediaFeatures.decodeGif(r.payload) match {
            case Some(frames) =>
              val (mean, hist) = MediaFeatures.frameStats(frames)
              // frame offsets here are DECODED frame indices — the
              // sample-every-Nth hook degenerates to every frame for
              // clips this short, and size() downstream is the real
              // decoded frame count
              MediaFeatureRow(r.mediaId, r.mediaType, r.payload.length,
                Some(frames.head.getWidth), Some(frames.head.getHeight),
                mean, hist, Array.tabulate(frames.length)(identity))
            case None => stubRow
          }
          case _ => stubRow
        }
      }
    }
  }

  /** REAL image resize behind the batch seam: decode, deterministic
    * nearest-neighbor downscale so max(width, height) ≤ `maxDim`,
    * re-encode PNG, metadata updated to the true output dimensions.
    * Non-image rows and already-small images pass through untouched
    * (idempotent). Nearest-neighbor (integer source sampling) rather than
    * an interpolating kernel so the output pixels — and therefore any
    * downstream oracle — are exactly reproducible from the input.
    */
  def resizeImages(media: Dataset[MediaRow], maxDim: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val resized =
          if (r.mediaType != "image") None
          else MediaFeatures.decodeImage(r.payload).flatMap { bi =>
            if (bi.getWidth <= maxDim && bi.getHeight <= maxDim) None
            else {
              val f = maxDim.toDouble / math.max(bi.getWidth, bi.getHeight)
              val nw = math.max(1, math.round(bi.getWidth * f).toInt)
              val nh = math.max(1, math.round(bi.getHeight * f).toInt)
              val out = new BufferedImage(nw, nh, BufferedImage.TYPE_INT_RGB)
              var y = 0
              while (y < nh) {
                var x = 0
                while (x < nw) {
                  out.setRGB(x, y,
                    bi.getRGB(x * bi.getWidth / nw, y * bi.getHeight / nh))
                  x += 1
                }
                y += 1
              }
              val baos = new ByteArrayOutputStream()
              ImageIO.write(out, "png", baos)
              Some(MediaRow(r.mediaId, r.mediaType, baos.toByteArray,
                MediaMeta(nw, nh, r.meta.durationMs, r.meta.codec)))
            }
          }
        resized.getOrElse(r)
      }
    }
  }

  /** Per-partition batch byte-budget resize for codec-less media:
    * payloads resampled to at most `targetBytes`, metadata dimensions
    * rescaled by the realized linear factor. Same iterator shape as
    * [[extractFeatures]].
    */
  def resizeMedia(media: Dataset[MediaRow],
                  targetBytes: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val out = MediaFeatures.resizeStub(r.payload, targetBytes)
        val f = math.sqrt(out.length.toDouble / math.max(r.payload.length, 1))
        MediaRow(r.mediaId, r.mediaType, out,
          MediaMeta(math.max(1, math.round(r.meta.width * f).toInt),
            math.max(1, math.round(r.meta.height * f).toInt),
            r.meta.durationMs, r.meta.codec))
      }
    }
  }

  /** One row PER DECODED FRAME of every video payload — the
    * frame-sampling table the contact-sheet / frame-captioning pipelines
    * consume (clip-level stats live in [[mediaFeatures]]): same
    * per-partition batch seam, REAL multi-frame GIF decode, flatMap to
    * (clip, frame) granularity with per-frame pixel statistics.
    * Undecodable payloads contribute no rows (they are the byte-stub's
    * clip-level concern, not frame rows).
    */
  case class FrameRow(mediaId: Long, frameIdx: Int, width: Int,
                      height: Int, frameMean: Double)

  def videoFrameStats(spark: SparkSession, df: DataFrame,
                      idCol: String): DataFrame = {
    import spark.implicits._
    val media = encodeVideoPayloads(synthesizeMedia(df, idCol).as[MediaRow])
      .filter(col("mediaType") === "video").as[MediaRow]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaFeatures.decodeGif(r.payload).toSeq.flatMap { frames =>
          frames.zipWithIndex.map { case (bi, f) =>
            val (mean, _) = MediaFeatures.pixelStats(bi)
            FrameRow(r.mediaId, f, bi.getWidth, bi.getHeight, mean)
          }
        }
      }
    }.toDF()
      .select(col("mediaId"), col("frameIdx"),
        col("width"), col("height"),
        round(col("frameMean"), 6).as("frame_mean"))
      .orderBy("mediaId", "frameIdx")
  }

  /** DataFrame-level entry: synthesize → encode real PNGs + WAVs +
    * multi-frame GIFs → decode → extract, returning a flat feature
    * frame. Image rows carry REAL decoded dimensions and pixel-channel
    * statistics, audio rows REAL decoded sample statistics and
    * sample-strided frame counts, video rows REAL per-frame pixel
    * statistics and the decoded frame COUNT — all recomputed in closed
    * form by the DuckDB oracle from their recipes (a wrong or fake
    * decoder cannot hash-match; the WAV header alone shifts byte-level
    * stats off the sample stats, and a GIF reader that stops at frame 0
    * gets both the mean and n_frames wrong). The encoded payload LENGTH
    * is deliberately not emitted — it is a codec implementation detail,
    * not a cross-engine-derivable quantity.
    */
  def mediaFeatures(spark: SparkSession, df: DataFrame,
                    idCol: String): DataFrame = {
    import spark.implicits._
    val media = encodeVideoPayloads(encodeAudioPayloads(encodeImagePayloads(
      synthesizeMedia(df, idCol).as[MediaRow])))
    extractFeatures(media).toDF()
      .select(col("mediaId"), col("mediaType"), col("width"), col("height"),
        round(col("meanVal"), 6).as("mean_val"),
        concat_ws(",", col("histogram")).as("hist_csv"),
        size(col("frameOffsets")).as("n_frames"))
      .orderBy("mediaId")
  }

  /** Perceptual-hash image dedup groups: REAL PNG decode →
    * [[MediaFeatures.aHash]] per image → one map-side-combined groupBy
    * on the hex hash — images that LOOK the same (identical 8×8
    * above-average structure) collapse to one group with the minimum id
    * surviving, exactly the [[graft.ops.Dedup]] exact-dup shape lifted
    * to the image modality. Only groups with 2+ members are reported
    * (singletons are not dups). The oracle recomputes every hash in
    * closed form from the pattern recipe — a wrong sampler, gray
    * formula, or bit order cannot hash-match.
    *
    * Scale notes: decode and hash are one per-partition iterator pass
    * (no shuffle, no collect); the groupBy ships 16-char keys, never
    * payloads. The near-dup extension is [[MediaFeatures.hammingDist]]
    * over 4×16-bit band buckets (the SimHash candidate discipline) —
    * same plan shape as q_simhash, kept out of this gate so the gated
    * plan stays linear.
    */
  def imageDupGroups(spark: SparkSession, df: DataFrame,
                     idCol: String): DataFrame = {
    import spark.implicits._
    val media = encodeImagePayloads(synthesizeMedia(df, idCol)
      .as[MediaRow]).filter(col("mediaType") === "image").as[MediaRow]
    val hashed = media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaFeatures.decodeImage(r.payload).map { bi =>
          (r.mediaId, MediaFeatures.aHashHex(bi))
        }
      }
    }.toDF("mediaId", "phash")
    hashed.groupBy("phash")
      .agg(count(lit(1)).as("n_images"), min(col("mediaId")).as("keep_id"))
      .filter(col("n_images") >= 2)
      .orderBy("phash")
  }

  /** Square-wave band profile over REAL decoded audio: for each audio
    * clip, the normalized correlation of the decoded 8-bit samples with
    * ±1 square waves of half-period b ∈ {1, 2, 4, 8} samples —
    * c_b = Σ_i s_i·w_b(i) / n with w_b(i) = +1 when ⌊i/b⌋ is even —
    * plus the dominant band (argmax |c_b|, ties to the smallest b).
    * A matched-filter band-energy read (which periodicities dominate
    * the signal?) chosen over a trig DFT deliberately: the kernel is
    * ±1 INTEGER, so every correlation is an exact integer ratio — no
    * cross-engine libm cos drift — while still separating fast/slow
    * oscillation (the audio analogue of the dyadic-lattice rule).
    *
    * Plumbing: same per-partition iterator pass as [[extractFeatures]]
    * (no shuffle, payload decoded once); undecodable payloads are
    * dropped (this is an audio-only profile, not the mixed-type
    * feature table).
    */
  def audioBandProfile(spark: SparkSession, df: DataFrame,
                       idCol: String): DataFrame = {
    import spark.implicits._
    val media = encodeAudioPayloads(
      synthesizeMedia(df, idCol).as[MediaRow])
      .filter(col("mediaType") === "audio").as[MediaRow]
    val bands = Array(1, 2, 4, 8)
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaFeatures.decodeWav(r.payload).map { case (samples, _) =>
          val n = samples.length
          val cs = bands.map { b =>
            var acc = 0L
            var i = 0
            while (i < n) {
              val w = if ((i / b) % 2 == 0) 1 else -1
              acc += samples(i).toLong * w
              i += 1
            }
            acc.toDouble / n
          }
          val dom = bands.indices.minBy(i => (-math.abs(cs(i)), bands(i)))
          (r.mediaId, n.toLong, cs(0), cs(1), cs(2), cs(3),
            bands(dom))
        }
      }
    }.toDF("media_id", "n_samples", "c1", "c2", "c4", "c8",
        "dominant_band")
      .select(col("media_id"), col("n_samples"),
        round(col("c1"), 6).as("c1"), round(col("c2"), 6).as("c2"),
        round(col("c4"), 6).as("c4"), round(col("c8"), 6).as("c8"),
        col("dominant_band"))
      .orderBy("media_id")
  }
}
