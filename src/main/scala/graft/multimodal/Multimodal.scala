package graft.multimodal

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column processing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus the decode / resize / frame-sample
  * stages a training pipeline hangs off them.
  *
  * Decodes are REAL, via codecs the JVM ships: `javax.imageio`
  * (PNG/JPEG/BMP/GIF) for images and `javax.sound.sampled` (WAV/PCM,
  * AIFF, AU) for audio — no external dependency. A payload no JDK codec
  * reads (video containers, MP3/FLAC, corrupt bytes) yields no decoded
  * row. All stages are one `mapPartitions` pass, batch-shaped like an
  * Arrow UDF (iterator in, iterator out — constant memory, no driver
  * collect, embarrassingly parallel: at 100 TB this scales with
  * partition count and shuffles nothing).
  */
object Multimodal {

  /** One media asset: payload + typed metadata. */
  final case class MediaRow(id: Long, media: Array[Byte], mime: String)

  /** A decoded raster image: dimensions, channel means, and the
    * per-column luminance profile (mean of (r+g+b)/3 down each pixel
    * column) — a compact, alignment-sensitive feature vector. */
  final case class DecodedImage(
      id: Long, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double,
      col_luma: Array[Double])

  /** Decoded PCM audio: format header fields plus amplitude stats over
    * the first channel. */
  final case class DecodedAudio(
      id: Long, sample_rate: Int, channels: Int, n_samples: Long,
      mean_abs: Double, peak_abs: Long)

  // ImageIO's default path spills decode scratch to disk files; media
  // payloads here are in-memory byte arrays, so keep scratch on-heap.
  ImageIO.setUseCache(false)

  /** Decode one image payload; None when no installed reader claims the
    * bytes (wrong magic, truncated stream, unsupported format). */
  def decodeImage(id: Long, bytes: Array[Byte]): Option[DecodedImage] = {
    val img =
      try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }
    img.map { bi =>
      val w = bi.getWidth; val h = bi.getHeight
      var sr = 0.0; var sg = 0.0; var sb = 0.0
      val colLuma = new Array[Double](w)
      var x = 0
      while (x < w) {
        var col = 0.0
        var y = 0
        while (y < h) {
          val rgb = bi.getRGB(x, y)
          val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
          sr += r; sg += g; sb += b
          col += (r + g + b) / 3.0
          y += 1
        }
        colLuma(x) = col / h
        x += 1
      }
      val n = w.toDouble * h
      DecodedImage(id, w, h, sr / n, sg / n, sb / n, colLuma)
    }
  }

  /** Audio SPI providers, resolved ONCE per JVM.
    *
    * `AudioSystem.getAudioInputStream` re-runs the provider lookup on
    * EVERY call through a JVM-global synchronized service registry —
    * measured (r19 ABAB) to contend so badly across 32 concurrent
    * decode tasks that spreading the audio gate ran 3.5× WORSE than a
    * single serial task. Caching the resolved readers removes both the
    * global lock and the per-call ServiceLoader walk from the per-row
    * path (guide §4.5: initialise heavyweight state once, not per
    * row), which is what makes the decode parallelizable at all. The
    * readers themselves are stateless (all per-call state is local),
    * so sharing instances across tasks is safe. */
  private[multimodal] lazy val audioFileReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) buf += it.next()
    buf.toSeq
  }

  /** Open an audio stream over `bytes` via the cached providers —
    * same first-accepting-reader semantics as
    * `AudioSystem.getAudioInputStream` (readers reject foreign formats
    * with UnsupportedAudioFileException; other errors propagate). Falls
    * back to the AudioSystem path only when the ServiceLoader saw no
    * providers at all (an exotic platform). Each candidate reads its
    * own stream: a rejecting reader may have `mark()`ed mid-stream, so
    * `reset()` on a shared one would hand the next reader a truncated
    * payload. */
  private[multimodal] def openAudioStream(bytes: Array[Byte],
      readers: Seq[javax.sound.sampled.spi.AudioFileReader] = audioFileReaders)
      : AudioInputStream = {
    val hit = readers.iterator.flatMap { r =>
      try Some(r.getAudioInputStream(new ByteArrayInputStream(bytes)))
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => None
      }
    }.take(1).toSeq.headOption
    hit.getOrElse {
      if (readers.isEmpty)
        AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      else throw new javax.sound.sampled.UnsupportedAudioFileException(
        "no cached provider accepts the payload")
    }
  }

  /** Decode one audio payload (any format `javax.sound` has a provider
    * for — WAV/PCM, AIFF, AU); None when unreadable. Amplitude stats
    * are over channel 0 of 16-bit signed PCM frames. */
  def decodeAudio(id: Long, bytes: Array[Byte]): Option[DecodedAudio] =
    try {
      val ais = openAudioStream(bytes)
      try {
        val fmt = ais.getFormat
        if (fmt.getSampleSizeInBits != 16) None
        else {
          val frameBytes = fmt.getFrameSize
          val buf = ais.readAllBytes()
          val n = buf.length / frameBytes
          var sumAbs = 0.0; var peak = 0L
          var i = 0
          while (i < n) {
            val off = i * frameBytes // channel 0 is first in the frame
            val s =
              if (fmt.isBigEndian) ((buf(off) << 8) | (buf(off + 1) & 0xff)).toShort
              else ((buf(off + 1) << 8) | (buf(off) & 0xff)).toShort
            val a = math.abs(s.toLong)
            sumAbs += a
            if (a > peak) peak = a
            i += 1
          }
          Some(DecodedAudio(id, fmt.getSampleRate.toInt, fmt.getChannels, n,
            if (n == 0) 0.0 else sumAbs / n, peak))
        }
      } finally ais.close()
    } catch { case _: Exception => None }

  /** Image decode over the media column: one `mapPartitions` pass;
    * undecodable payloads are dropped. */
  def decodeImages(media: Dataset[MediaRow]): Dataset[DecodedImage] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(r => decodeImage(r.id, r.media)))
  }

  /** Audio decode over the media column — same shape as
    * [[decodeImages]]. */
  def decodeAudios(media: Dataset[MediaRow]): Dataset[DecodedAudio] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(r => decodeAudio(r.id, r.media)))
  }

  /** Decode + nearest-neighbor resize to a fixed target grid in the
    * SAME `mapPartitions` pass (the normalize-resolution stage of an
    * image training pipeline — batch it with the decode, never
    * materialize full-resolution pixels into a shuffle). Source pixel
    * for output (x, y) is (⌊x·w/outW⌋, ⌊y·h/outH⌋) — integer floor
    * mapping, chosen over an AA/interpolating `Graphics2D` scale
    * because it is exactly restatable by an oracle (and deterministic
    * across JVMs, which AA filtering is not guaranteed to be).
    * Output is the resized per-column luminance profile, the same
    * alignment-sensitive shape [[DecodedImage]] carries. */
  final case class ResizedImage(
      id: Long, width: Int, height: Int, col_luma: Array[Double])

  def decodeResizeImages(media: Dataset[MediaRow],
      outW: Int, outH: Int): Dataset[ResizedImage] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      try {
        val img = ImageIO.read(new ByteArrayInputStream(r.media))
        if (img == null) None
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          val cols = new Array[Double](outW)
          var x = 0
          while (x < outW) {
            val sx = (x.toLong * w / outW).toInt
            var sum = 0.0
            var y = 0
            while (y < outH) {
              val sy = (y.toLong * h / outH).toInt
              val rgb = img.getRGB(sx, sy)
              sum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3.0
              y += 1
            }
            cols(x) = sum / outH
            x += 1
          }
          Some(ResizedImage(r.id, outW, outH, cols))
        }
      } catch { case _: Exception => None }
    })
  }

  /** Frame sampling as a pure expression: split the payload into
    * fixed-size byte windows every `stride` bytes (the binary analogue
    * of video frame extraction). No UDF, no shuffle. */
  def frameSample(df: DataFrame, mediaCol: String, frameLen: Int,
                  stride: Int): DataFrame = {
    val nFrames = ceil(octet_length(col(mediaCol)).cast("double") / stride).cast("int")
    df.withColumn("frames",
      transform(sequence(lit(0), greatest(nFrames - 1, lit(0))),
        i => col(mediaCol).substr(lit(1) + i * stride, lit(frameLen))))
      .withColumn("n_frames", size(col("frames")))
  }
}

/** Deterministic media synthesis — the fixture generator for gating the
  * real decodes against a closed-form oracle: every pixel/sample is an
  * integer function of the id, so DuckDB can restate the decoded
  * dimensions and means without any codec. PNG and 16-bit PCM WAV are
  * both lossless, so the decode must reproduce the formulas EXACTLY. */
object MediaSynth {

  /** Two-tone PNG: even width `8 + 2*(id%13)`, height `8 + (id*7)%25`;
    * left half solid gray `(id*31)%256`, right half `(id*57)%256`.
    * Left/right means then equal the two grays, which also pins pixel
    * PLACEMENT (a decoder that transposed or mirrored would swap
    * them). */
  def synthPng(id: Long): Array[Byte] = {
    val w = (8 + 2 * (id % 13)).toInt
    val h = (8 + (id * 7) % 25).toInt
    val a = ((id * 31) % 256).toInt
    val b = ((id * 57) % 256).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = if (x < w / 2) a else b
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Alternating-sign square wave as mono 16-bit PCM WAV at 8 kHz:
    * `160 + id%100` samples of amplitude `1000 + (id%1000)*10` — so
    * mean |sample| and peak both equal the amplitude exactly. */
  def synthWav(id: Long): Array[Byte] = {
    val n = (160 + id % 100).toInt
    val amp = (1000 + (id % 1000) * 10).toInt
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = if (i % 2 == 0) amp else -amp
      data(2 * i) = (s & 0xff).toByte // little-endian
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(data), fmt, n.toLong)
    val bos = new ByteArrayOutputStream()
    // Write through the per-JVM cached WAVE writer, not
    // `AudioSystem.write`: the AudioSystem entry point re-walks the
    // JVM-global synchronized AudioFileWriter service registry on
    // EVERY call — the same per-row lock convoy the decode side's
    // provider hoist removed (r20 ABAB: with only the READ side
    // hoisted, the spread audio gate still ran ~2× worse than serial;
    // this was the remaining global walk on the row path). Identical
    // bytes: AudioSystem.write just dispatches to the first writer
    // supporting the type.
    wavWriter match {
      case Some(w) => w.write(ais, AudioFileFormat.Type.WAVE, bos)
      case None    => AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    }
    bos.toByteArray
  }

  /** WAVE `AudioFileWriter` SPI, resolved once per JVM (see
    * [[synthWav]]); None only on an exotic platform with no WAVE
    * writer, where the AudioSystem path is the (slow) fallback. */
  private lazy val wavWriter: Option[javax.sound.sampled.spi.AudioFileWriter] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
    var found: Option[javax.sound.sampled.spi.AudioFileWriter] = None
    while (found.isEmpty && it.hasNext) {
      val w = it.next()
      if (w.isFileTypeSupported(AudioFileFormat.Type.WAVE)) found = Some(w)
    }
    found
  }
}
