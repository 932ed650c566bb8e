package graft.multimodal

import graft.SparkSuite

/** Multimodal decode + plumbing: real ImageIO / javax.sound round
  * trips against the synthesis formulas, undecodable payloads, and the
  * shuffle-free frame-sample shape. */
class MultimodalSpec extends SparkSuite {
  import Multimodal._

  test("PNG round trip: decode reproduces the synthesis formulas exactly") {
    val s = spark
    import s.implicits._
    val ids = Seq(0L, 1L, 7L, 42L, 123L, 9999L)
    val media = ids.map(id => MediaRow(id, MediaSynth.synthPng(id), "image/png")).toDS()
    val got = decodeImages(media).collect().map(d => d.id -> d).toMap
    assert(got.keySet == ids.toSet, "every valid PNG must decode")
    ids.foreach { id =>
      val d = got(id)
      val w = (8 + 2 * (id % 13)).toInt
      val a = ((id * 31) % 256).toDouble
      val b = ((id * 57) % 256).toDouble
      assert(d.width == w && d.height == (8 + (id * 7) % 25).toInt)
      // PNG is lossless and the tones are r=g=b, so means are EXACT
      assert(d.mean_r == (a + b) / 2 && d.mean_g == d.mean_r && d.mean_b == d.mean_r)
      // spatial placement: the column profile is a left, then b
      assert(d.col_luma.take(w / 2).forall(_ == a))
      assert(d.col_luma.drop(w / 2).forall(_ == b))
    }
  }

  test("cached-provider audio open matches the AudioSystem path " +
    "(r20 SPI hoist: same format, same frames, same rejections)") {
    // decodeAudio now opens streams through a per-JVM cached provider
    // list instead of AudioSystem's per-call synchronized registry
    // walk; the two paths must agree on accept AND reject.
    val wav = MediaSynth.synthWav(42L)
    val viaSystem = javax.sound.sampled.AudioSystem
      .getAudioInputStream(new java.io.ByteArrayInputStream(wav))
    val d = decodeAudio(42L, wav)
    assert(d.isDefined, "cached providers must accept a WAV payload")
    assert(d.get.sample_rate == viaSystem.getFormat.getSampleRate.toInt)
    assert(d.get.channels == viaSystem.getFormat.getChannels)
    assert(d.get.n_samples == viaSystem.getFrameLength)
    viaSystem.close()
    // rejection parity: junk bytes are UnsupportedAudioFile on both
    assert(decodeAudio(1L, Array[Byte](9, 9, 9, 9, 9, 9, 9, 9)).isEmpty)
    assert(decodeAudio(1L, Array.emptyByteArray).isEmpty)
  }

  test("a rejecting reader that mark()s mid-stream does not corrupt " +
    "the next candidate's input") {
    import javax.sound.sampled.UnsupportedAudioFileException
    // Reads the 12-byte RIFF/WAVE preamble, marks there, then rejects:
    // a shared stream reset() after it would resume at byte 12.
    val marksThenRejects = new javax.sound.sampled.spi.AudioFileReader {
      private def reject(in: java.io.InputStream): Nothing = {
        in.readNBytes(12)
        in.mark(Int.MaxValue)
        throw new UnsupportedAudioFileException("fake reader rejects")
      }
      def getAudioFileFormat(in: java.io.InputStream) = reject(in)
      def getAudioFileFormat(u: java.net.URL) = throw new UnsupportedAudioFileException()
      def getAudioFileFormat(f: java.io.File) = throw new UnsupportedAudioFileException()
      def getAudioInputStream(in: java.io.InputStream) = reject(in)
      def getAudioInputStream(u: java.net.URL) = throw new UnsupportedAudioFileException()
      def getAudioInputStream(f: java.io.File) = throw new UnsupportedAudioFileException()
    }
    val wav = MediaSynth.synthWav(42L)
    val ais = openAudioStream(wav, marksThenRejects +: audioFileReaders)
    try {
      assert(ais.getFormat.getSampleRate == 8000f)
      assert(ais.getFrameLength == 160 + 42)
    } finally ais.close()
  }

  test("WAV round trip: header fields and amplitude stats are exact") {
    val s = spark
    import s.implicits._
    val ids = Seq(0L, 3L, 55L, 777L)
    val media = ids.map(id => MediaRow(id, MediaSynth.synthWav(id), "audio/wav")).toDS()
    val got = decodeAudios(media).collect().map(d => d.id -> d).toMap
    ids.foreach { id =>
      val d = got(id)
      val amp = (1000 + (id % 1000) * 10).toDouble
      assert(d.sample_rate == 8000 && d.channels == 1)
      assert(d.n_samples == 160 + id % 100)
      assert(d.mean_abs == amp && d.peak_abs == amp.toLong)
    }
  }

  test("undecodable payloads are dropped by decodeImages") {
    val s = spark
    import s.implicits._
    val media = Seq(
      MediaRow(1L, MediaSynth.synthPng(1L), "image/png"),
      MediaRow(2L, "not an image at all".getBytes, "image/png"),
      MediaRow(3L, Array[Byte](0, 1, 2, 3, 4, 5), "audio/wav"),
      MediaRow(4L, Array.emptyByteArray, "video/mp4")
    ).toDS()
    assert(decodeImages(media).collect().map(_.id).toSeq == Seq(1L))
  }

  test("frameSample windows the payload without a shuffle") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a" * 1000), (2L, "b" * 100), (3L, ""))
      .toDF("id", "txt")
      .selectExpr("id", "CAST(txt AS BINARY) AS media")
    val out = Multimodal.frameSample(df, "media", frameLen = 256, stride = 256)
      .select("id", "n_frames").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(1L) == 4) // 1000 bytes → 4 windows of ≤256
    assert(out(2L) == 1)
    assert(out(3L) == 1) // empty payload still yields one (empty) frame
    // no exchange in the plan: it's a per-row expression
    val plan = Multimodal.frameSample(df, "media", 256, 256)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }
}
