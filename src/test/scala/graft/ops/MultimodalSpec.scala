package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Real javax.imageio decode path: lossless PNG/BMP roundtrips with
  * closed-form pixel sums, error surfacing for corrupt/empty payloads,
  * and the distributed decodeImage kernel over a mixed media frame.
  */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Closed-form sum of ((seed*31 + 7x + 13y) mod 256) over the image. */
  private def expectedSum(seed: Long, w: Int, h: Int): Long = {
    var s = 0L
    for (y <- 0 until h; x <- 0 until w)
      s += (seed * 31 + x * 7 + y * 13) % 256
    s
  }

  test("PNG roundtrip: dimensions, bands, format, exact pixel sum") {
    val bytes = Multimodal.syntheticImage(seed = 42L, w = 5, h = 4, "png")
    val d = Multimodal.decodeImageOne(7L, bytes)
    assert(d.status == "ok")
    assert(d.format == "png")
    assert((d.width, d.height, d.bands) == ((5, 4, 1)))
    assert(d.pixel_sum == expectedSum(42L, 5, 4))
  }

  test("BMP roundtrip: a second lossless JDK codec decodes exactly") {
    val bytes = Multimodal.syntheticImage(seed = 9L, w = 8, h = 3, "bmp")
    val d = Multimodal.decodeImageOne(1L, bytes)
    assert(d.status == "ok")
    assert(d.format == "bmp")
    assert((d.width, d.height, d.bands) == ((8, 3, 1)))
    assert(d.pixel_sum == expectedSum(9L, 8, 3))
  }

  test("corrupt, truncated, and empty payloads surface as error rows") {
    // not an image at all
    assert(Multimodal.decodeImageOne(1L, "not an image".getBytes).status == "error")
    // a real PNG truncated mid-stream: reader registered, read(0) fails
    val png = Multimodal.syntheticImage(3L, 6, 6, "png")
    assert(Multimodal.decodeImageOne(2L, png.take(20)).status == "error")
    // empty / null payloads
    assert(Multimodal.decodeImageOne(3L, Array.emptyByteArray).status == "error")
    assert(Multimodal.decodeImageOne(4L, null).status == "error")
  }

  /** Closed-form frame sum of ((seed*31 + 19f + 7x + 13y) mod 256). */
  private def expectedFrameSum(seed: Long, f: Int, w: Int, h: Int): Long = {
    var s = 0L
    for (y <- 0 until h; x <- 0 until w)
      s += (seed * 31 + f * 19 + x * 7 + y * 13) % 256
    s
  }

  test("multi-page TIFF roundtrip: one exact row per frame") {
    val bytes = Multimodal.syntheticTiffFrames(seed = 5L, w = 6, h = 3, nFrames = 4)
    val frames = Multimodal.decodeFramesOne(9L, bytes)
    assert(frames.length == 4)
    frames.zipWithIndex.foreach { case (fr, i) =>
      assert(fr.status == "ok" && fr.frame_id == i)
      assert((fr.width, fr.height) == ((6, 3)))
      assert(fr.pixel_sum == expectedFrameSum(5L, i, 6, 3), s"frame $i")
    }
  }

  test("truncated container keeps its good frames, bad frames error per-frame") {
    // chop the 4-frame TIFF mid-stream: the directory still announces
    // frames whose strip data is gone. Earlier frames must survive
    // with exact sums; each unreadable frame gets its OWN error row —
    // partial recovery, not the old all-or-nothing replacement.
    val full = Multimodal.syntheticTiffFrames(seed = 5L, w = 6, h = 3, nFrames = 4)
    val cutpoints = Seq(full.length * 3 / 4, full.length / 2)
    val recovered = cutpoints.map { cut =>
      val frames = Multimodal.decodeFramesOne(9L, full.take(cut))
      // whatever decodes must be exact; whatever doesn't must surface
      frames.foreach { fr =>
        if (fr.status == "ok")
          assert(fr.pixel_sum == expectedFrameSum(5L, fr.frame_id, 6, 3))
        else assert((fr.width, fr.height, fr.pixel_sum) == ((-1, -1, 0L)))
      }
      frames.count(_.status == "ok")
    }
    // at the milder cut at least one frame must actually survive —
    // otherwise this test degenerates to the all-or-nothing behavior
    // it is meant to rule out
    assert(recovered.head >= 1,
      s"no frames recovered from a 3/4-length container: $recovered")
  }

  test("single-frame containers decode as one frame; corrupt as error row") {
    val png = Multimodal.syntheticImage(7L, 4, 4, "png")
    val one = Multimodal.decodeFramesOne(1L, png)
    assert(one.length == 1 && one.head.status == "ok" && one.head.frame_id == 0)
    val bad = Multimodal.decodeFramesOne(2L, "junk".getBytes)
    assert(bad == Seq(Multimodal.DecodedFrame(2L, -1, "error", -1, -1, 0L)))
    assert(Multimodal.decodeFramesOne(3L, null).head.status == "error")
  }

  /** Closed-form sum of ((seed*31 + 7i) mod 256) over n samples. */
  private def expectedWavSum(seed: Long, n: Int): Long = {
    var s = 0L
    for (i <- 0 until n) s += (seed * 31 + i * 7) % 256
    s
  }

  test("WAV roundtrip: header fields + exact 8-bit PCM sample sum") {
    val bytes = Multimodal.syntheticWav(seed = 11L, nSamples = 123)
    val d = Multimodal.decodeAudioOne(5L, bytes)
    assert(d.status == "ok")
    assert((d.sample_rate, d.channels, d.bits, d.frames) == ((8000, 1, 8, 123L)))
    assert(d.sample_sum == expectedWavSum(11L, 123))
  }

  test("non-8-bit-PCM audio decodes its header but reports sample_sum = -1") {
    // 16-bit signed PCM: the summing kernel must refuse rather than
    // produce a wrong number
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val raw = new Array[Byte](64)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, 32L)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val d = Multimodal.decodeAudioOne(6L, bos.toByteArray)
    assert(d.status == "ok")
    assert((d.bits, d.frames, d.sample_sum) == ((16, 32L, -1L)))
  }

  test("corrupt and empty audio payloads surface as error rows") {
    assert(Multimodal.decodeAudioOne(1L, "not audio".getBytes).status == "error")
    assert(Multimodal.decodeAudioOne(2L, Array.emptyByteArray).status == "error")
    assert(Multimodal.decodeAudioOne(3L, null).status == "error")
  }

  test("decodeAudio kernel: mixed good/broken media, one row each") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.syntheticWav(1L, 80)),
      (2L, Multimodal.syntheticWav(2L, 200)),
      (3L, "garbage".getBytes))
    val out = Multimodal.decodeAudio(spark, rows.toDF("media_id", "media")
        .repartition(2))
      .collect().map(d => d.media_id -> d).toMap
    assert(out.size == 3)
    assert(out(1L).status == "ok" && out(1L).sample_sum == expectedWavSum(1L, 80))
    assert(out(2L).status == "ok" && out(2L).frames == 200L)
    assert(out(3L).status == "error")
  }

  test("decodeImage kernel: mixed good/broken media, one row each") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.syntheticImage(1L, 4, 4, "png")),
      (2L, Multimodal.syntheticImage(2L, 3, 7, "bmp")),
      (3L, "garbage".getBytes),
      (4L, Array.emptyByteArray))
    val media = rows.toDF("media_id", "media").repartition(3)
    val out = Multimodal.decodeImage(spark, media)
      .collect().map(d => d.media_id -> d).toMap
    assert(out.size == 4)
    assert(out(1L).status == "ok" && out(1L).format == "png" &&
      out(1L).pixel_sum == expectedSum(1L, 4, 4))
    assert(out(2L).status == "ok" && out(2L).format == "bmp" &&
      out(2L).pixel_sum == expectedSum(2L, 3, 7))
    assert(out(3L).status == "error" && out(4L).status == "error")
  }
}
