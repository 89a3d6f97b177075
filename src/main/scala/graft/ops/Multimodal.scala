package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` columns with
  * typed metadata, each row decoded by a per-row kernel ([[perRow]]).
  *
  * [[decodeImage]] is a REAL image decode via the JDK's `javax.imageio`
  * (PNG/BMP/GIF/JPEG readers ship with every JRE — zero external
  * dependencies): dimensions, band count, format name and an exact
  * pixel-sample sum, with corrupt/undecodable rows SURFACED as
  * status='error' rows rather than killing the job (at 10^12 documents
  * some media bytes are always broken).
  *
  * The exotic-codec seam (video/audio formats the JDK lacks) stays
  * STUBBED: `decodeStub` derives deterministic metadata and a fake
  * feature vector from the bytes. The Spark-side contract — schema,
  * partitioning, null handling — is identical between the two;
  * swapping a real codec in changes only the kernel body.
  */
object Multimodal {

  /** media(media_id BIGINT, media BINARY) -> the rows `kernel` returns
    * for each (id, bytes); the one mapper behind every public decode.
    */
  private def perRow[A: Encoder](spark: SparkSession, media: DataFrame)
      (kernel: (Long, Array[Byte]) => IterableOnce[A]): Dataset[A] = {
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) => kernel(id, bytes) }
  }

  final case class DecodedImage(
      media_id: Long, status: String, format: String,
      width: Int, height: Int, bands: Int, pixel_sum: Long)

  /** Shared ImageIO scaffold for every real decode kernel
    * ([[decodeImageOne]], [[decodeFramesOne]], [[resizeBoxOne]]): a
    * memory-cached input stream (ImageIO's default FileCache would
    * write every image to executor-local tmp files), the first
    * registered reader, guaranteed dispose/close, and the shared error
    * contract — null/empty payloads, no registered reader, or a
    * throwing decode return `onError` instead of propagating (one
    * malformed row must never kill the job).
    */
  private def withImageReader[A](bytes: Array[Byte], onError: => A)
      (f: javax.imageio.ImageReader => A): A = {
    if (bytes == null || bytes.length == 0) return onError
    try {
      val in = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(in)
        if (!readers.hasNext) return onError
        val reader = readers.next()
        try { reader.setInput(in); f(reader) }
        finally reader.dispose()
      } finally in.close()
    } catch {
      case scala.util.control.NonFatal(_) => onError
    }
  }

  /** Sum of every sample over every band — the closed-form-checkable
    * decode statistic shared by the image and frame kernels.
    */
  private def sampleSum(img: java.awt.image.BufferedImage): Long = {
    val raster = img.getRaster
    val bands = raster.getNumBands
    val w = img.getWidth
    val h = img.getHeight
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var b = 0
        while (b < bands) { sum += raster.getSample(x, y, b); b += 1 }
        x += 1
      }
      y += 1
    }
    sum
  }

  /** Decode one image with javax.imageio. Never throws: undecodable
    * bytes come back as a status='error' row (see [[withImageReader]]).
    */
  def decodeImageOne(id: Long, bytes: Array[Byte]): DecodedImage =
    withImageReader(bytes, DecodedImage(id, "error", "", -1, -1, 0, 0L)) { reader =>
      val fmt = reader.getFormatName.toLowerCase(java.util.Locale.ROOT)
      val img = reader.read(0)
      DecodedImage(id, "ok", fmt, img.getWidth, img.getHeight,
        img.getRaster.getNumBands, sampleSum(img))
    }

  /** media(media_id BIGINT, media BINARY) -> real ImageIO decode, one
    * row per media row.
    */
  def decodeImage(spark: SparkSession, media: DataFrame): Dataset[DecodedImage] = {
    import spark.implicits._
    perRow(spark, media)((id, bytes) => Some(decodeImageOne(id, bytes)))
  }

  final case class DecodedFrame(
      media_id: Long, frame_id: Int, status: String,
      width: Int, height: Int, pixel_sum: Long)

  /** REAL multi-frame decode via javax.imageio: one row per frame of a
    * multi-image container (the JDK's TIFF plugin reads/writes true
    * multi-page grayscale losslessly; animated GIFs decode through the
    * same `getNumImages(true)` path). True video codecs, which no JDK
    * library decodes, stay outside it. Undecodable payloads surface as ONE
    * status='error' row (frame_id -1); a container whose HEADER
    * decodes but where an individual frame then fails (e.g. truncated
    * mid-stream) keeps its good frames and reports a per-frame
    * status='error' row for each bad one — partial recovery, never
    * all-or-nothing.
    */
  def decodeFramesOne(id: Long, bytes: Array[Byte]): Seq[DecodedFrame] = {
    val err = Seq(DecodedFrame(id, -1, "error", -1, -1, 0L))
    withImageReader(bytes, err) { reader =>
      val n = reader.getNumImages(true)
      // a reader that reports ZERO images is an undecodable payload
      // too — the error row must surface, not an empty Seq (the
      // media row would silently vanish from the output)
      if (n <= 0) err
      else (0 until n).map { f =>
        // per-frame try: one truncated frame must not discard the
        // frames already decoded from the same container
        try {
          val img = reader.read(f)
          DecodedFrame(id, f, "ok", img.getWidth, img.getHeight, sampleSum(img))
        } catch {
          case scala.util.control.NonFatal(_) =>
            DecodedFrame(id, f, "error", -1, -1, 0L)
        }
      }
    }
  }

  /** media(media_id BIGINT, media BINARY) -> one decoded row per frame. */
  def decodeFrames(spark: SparkSession, media: DataFrame): Dataset[DecodedFrame] = {
    import spark.implicits._
    perRow(spark, media)(decodeFramesOne)
  }

  /** Deterministic multi-page grayscale TIFF "video": frame f pixel
    * (x, y) of clip `seed` is `(seed*31 + f*19 + x*7 + y*13) mod 256`,
    * written page-by-page with the JDK's TIFF sequence writer
    * (TYPE_BYTE_GRAY is true 8-bit grayscale — no palette, so the
    * decode reads the exact samples back; a GIF animation would pass
    * through palette quantization and lose them).
    */
  def syntheticTiffFrames(seed: Long, w: Int, h: Int, nFrames: Int): Array[Byte] = {
    require(w > 0 && h > 0 && nFrames > 0, "dims and frame count must be positive")
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val param = writer.getDefaultWriteParam
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0,
              ((seed * 31 + f * 19 + x * 7 + y * 13) % 256).toInt)
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), param)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      ios.close()
      writer.dispose()
    }
    bos.toByteArray
  }

  final case class DecodedAudio(
      media_id: Long, status: String, sample_rate: Int, channels: Int,
      bits: Int, frames: Long, sample_sum: Long)

  /** Decode one audio blob with the JDK's `javax.sound.sampled` (WAV/
    * AIFF/AU readers ship with every JRE). Returns the format header
    * fields plus an exact sum of the 8-bit PCM samples; undecodable
    * bytes surface as a status='error' row, like [[decodeImageOne]].
    * Sample summing currently reads 8-bit unsigned PCM (the synthetic
    * fixture format); other encodings still decode their header fields
    * and report sample_sum = -1 rather than a wrong number.
    */
  def decodeAudioOne(id: Long, bytes: Array[Byte]): DecodedAudio = {
    val err = DecodedAudio(id, "error", -1, 0, 0, -1L, -1L)
    if (bytes == null || bytes.length == 0) return err
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        val frames = ais.getFrameLength
        val sum: Long =
          if (fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1 &&
              fmt.getEncoding ==
                javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED) {
            var s = 0L
            val buf = new Array[Byte](8192)
            var n = ais.read(buf)
            while (n > 0) {
              var i = 0
              while (i < n) { s += (buf(i) & 0xff); i += 1 }
              n = ais.read(buf)
            }
            s
          } else -1L
        DecodedAudio(id, "ok", fmt.getSampleRate.toInt, fmt.getChannels,
          fmt.getSampleSizeInBits, frames, sum)
      } finally ais.close()
    } catch {
      case scala.util.control.NonFatal(_) => err
    }
  }

  /** media(media_id BIGINT, media BINARY) -> real audio decode, one
    * row per media row.
    */
  def decodeAudio(spark: SparkSession, media: DataFrame): Dataset[DecodedAudio] = {
    import spark.implicits._
    perRow(spark, media)((id, bytes) => Some(decodeAudioOne(id, bytes)))
  }

  /** Deterministic 8 kHz 8-bit unsigned PCM mono WAV: sample i of clip
    * `seed` is `(seed*31 + i*7) mod 256`, framed by the JDK's own WAVE
    * writer (lossless PCM — a decode reads the exact samples back).
    */
  def syntheticWav(seed: Long, nSamples: Int): Array[Byte] = {
    require(nSamples > 0, "samples must be positive")
    val sampleRate = 8000f
    val samples = new Array[Byte](nSamples)
    var i = 0
    while (i < nSamples) {
      samples(i) = ((seed * 31 + i * 7) % 256).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
      sampleRate, 8, 1, 1, sampleRate, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(samples), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    try javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    finally ais.close()
    bos.toByteArray
  }

  /** Deterministic grayscale test image: pixel (x, y) of image `seed`
    * is `(seed*31 + x*7 + y*13) mod 256`, encoded with the JDK's own
    * writer for `format` ("png" or "bmp" — both lossless, so a decode
    * reads the exact samples back and the pixel sum is closed-form).
    */
  def syntheticImage(seed: Long, w: Int, h: Int,
      format: String = "png"): Array[Byte] = {
    require(w > 0 && h > 0, "image dims must be positive")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, ((seed * 31 + x * 7 + y * 13) % 256).toInt)
        x += 1
      }
      y += 1
    }
    // encode through an explicit MemoryCacheImageOutputStream (same as
    // the TIFF writer scaffold): ImageIO.write(img, fmt, OutputStream)
    // wraps the stream in a FileCacheImageOutputStream by default —
    // one disk-backed temp file PER ENCODE, i.e. per-row synchronous
    // file I/O on the generator path of every mm_* query (r8 measured).
    val writers = javax.imageio.ImageIO.getImageWritersByFormatName(format)
    require(writers.hasNext, s"no JDK ImageIO writer for format '$format'")
    val writer = writers.next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(img)
      ios.flush()
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  final case class Decoded(
      media_id: Long, width: Int, height: Int, channels: Int,
      format: String, feature: Array[Float])

  /** Deterministic stand-in for an image decode: metadata from byte
    * length, features from byte averages over `channels` strides; a
    * null payload decodes as an empty one. Marked clearly as the stub
    * seam.
    */
  def decodeStub(mediaId: Long, bytes: Array[Byte]): Decoded = {
    val len = if (bytes == null) 0 else bytes.length
    val width = len % 97
    val height = (len * 7) % 89
    val channels = 3
    val feature = new Array[Float](channels)
    var i = 0
    while (i < len) {
      feature(i % channels) += (bytes(i) & 0xff)
      i += 1
    }
    var c = 0
    while (c < channels) {
      feature(c) = if (len == 0) 0f else feature(c) / len
      c += 1
    }
    Decoded(mediaId, width, height, channels, "stub", feature)
  }

  /** media(media_id BIGINT, media BINARY) -> decoded metadata+features,
    * one row per media row.
    */
  def decode(spark: SparkSession, media: DataFrame): Dataset[Decoded] = {
    import spark.implicits._
    perRow(spark, media)((id, bytes) => Some(decodeStub(id, bytes)))
  }

  final case class ResizedImage(media_id: Long, status: String,
      width: Int, height: Int, pixel_sum: Long)

  /** REAL integer-factor box-filter (area-average) downsample of one
    * JDK-decodable image: output sample (X, Y, band) = floor(mean of
    * its fx*fy source block); trailing rows/columns that don't fill a
    * whole block are dropped, so output dims = (w/fx, h/fy) in integer
    * division. `pixel_sum` totals the resampled samples over all bands
    * — closed-form for the synthetic gradient images, which is what
    * lets `mm_resize_real` oracle the decode->resample path exactly.
    * Same error contract as [[decodeImageOne]]: undecodable bytes come
    * back as one status='error' row, never an exception.
    */
  def resizeBoxOne(id: Long, bytes: Array[Byte], fx: Int, fy: Int): ResizedImage =
    withImageReader(bytes, ResizedImage(id, "error", -1, -1, 0L)) { reader =>
      val img = reader.read(0)
      val raster = img.getRaster
      val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
      val outW = w / fx
      val outH = h / fy
      val area = fx.toLong * fy
      var sum = 0L
      var b = 0
      while (b < bands) {
        var oy = 0
        while (oy < outH) {
          var ox = 0
          while (ox < outW) {
            var block = 0L
            var dy = 0
            while (dy < fy) {
              var dx = 0
              while (dx < fx) {
                block += raster.getSample(ox * fx + dx, oy * fy + dy, b)
                dx += 1
              }
              dy += 1
            }
            sum += block / area
            ox += 1
          }
          oy += 1
        }
        b += 1
      }
      ResizedImage(id, "ok", outW, outH, sum)
    }

  /** media(media_id BIGINT, media BINARY) -> real box-filter resample,
    * one row per media row.
    */
  def resizeImage(spark: SparkSession, media: DataFrame,
      fx: Int, fy: Int): Dataset[ResizedImage] = {
    import spark.implicits._
    require(fx > 0 && fy > 0, "box factors must be positive")
    perRow(spark, media)((id, bytes) => Some(resizeBoxOne(id, bytes, fx, fy)))
  }
}
