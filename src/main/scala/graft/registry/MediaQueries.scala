package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables.table

/** Multimodal registry queries (`graft.ops.Multimodal`): binary media
  * generated per document, decoded back, every column closed-form.
  */
object MediaQueries {

  /** One generated medium per document, `gen(doc_id, text length)`,
    * over the spread documents scan (the ImageIO decoders gain from the
    * fan-out; see `mm_audio_real` for the one that does not).
    */
  private def media(s: SparkSession, dir: String)(
      gen: (Long, Int) => Array[Byte]): DataFrame = {
    import s.implicits._
    graft.spark.Scans.spread(table(s, dir, "documents")
      .select(col("doc_id"), length(col("text")).as("len")), col("doc_id"))
      .as[(Long, Int)]
      .map { case (id, len) => (id, gen(id, len)) }
      .toDF("media_id", "media")
  }

  val queries: Seq[Query] = Seq(
    // Multimodal: binary media column + stubbed decode kernel; metadata
    // arithmetic is oracle-checkable from the text length.
    Query("mm_decode", (s, dir) => {
      val media = table(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("media"))
      graft.ops.Multimodal.decode(s, media).toDF()
        .select(col("media_id").as("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
        .orderBy("doc_id")
    }, """SELECT doc_id,
        |CAST(LENGTH(text) % 97 AS BIGINT) AS width,
        |CAST((LENGTH(text) * 7) % 89 AS BIGINT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Multimodal REAL decode oracled end-to-end: deterministic grayscale
    // PNGs are generated per document (pixel (x,y) = (doc_id*31 + x*7 +
    // y*13) mod 256, dims from doc_id/text length), encoded with the
    // JDK's PNG writer, then decoded back through the javax.imageio
    // reader path — width/height/band-count/pixel-sum are all
    // closed-form from the generator parameters, so DuckDB reproduces
    // every column without any image library. PNG is lossless: the
    // decoded samples are the written samples exactly.
    Query("mm_decode_real", (s, dir) => {
      val images = media(s, dir) { (id, len) =>
        graft.ops.Multimodal.syntheticImage(id, 3 + (id % 13).toInt,
          2 + len % 11, "png")
      }
      graft.ops.Multimodal.decodeImage(s, images).toDF()
        .select(col("media_id").as("doc_id"), col("status"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("bands").cast("long").as("bands"), col("pixel_sum"))
        .orderBy("doc_id")
    }, """WITH d AS (
        |  SELECT doc_id, 3 + doc_id % 13 AS w, 2 + LENGTH(text) % 11 AS h
        |  FROM documents)
        |SELECT doc_id, 'ok' AS status, 'png' AS format,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(1 AS BIGINT) AS bands,
        |  CAST(list_sum(flatten(list_transform(range(0, h), y ->
        |    list_transform(range(0, w), x ->
        |      (doc_id*31 + x*7 + y*13) % 256)))) AS BIGINT) AS pixel_sum
        |FROM d ORDER BY doc_id""".stripMargin),

    // Multimodal REAL resample oracled end-to-end: deterministic
    // grayscale PNGs decoded then box-filtered 2x2 (output sample =
    // floor(mean of its block), partial blocks dropped) — output dims
    // and the resampled pixel sum are closed-form from the generator
    // parameters, so DuckDB reproduces the full decode->area-average
    // path without any image library.
    Query("mm_resize_real", (s, dir) => {
      val images = media(s, dir) { (id, len) =>
        graft.ops.Multimodal.syntheticImage(id, 6 + (id % 7).toInt,
          6 + len % 5, "png")
      }
      graft.ops.Multimodal.resizeImage(s, images, fx = 2, fy = 2).toDF()
        .select(col("media_id").as("doc_id"), col("status"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("pixel_sum"))
        .orderBy("doc_id")
    }, """WITH d AS (
        |  SELECT doc_id, 6 + doc_id % 7 AS w, 6 + LENGTH(text) % 5 AS h
        |  FROM documents)
        |SELECT doc_id, 'ok' AS status,
        |  CAST(w // 2 AS BIGINT) AS width, CAST(h // 2 AS BIGINT) AS height,
        |  CAST(list_sum(flatten(list_transform(range(0, h // 2), Y ->
        |    list_transform(range(0, w // 2), X ->
        |      ((doc_id*31 + (2*X)*7   + (2*Y)*13) % 256
        |     + (doc_id*31 + (2*X+1)*7 + (2*Y)*13) % 256
        |     + (doc_id*31 + (2*X)*7   + (2*Y+1)*13) % 256
        |     + (doc_id*31 + (2*X+1)*7 + (2*Y+1)*13) % 256) // 4))))
        |    AS BIGINT) AS pixel_sum
        |FROM d ORDER BY doc_id""".stripMargin),

    // Multimodal REAL multi-frame decode oracled end-to-end (the
    // "video" seam made real for JDK containers): deterministic
    // multi-page grayscale TIFFs (frame f pixel (x,y) = (doc_id*31 +
    // f*19 + x*7 + y*13) mod 256) written with the JDK's TIFF sequence
    // writer, decoded back frame-by-frame through getNumImages/read —
    // one output row per frame, all columns closed-form.
    Query("mm_frames_real", (s, dir) => {
      val tiffs = media(s, dir) { (id, len) =>
        graft.ops.Multimodal.syntheticTiffFrames(id, 3 + (id % 5).toInt,
          2 + len % 7, 1 + (id % 4).toInt)
      }
      graft.ops.Multimodal.decodeFrames(s, tiffs).toDF()
        .select(col("media_id").as("doc_id"),
          col("frame_id").cast("long").as("frame_id"), col("status"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("pixel_sum"))
        .orderBy("doc_id", "frame_id")
    }, """WITH d AS (
        |  SELECT doc_id, 1 + doc_id % 4 AS nf, 3 + doc_id % 5 AS w,
        |         2 + LENGTH(text) % 7 AS h
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, w, h,
        |    UNNEST(generate_series(0, nf - 1)) AS frame_id
        |  FROM d)
        |SELECT doc_id, CAST(frame_id AS BIGINT) AS frame_id,
        |  'ok' AS status,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(list_sum(flatten(list_transform(range(0, h), y ->
        |    list_transform(range(0, w), x ->
        |      (doc_id*31 + frame_id*19 + x*7 + y*13) % 256))))
        |    AS BIGINT) AS pixel_sum
        |FROM f ORDER BY doc_id, frame_id""".stripMargin),

    // Multimodal REAL audio decode oracled end-to-end, the audio twin
    // of mm_decode_real: deterministic 8-bit unsigned PCM mono WAVs
    // (sample i = (doc_id*31 + i*7) mod 256) framed by the JDK's WAVE
    // writer, decoded back through javax.sound.sampled — format header
    // fields and the exact sample sum are closed-form.
    Query("mm_audio_real", (s, dir) => {
      import s.implicits._
      // NOT spread: javax.sound's AudioSystem provider
      // registry serializes concurrent decodes on a global lock, so
      // fanning the trivial WAV kernel across 32 tasks REGRESSED 1.7 s
      // -> 2.7 s (lock contention + an exchange for ~µs/row work); the
      // ImageIO paths don't share that lock and stay spread.
      val media = table(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("len"))
        .as[(Long, Int)]
        .map { case (id, len) =>
          (id, graft.ops.Multimodal.syntheticWav(id, 50 + len % 97))
        }.toDF("media_id", "media")
      graft.ops.Multimodal.decodeAudio(s, media).toDF()
        .select(col("media_id").as("doc_id"), col("status"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("bits").cast("long").as("bits"),
          col("frames"), col("sample_sum"))
        .orderBy("doc_id")
    }, """WITH d AS (
        |  SELECT doc_id, 50 + LENGTH(text) % 97 AS n FROM documents)
        |SELECT doc_id, 'ok' AS status,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(8 AS BIGINT) AS bits,
        |  CAST(n AS BIGINT) AS frames,
        |  CAST(list_sum(list_transform(range(0, n), i ->
        |    (doc_id*31 + i*7) % 256)) AS BIGINT) AS sample_sum
        |FROM d ORDER BY doc_id""".stripMargin)
  )
}
