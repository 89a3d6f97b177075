package graft.io

import java.io.{BufferedInputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.spark.Page

/** WARC source for Common-Crawl-style corpora: `WARC/1.0` record
  * parsing (headers + Content-Length payload), HTTP head stripping
  * (including `Transfer-Encoding: chunked` de-framing) for `response`
  * records, and projection to the engine's `pages` schema
  * (url, warc_ts, html, text, lang).
  *
  * Parallelism model: one task per WARC file — exactly Common Crawl's
  * layout (a crawl is ~64k independent ~1 GB WARC files per segment),
  * so a 100 TB crawl parallelizes to ~64k narrow tasks with no
  * shuffle. Files are listed through Spark's `binaryFile` source with
  * ONLY the path column selected (the content column is pruned, so no
  * file bytes flow through Spark rows); each task opens its file as a
  * Hadoop FS stream and parses records streaming — memory per task is
  * O(largest kept record), bounded further by `maxRecordBytes`
  * (oversized records are skipped and never buffered). Gzip members
  * decode through a wrapper whose `available()` is exact-positive
  * until true EOF: Common Crawl gzips per record, and the JDK
  * `GZIPInputStream` silently ENDS a multi-member stream at any member
  * boundary where the underlying `available()` returns 0.
  */
object Warc {

  final case class Record(headers: Map[String, String], payload: Array[Byte]) {
    def header(name: String): Option[String] =
      headers.get(name.toLowerCase(java.util.Locale.ROOT))
    def warcType: String = header("WARC-Type").getOrElse("")
    def targetUri: Option[String] = header("WARC-Target-URI")
    def date: Option[String] = header("WARC-Date")
  }

  /** `available() == 0` only at true EOF (one-byte blocking peek): the
    * JDK GZIPInputStream consults `available()` at gzip member
    * boundaries and treats 0 as end-of-members, silently truncating
    * multi-member files on streams (network/FS) whose `available()`
    * under-reports.
    */
  private final class PeekAvailable(in: InputStream) extends InputStream {
    private var peek: Int = -2 // -2 = nothing peeked
    override def read(): Int =
      if (peek != -2) { val b = peek; peek = -2; b } else in.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (peek == -1) return -1
      if (peek != -2) {
        b(off) = peek.toByte
        peek = -2
        val r = if (len > 1) in.read(b, off + 1, len - 1) else 0
        1 + math.max(r, 0)
      } else in.read(b, off, len)
    }
    override def available(): Int = {
      if (peek == -2) peek = in.read()
      if (peek == -1) 0 else 1 + in.available()
    }
    override def close(): Unit = in.close()
  }

  /** Read one CRLF (or LF) terminated header line as UTF-8; None at
    * EOF. (Byte-wise char casts would Latin-1-mojibake non-ASCII
    * header values — WARC-Target-URIs carry raw UTF-8 in real crawls.)
    */
  private def readLine(in: InputStream): Option[String] = {
    val buf = new java.io.ByteArrayOutputStream(64)
    var c = in.read()
    if (c < 0) return None
    while (c >= 0 && c != '\n') {
      if (c != '\r') buf.write(c)
      c = in.read()
    }
    Some(new String(buf.toByteArray, StandardCharsets.UTF_8))
  }

  private def readFully(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new EOFException(s"WARC payload truncated at $off/$n")
      off += r
    }
    buf
  }

  private def skipFully(in: InputStream, n: Long): Unit = {
    var left = n
    val sink = new Array[Byte](1 << 16)
    while (left > 0) {
      val r = in.read(sink, 0, math.min(left, sink.length.toLong).toInt)
      if (r < 0) throw new EOFException(s"WARC payload truncated with $left left")
      left -= r
    }
  }

  /** One uncompressed `WARC/1.0` record as [[records]] reads it: the
    * type, target-URI (omitted when `uri` is empty) and date headers,
    * then `payload` framed by its Content-Length and the CRLF CRLF
    * record trailer.
    */
  def record(warcType: String, uri: String, date: String,
      payload: Array[Byte]): Array[Byte] = {
    val head = s"WARC/1.0\r\nWARC-Type: $warcType\r\n" +
      (if (uri.nonEmpty) s"WARC-Target-URI: $uri\r\n" else "") +
      s"WARC-Date: $date\r\nContent-Length: ${payload.length}\r\n\r\n"
    head.getBytes(StandardCharsets.UTF_8) ++ payload ++
      "\r\n\r\n".getBytes(StandardCharsets.UTF_8)
  }

  /** Streaming record iterator over a (possibly gzipped) WARC stream.
    * Records whose Content-Length exceeds `maxRecordBytes` are skipped
    * without buffering (the WARC spec allows >2 GB payloads; one
    * pathological record must not OOM a 100 TB scan) and REPORTED
    * through `onSkip` — the default (everything kept) preserves the
    * original lossless contract of this API; the dataset readers cap at
    * 64 MB and surface skips via an accumulator. Payloads above
    * Int.MaxValue cannot be buffered on the JVM and always skip. The
    * stream is closed when the iterator is exhausted.
    */
  def records(raw: InputStream, gzipped: Boolean,
      maxRecordBytes: Long = Long.MaxValue,
      onSkip: Long => Unit = _ => ()): Iterator[Record] = {
    val in = new BufferedInputStream(
      if (gzipped) new GZIPInputStream(new PeekAvailable(raw), 1 << 16)
      else raw, 1 << 16)
    new Iterator[Record] {
      private var nextRec: Option[Record] = advance()

      @annotation.tailrec
      private def advance(): Option[Record] = {
        // skip inter-record blank lines to the version line
        var line = readLine(in)
        while (line.exists(_.isEmpty)) line = readLine(in)
        line match {
          case None =>
            in.close()
            None
          case Some(v) if v.startsWith("WARC/") =>
            val headers = Map.newBuilder[String, String]
            var h = readLine(in)
            while (h.exists(_.nonEmpty)) {
              val l = h.get
              val i = l.indexOf(':')
              if (i > 0) headers +=
                l.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT) ->
                  l.substring(i + 1).trim
              h = readLine(in)
            }
            val hm = headers.result()
            val len = hm.getOrElse("content-length", "0").toLong
            if (len > maxRecordBytes || len > Int.MaxValue - 8) {
              onSkip(len)
              skipFully(in, len)
              advance() // oversized record: skip, never buffer
            } else Some(Record(hm, readFully(in, len.toInt)))
          case Some(other) =>
            in.close()
            throw new IllegalArgumentException(
              s"not a WARC record boundary: '$other'")
        }
      }

      override def hasNext: Boolean = nextRec.isDefined
      override def next(): Record = {
        val r = nextRec.getOrElse(throw new NoSuchElementException)
        nextRec = advance()
        r
      }
    }
  }

  private val TeBytes = "transfer-encoding:".getBytes(StandardCharsets.US_ASCII)

  /** Case-insensitive byte match of "transfer-encoding:" at line start. */
  private def isTeLine(b: Array[Byte], start: Int, end: Int): Boolean = {
    if (end - start < TeBytes.length) return false
    var i = 0
    while (i < TeBytes.length) {
      var c = b(start + i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toByte
      if (c != TeBytes(i)) return false
      i += 1
    }
    true
  }

  /** De-frame a `Transfer-Encoding: chunked` HTTP body (hex size line,
    * chunk bytes, CRLF, ..., 0-size terminator). Malformed framing
    * falls back to the raw bytes rather than killing the scan.
    */
  private def dechunk(body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(body.length)
    var i = 0
    def line(): String = {
      val sb = new java.lang.StringBuilder(16)
      while (i < body.length && body(i) != '\n') {
        if (body(i) != '\r') sb.append(body(i).toChar)
        i += 1
      }
      i += 1 // consume '\n'
      sb.toString
    }
    try {
      while (i < body.length) {
        val sizeLine = line().trim
        val semi = sizeLine.indexOf(';') // chunk extensions
        val hex = if (semi >= 0) sizeLine.substring(0, semi) else sizeLine
        val n = java.lang.Integer.parseInt(hex.trim, 16)
        if (n == 0) return out.toByteArray // terminator (trailers ignored)
        out.write(body, i, math.min(n, body.length - i))
        i += n + 2 // chunk + CRLF
      }
      out.toByteArray
    } catch { case _: Exception => body }
  }

  /** Strip the HTTP response head from a `response` record payload and
    * return the body bytes, de-framing chunked transfer encoding.
    */
  def httpBody(payload: Array[Byte]): Array[Byte] = {
    var i = 0
    var chunked = false
    var lineStart = 0
    while (i < payload.length) {
      if (payload(i) == '\n') {
        val atCrlfCrlf = i >= 3 && payload(i - 1) == '\r' &&
          payload(i - 2) == '\n' && payload(i - 3) == '\r'
        val atLfLf = i >= 1 && payload(i - 1) == '\n'
        // inspect the completed header line for Transfer-Encoding —
        // byte-level case-insensitive prefix check so the hot path
        // allocates nothing for ordinary header lines
        val end = if (i > lineStart && payload(i - 1) == '\r') i - 1 else i
        if (end > lineStart && isTeLine(payload, lineStart, end)) {
          val l = new String(payload, lineStart, end - lineStart,
            StandardCharsets.ISO_8859_1).toLowerCase(java.util.Locale.ROOT)
          if (l.contains("chunked")) chunked = true
        }
        if (atCrlfCrlf || atLfLf) {
          val body = java.util.Arrays.copyOfRange(payload, i + 1, payload.length)
          return if (chunked) dechunk(body) else body
        }
        lineStart = i + 1
      }
      i += 1
    }
    payload // no HTTP head found: treat the whole payload as the body
  }

  /** WARC-Date (ISO-8601) to Timestamp; epoch on absence/parse failure
    * (a malformed date must not kill a 100 TB scan).
    */
  def parseDate(iso: Option[String]): java.sql.Timestamp =
    try java.sql.Timestamp.from(java.time.Instant.parse(iso.getOrElse("")))
    catch { case _: Throwable => new java.sql.Timestamp(0L) }

  /** `pages` table from WARC files: response records only, HTTP head
    * stripped, projected to the engine schema. `text`/`lang` stay empty
    * — they are products of the extraction pipeline, not the crawl.
    * Only file PATHS flow through Spark; each task streams its file
    * from the Hadoop filesystem (works for file://, hdfs://, s3a://
    * with default or cluster-provided configuration):
    *  - the SESSION Hadoop configuration (spark.hadoop.* credentials,
    *    endpoints) is broadcast to tasks as key/value pairs — a blank
    *    `new Configuration()` on the executor would not see them;
    *  - each file's stream is registered with the TaskContext so early
    *    termination (limit/take) or a parse exception cannot leak the
    *    handle (s3a streams pin pooled HTTP connections);
    *  - oversized-record skips are counted in the optional accumulator
    *    and logged, never silent.
    */
  def pages(spark: SparkSession, path: String,
      maxRecordBytes: Long = 64L * 1024 * 1024,
      skipped: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[Page] = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val confKv: Array[(String, String)] =
      spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => e.getKey -> e.getValue).toArray
    val bConf = spark.sparkContext.broadcast(confKv)
    spark.read.format("binaryFile").load(path)
      .select("path").as[String]
      .mapPartitions { files =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        bConf.value.foreach { case (k, v) => conf.set(k, v) }
        files.flatMap { file =>
          val p = new org.apache.hadoop.fs.Path(file)
          val raw = p.getFileSystem(conf).open(p)
          Option(org.apache.spark.TaskContext.get()).foreach(
            _.addTaskCompletionListener[Unit](_ =>
              try raw.close() catch { case _: Throwable => () }))
          records(raw, file.endsWith(".gz"), maxRecordBytes, len => {
            skipped.foreach(_.add(1))
            org.slf4j.LoggerFactory.getLogger(Warc.getClass).warn(
              s"skipping oversized WARC record ($len bytes > $maxRecordBytes) in $file")
          })
            .filter(_.warcType == "response")
            .flatMap(r => r.targetUri.map { uri =>
              Page(uri, parseDate(r.date), httpBody(r.payload), "", "")
            })
        }
      }
  }
}
