package graft.io

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** WARC source: record framing, header parsing, HTTP head stripping,
  * response filtering, gzip member streams, and the pages projection
  * feeding the extraction kernel end-to-end.
  */
class WarcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def httpResponse(html: String): Array[Byte] =
    ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html)
      .getBytes("UTF-8")

  private val html1 = "<html><body><div class=\"doc\"><p>alpha beta</p></div></body></html>"
  private val html2 = "<html><body><p>gamma delta epsilon</p></body></html>"

  private def warcBytes: Array[Byte] =
    Warc.record("warcinfo", "", "2024-03-01T00:00:00Z",
        "software: test".getBytes("UTF-8")) ++
    Warc.record("request", "https://x.edu/a", "2024-03-01T10:00:00Z",
        "GET /a HTTP/1.1\r\n\r\n".getBytes("UTF-8")) ++
    Warc.record("response", "https://x.edu/a", "2024-03-01T10:00:00Z",
        httpResponse(html1)) ++
    Warc.record("response", "https://x.edu/b", "2024-03-02T11:30:00Z",
        httpResponse(html2))

  test("records: framing, headers, payload lengths") {
    val rs = Warc.records(
      new java.io.ByteArrayInputStream(warcBytes), gzipped = false).toSeq
    assert(rs.map(_.warcType) == Seq("warcinfo", "request", "response", "response"))
    assert(rs(2).targetUri.contains("https://x.edu/a"))
    assert(new String(Warc.httpBody(rs(2).payload), "UTF-8") == html1)
    // the writer's bytes, pinned apart from the reader
    assert(new String(Warc.record("response", "u", "d", "p".getBytes("UTF-8")),
      "UTF-8") == "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u\r\n" +
      "WARC-Date: d\r\nContent-Length: 1\r\n\r\np\r\n\r\n")
    // LF-only HTTP heads also strip
    assert(new String(Warc.httpBody(
      ("HTTP/1.1 200 OK\nX: y\n\nBODY").getBytes("UTF-8")), "UTF-8") == "BODY")
  }

  test("chunked transfer-encoding is de-framed; UTF-8 header values survive") {
    val chunkedPayload =
      ("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" +
        "5\r\n<html\r\n1; ext=1\r\n>\r\n6\r\nBODY!!\r\n0\r\n\r\n").getBytes("UTF-8")
    assert(new String(Warc.httpBody(chunkedPayload), "UTF-8") == "<html>BODY!!")
    // non-chunked path unchanged
    assert(new String(Warc.httpBody(httpResponse("X")), "UTF-8") == "X")
    // UTF-8 bytes in a header value (real Common-Crawl URIs carry them)
    val uri = "https://x.edu/café"
    val rs = Warc.records(new java.io.ByteArrayInputStream(
      Warc.record("response", uri, "2024-03-01T00:00:00Z", httpResponse("y"))),
      gzipped = false).toSeq
    assert(rs.head.targetUri.contains(uri), s"got ${rs.head.targetUri}")
  }

  test("multi-member gzip survives an available()==0 underlying stream") {
    // per-record gzip members (Common Crawl's layout), served by a
    // stream whose available() lies — the JDK GZIPInputStream ends
    // multi-member streams at any boundary where available()==0
    def gz(b: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(o)
      g.write(b); g.close(); o.toByteArray
    }
    val members =
      gz(Warc.record("response", "https://m.edu/1", "2024-03-01T00:00:00Z",
        httpResponse(html1))) ++
      gz(Warc.record("response", "https://m.edu/2", "2024-03-01T00:00:01Z",
        httpResponse(html2)))
    val lying = new java.io.FilterInputStream(
        new java.io.ByteArrayInputStream(members)) {
      override def available(): Int = 0
    }
    val rs = Warc.records(lying, gzipped = true).toSeq
    assert(rs.map(_.targetUri.get) ==
      Seq("https://m.edu/1", "https://m.edu/2"),
      "second gzip member must not be silently dropped")
  }

  test("oversized records are skipped without buffering; later records survive") {
    val big = Warc.record("response", "https://x.edu/huge", "2024-03-01T00:00:00Z",
      httpResponse("Z" * 5000))
    val small = Warc.record("response", "https://x.edu/ok", "2024-03-01T00:00:00Z",
      httpResponse(html1))
    val rs = Warc.records(new java.io.ByteArrayInputStream(big ++ small),
      gzipped = false, maxRecordBytes = 1000).toSeq
    assert(rs.map(_.targetUri.get) == Seq("https://x.edu/ok"))
    // unbounded default keeps everything (the lossless records() contract)
    assert(Warc.records(new java.io.ByteArrayInputStream(big ++ small),
      gzipped = false).size == 2)
    // dataset level: skips surface in the accumulator, not silently
    val dir = java.nio.file.Files.createTempDirectory("warc_skip")
    java.nio.file.Files.write(dir.resolve("f.warc"), big ++ small)
    val acc = spark.sparkContext.longAccumulator("warc_skipped")
    val ps = Warc.pages(spark, dir.toString + "/*", maxRecordBytes = 1000,
      skipped = Some(acc)).collect()
    assert(ps.map(_.url).toSeq == Seq("https://x.edu/ok"))
    assert(acc.value == 1L, "the dropped record must be counted")
    graft.TestSpark.deleteRec(dir.toFile)
  }

  test("pages: response-only projection, date parsing, gzip; extraction runs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("warc_test")
    java.nio.file.Files.write(dir.resolve("part-0.warc"), warcBytes)
    // gzipped variant of the same content in the same load path
    val gz = new java.io.ByteArrayOutputStream()
    val go = new java.util.zip.GZIPOutputStream(gz)
    go.write(warcBytes); go.close()
    java.nio.file.Files.write(dir.resolve("part-1.warc.gz"), gz.toByteArray)

    val pages = Warc.pages(spark, dir.toString + "/*").collect().sortBy(_.url)
    assert(pages.length == 4, "2 responses per file, request/warcinfo skipped")
    assert(pages.map(_.url).distinct.toSeq ==
      Seq("https://x.edu/a", "https://x.edu/b"))
    assert(pages.head.warc_ts ==
      java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T10:00:00Z")))
    assert(new String(pages.head.html, "UTF-8") == html1)

    // the WARC pages feed the real extraction kernel
    val sents = graft.spark.ExtractStage.sentences(spark,
      spark.createDataset(pages.toSeq.take(1)))
    val tkns = sents.collect().flatMap(_.tkns).toSeq
    assert(tkns == Seq("alpha", "beta"))

    graft.TestSpark.deleteRec(dir.toFile)
  }
}
