package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The URL canonicalization contract, rule by rule (Urls scaladoc).
  * All-column kernel — the same expressions the oracled
  * `doc_url_canonical` query runs, here against hand-picked edges.
  */
class UrlsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def canon(urls: String*): Seq[Option[String]] = {
    import spark.implicits._
    urls.toDF("url").select(Urls.canonicalize(col("url")).as("c"))
      .collect().map(r => Option(r.getString(0))).toSeq
  }

  test("case, default ports, userinfo, fragments, tracking params, ordering") {
    assert(canon("HTTPS://WWW.Ex.COM:443/a?utm_source=x&b=2&a=1#f") ==
      Seq(Some("https://www.ex.com/a?a=1&b=2")))
    assert(canon("http://user:pw@host.org:8080/p/?z=9&fbclid=abc") ==
      Seq(Some("http://host.org:8080/p/?z=9")))
    // default port only for the matching scheme: https on 80 keeps it
    assert(canon("http://h.com:80/x", "https://h.com:80/x") ==
      Seq(Some("http://h.com/x"), Some("https://h.com:80/x")))
    // empty path becomes '/', query of only tracking params vanishes
    assert(canon("http://EX.com:80", "https://ex.net/p?gclid=1&utm_medium=m") ==
      Seq(Some("http://ex.com/"), Some("https://ex.net/p")))
    // param sort is byte-wise and stable under input order
    assert(canon("http://h.co/p?b=2&a=1", "http://h.co/p?a=1&b=2") ==
      Seq(Some("http://h.co/p?a=1&b=2"), Some("http://h.co/p?a=1&b=2")))
    // a '?' INSIDE the fragment is fragment content, not a query —
    // it must vanish with the fragment, never become phantom params
    assert(canon("http://h.com/p#section?utm_source=x&a=1") ==
      Seq(Some("http://h.com/p")))
    // valueless tracking params drop exactly like valued ones
    assert(canon("http://h.com/p?fbclid", "http://h.com/p?fbclid=x") ==
      Seq(Some("http://h.com/p"), Some("http://h.com/p")))
  }

  test("schemeless input canonicalizes to NULL, never a mangled guess") {
    assert(canon("not a url", "", "www.ex.com/path") == Seq(None, None, None))
  }

  test("host and scheme extractors") {
    import spark.implicits._
    val got = Seq("HTTPS://User@WWW.Ex.COM:8443/p", "http://h.io", "junk")
      .toDF("url")
      .select(Urls.scheme(col("url")), Urls.host(col("url")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("https", "www.ex.com"), ("http", "h.io"), ("", "")))
  }

  test("native canonical_url is byte-equal to the column reference (edges + fuzz)") {
    import spark.implicits._
    // every documented edge plus a component-combinatorial fuzz corpus
    // (2,592 urls): schemes valid/invalid/cased, authorities with
    // userinfo/ports/multi-@/multi-colon/empty, paths, tracking and
    // empty and duplicate params, fragments with embedded '?'
    val edges = Seq(
      "HTTPS://WWW.Ex.COM:443/a?utm_source=x&b=2&a=1#f",
      "http://user:pw@host.org:8080/p/?z=9&fbclid=abc",
      "http://h.com:80/x", "https://h.com:80/x", "http://EX.com:80",
      "https://ex.net/p?gclid=1&utm_medium=m", "http://h.co/p?b=2&a=1",
      "http://h.com/p#section?utm_source=x&a=1", "http://h.com/p?fbclid",
      "not a url", "", "www.ex.com/path", "http:///p", "://x",
      "http://ex.com:", "http://h.com/p?a=\u00e9&\u00df=1")
    val schemes = Seq("http", "HTTPS", "ftp+x.2", "1bad", "", "ht tp")
    val auths = Seq("Ex.com", "user:pw@Ex.com:8080", "ex.com:80",
      "ex.com:443", "a@b@C.org:1:2", "")
    val paths = Seq("", "/", "/P/q", "/p/")
    val queries = Seq("", "?b=2&a=1", "?utm_source=x", "?fbclid",
      "?a=1&a=1&", "?&&x=1")
    val frags = Seq("", "#f", "#sec?x=1")
    val fuzz = for (s <- schemes; a <- auths; p <- paths; q <- queries;
      f <- frags) yield s"$s://$a$p$q$f"
    val both = (edges ++ fuzz).toDF("url").select(
      col("url"),
      Urls.canonicalize(col("url")).as("ref"),
      Urls.canonicalizeNative(col("url")).as("nat"))
      .collect()
    both.foreach { r =>
      assert(Option(r.getString(1)) == Option(r.getString(2)),
        s"native != reference for '${r.getString(0)}': " +
          s"${r.getString(1)} vs ${r.getString(2)}")
    }
  }

  test("canonical form is a working dedup key across crawl variants") {
    import spark.implicits._
    // the same page crawled 4 ways + one genuinely different page
    val urls = Seq(
      "HTTP://Ex.com/page?b=2&a=1",
      "http://ex.com:80/page?a=1&b=2",
      "http://user@ex.com/page?a=1&b=2&utm_source=feed",
      "http://ex.com/page?b=2&a=1#section",
      "http://ex.com/other").toDF("url")
    val n = urls.select(Urls.canonicalize(col("url")).as("c"))
      .distinct().count()
    assert(n == 2, s"4 variants + 1 distinct page must collapse to 2 keys, got $n")
  }
}
