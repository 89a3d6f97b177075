package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL canonicalization for web-corpus pipelines — the dedup key most
  * crawls use BEFORE any content hashing (the same page is re-crawled
  * under `HTTP://Host/?utm_source=...` variants; canonicalizing the
  * URL collapses them without touching the payload).
  *
  * Everything here is PURE COLUMN COMPOSITION over built-in functions
  * (`regexp_extract` / `substring_index` / higher-order `filter` /
  * `array_sort`): no UDF, no Python eval, no per-row JVM round trip.
  * This column form is the REFERENCE semantics; hot full-corpus passes
  * use [[canonicalizeNative]] (the `canonical_url` native expression —
  * one pass, zero regex evaluations, full whole-stage codegen; its
  * interpreted-lambda-free plan is what PlanShapeSpec asserts, and
  * UrlsSpec pins the two byte-equal). Every rule is
  * formula-replicable in the DuckDB oracle (`doc_url_canonical`), the
  * same discipline as the `kg_predicates` quirk replicas.
  *
  * Rules (documented contract, deterministic):
  *  1. scheme and host lowercase;
  *  2. userinfo (`user:pw@`) stripped — everything before the LAST '@'
  *     in the authority;
  *  3. host = authority before the FIRST ':', port = after the LAST
  *     ':' (IPv6 literals are out of scope and documented as such);
  *  4. default ports dropped (http:80, https:443), others kept;
  *  5. empty path becomes '/';
  *  6. the fragment is dropped;
  *  7. tracking parameters (`utm_*`, `fbclid`, `gclid`) are dropped
  *     and the surviving query parameters are SORTED byte-wise — a
  *     canonical param order makes the string a stable join/dedup key;
  *  8. a URL with no '://' scheme separator canonicalizes to NULL
  *     (not a silently-mangled guess): malformed rows must be visible,
  *     and NULL never joins.
  */
object Urls {

  private val schemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  private val authorityRe = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
  private val pathRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
  // (=|$): a VALUELESS tracking param ('?fbclid') must drop exactly
  // like '?fbclid=x', or the two crawl variants get different keys
  private val trackingRe = "^(utm_[^=]*|fbclid|gclid)(=|$)"

  /** Lowercased scheme; empty string when the URL has none. */
  def scheme(url: Column): Column = lower(regexp_extract(url, schemeRe, 1))

  /** Lowercased host: authority minus userinfo and port. */
  def host(url: Column): Column = {
    val authority = regexp_extract(url, authorityRe, 1)
    val hostPort = substring_index(authority, "@", -1)
    lower(substring_index(hostPort, ":", 1))
  }

  /** Port string following the authority's last ':' ('' when none). */
  private def port(url: Column): Column = {
    val hostPort = substring_index(regexp_extract(url, authorityRe, 1), "@", -1)
    when(hostPort.contains(":"), substring_index(hostPort, ":", -1))
      .otherwise(lit(""))
  }

  /** Sorted, tracking-stripped query parameters as an array. */
  private def keptParams(url: Column): Column = {
    // the '?' must precede any '#': "\?([^#]*)" alone would match a
    // '?' INSIDE the fragment and resurrect fragment content as
    // phantom query params, violating rule 6
    val query = regexp_extract(url, "^[^#?]*\\?([^#]*)", 1)
    array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.rlike(trackingRe)))
  }

  /** The canonical form via the NATIVE one-pass expression
    * ([[graft.functions.CanonicalUrl]]) — same rules and output as
    * [[canonicalize]] (byte-equality asserted over edges + fuzz in
    * UrlsSpec), but zero per-row regex evaluations and no interpreted
    * lambda nodes: the version for full-corpus passes. Built as a
    * Column directly, so a caller's own `canonical_url` function, if it
    * has one, is left alone.
    */
  def canonicalizeNative(url: Column): Column =
    graft.functions.GraftFunctions.column("canonical_url", url)

  /** The canonical form under the rules above; NULL for schemeless
    * input. REFERENCE implementation (pure built-in column
    * composition) — [[canonicalizeNative]] is the hot-path twin.
    */
  def canonicalize(url: Column): Column = {
    val sch = scheme(url)
    val p = port(url)
    val portNorm = when(
      p === "" ||
        (sch === "http" && p === "80") ||
        (sch === "https" && p === "443"),
      lit("")).otherwise(concat(lit(":"), p))
    val rawPath = regexp_extract(url, pathRe, 1)
    val pathNorm = when(rawPath === "", lit("/")).otherwise(rawPath)
    val params = keptParams(url)
    val queryNorm = when(size(params) > 0,
      concat(lit("?"), array_join(params, "&"))).otherwise(lit(""))
    when(sch === "", lit(null).cast("string"))
      .otherwise(concat(sch, lit("://"), host(url), portNorm, pathNorm, queryNorm))
  }
}
