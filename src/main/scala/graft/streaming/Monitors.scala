package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.spark.Page

/** Streaming operators over the crawl stream beyond plain ingest:
  * event-time windowed aggregation with a watermark (late-page
  * tolerance), and custom keyed state via `flatMapGroupsWithState`
  * (first-seen dedup across micro-batches keyed by raw url, CANONICAL
  * url, exact content hash, or simhash — streaming dedup for a
  * training-data pipeline, with state expiry so the key space cannot
  * grow unboundedly).
  */
object Monitors {

  /** Crawl-rate monitor: pages per (host, event-time window) with a
    * watermark on `warc_ts` — late pages within `lateness` still update
    * their window; older ones are dropped and the window state is
    * reclaimed (bounded state at 10^12-page scale).
    */
  def hostWindowCounts(pages: DataFrame,
      windowLen: String = "1 minute",
      lateness: String = "10 minutes"): DataFrame =
    pages
      .withColumn("host", regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1))
      .withWatermark("warc_ts", lateness)
      .groupBy(window(col("warc_ts"), windowLen), col("host"))
      .agg(count(lit(1)).as("n_pages"))

  /** First-seen wins: emit each url's page only the first time it is
    * observed, across micro-batches, via keyed state. With
    * `stateTimeout` set, keys expire after that processing-time gap
    * (re-crawls after expiry re-emit — the batch pipeline's global
    * dedup is the final arbiter; the expiry bounds the streaming state
    * at 10^12-url scale). NOTE: a processing-time timeout makes Spark
    * schedule data-less micro-batches to fire expirations, so tests
    * that drive the query with `processAllAvailable()` must pass
    * `stateTimeout = None`.
    */
  def firstSeenPages(spark: SparkSession, pages: Dataset[Page],
      stateTimeout: Option[String] = Some("30 minutes")): Dataset[Page] =
    firstSeenBy(spark, pages, _.url, stateTimeout)

  /** First-seen keyed by the CANONICAL url (graft.ops.Urls.canonicalize
    * — the exact Column kernel the batch path uses, not a re-derived
    * Scala copy that could drift): the same page re-crawled under
    * scheme/host-case, default-port, userinfo, fragment, tracking-param
    * or param-order variants dedups at INGEST, before any content work.
    * Schemeless/malformed urls canonicalize to NULL and fall back to
    * the raw url as their key (each such page is its own key — the
    * stream must not collapse all malformed urls into one).
    */
  def firstSeenByCanonicalUrl(spark: SparkSession, pages: Dataset[Page],
      stateTimeout: Option[String] = Some("30 minutes")): Dataset[Page] = {
    import spark.implicits._
    val keyed = pages
      .select(struct(pages.columns.map(col): _*).as("_1"),
        coalesce(graft.ops.Urls.canonicalizeNative(col("url")),
          col("url")).as("_2"))
      .as[(Page, String)]
    firstSeenKeyed(spark, keyed, stateTimeout)
  }

  /** Streaming EXACT-content suppression at ingest: first-seen keyed by
    * the md5 of the page text — no false drops (only byte-identical
    * texts collide), 16 bytes of key per distinct content.
    */
  def firstSeenByContent(spark: SparkSession, pages: Dataset[Page],
      stateTimeout: Option[String] = Some("30 minutes")): Dataset[Page] =
    firstSeenBy(spark, pages, p => {
      val t = if (p.text == null) "" else p.text
      val md = md5Local.get()
      md.reset()
      java.util.Base64.getEncoder.encodeToString(
        md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    }, stateTimeout)

  // digest instances are not thread-safe; one per executor thread keeps
  // the per-record keying path free of JCA provider lookups/allocations
  private lazy val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Streaming near-duplicate suppression at ingest: first-seen keyed by
    * the 64-bit SimHash of the page text. Template/boilerplate
    * near-copies quantize to the same simhash, so the stream drops them
    * with one long of state per distinct content.
    *
    * This suppression is LOSSY by construction — use it only where
    * dropping an occasional distinct page is acceptable (boilerplate-
    * heavy crawl frontiers): simhash is order-insensitive over words
    * (two pages with the same word multiset collide) and 64-bit
    * (birthday collisions at ~10^9 distinct contents), and a page
    * dropped here never reaches the batch dedup that could have cleared
    * it. For a loss-free stream filter use [[firstSeenByContent]];
    * near-dup recall belongs to the batch MinHash-LSH/SimHash pass.
    */
  def firstSeenBySimhash(spark: SparkSession, pages: Dataset[Page],
      stateTimeout: Option[String] = Some("30 minutes")): Dataset[Page] =
    firstSeenBy(spark, pages,
      p => graft.ops.Dedup.simhash(if (p.text == null) "" else p.text).toString,
      stateTimeout)

  private def firstSeenBy(spark: SparkSession, pages: Dataset[Page],
      key: Page => String,
      stateTimeout: Option[String]): Dataset[Page] = {
    import spark.implicits._
    firstSeenKeyed(spark, pages.map(p => (p, key(p))), stateTimeout)
  }

  /** The shared keyed-state core behind every first-seen variant:
    * (page, key) pairs in, first page per key out, across batches.
    */
  private def firstSeenKeyed(spark: SparkSession,
      keyed: Dataset[(Page, String)],
      stateTimeout: Option[String]): Dataset[Page] = {
    import spark.implicits._
    val conf =
      if (stateTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    keyed.groupByKey(_._2)
      .flatMapGroupsWithState[Boolean, Page](OutputMode.Append(), conf) {
        case (_, it: Iterator[(Page, String)], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else if (state.exists) {
            // GroupState clears the timeout on every invocation — re-arm
            // it, or re-crawled keys would never expire and the state
            // bound would be lost
            stateTimeout.foreach(state.setTimeoutDuration)
            Iterator.empty // key already emitted in an earlier batch
          } else {
            state.update(true)
            stateTimeout.foreach(state.setTimeoutDuration)
            // deterministic same-batch winner: groupByKey's iterator
            // order is shuffle-arbitrary, and canonical-url keying
            // makes same-key collisions within one micro-batch the
            // COMMON case (re-crawl variants arriving together) — the
            // earliest (warc_ts, url) page wins, run-to-run stable.
            // O(group) time, O(1) state: minBy streams the iterator.
            Iterator(it.map(_._1).minBy(p =>
              (Option(p.warc_ts).map(_.getTime).getOrElse(Long.MinValue),
                p.url)))
          }
      }
  }
}
