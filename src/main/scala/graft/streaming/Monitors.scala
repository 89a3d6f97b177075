package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.spark.Page

/** Streaming first-seen dedup over the crawl stream: custom keyed state
  * via `flatMapGroupsWithState`, so a content repeated in a later
  * micro-batch is suppressed at ingest.
  */
object Monitors {

  /** Streaming EXACT-content suppression at ingest: first-seen keyed by
    * the md5 of the page text — no false drops (only byte-identical
    * texts collide), 16 bytes of key per distinct content. Keys never
    * expire: the state grows with the distinct contents seen.
    */
  def firstSeenByContent(spark: SparkSession,
      pages: Dataset[Page]): Dataset[Page] = {
    import spark.implicits._
    pages.map(p => (p, contentKey(p)))
      .groupByKey(_._2)
      .flatMapGroupsWithState[Boolean, Page](OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (_, it: Iterator[(Page, String)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty // key emitted in an earlier batch
          else {
            state.update(true)
            // deterministic same-batch winner: groupByKey's iterator
            // order is shuffle-arbitrary — the earliest (warc_ts, url)
            // page wins, run-to-run stable. O(group) time, O(1) state:
            // minBy streams the iterator.
            Iterator(it.map(_._1).minBy(p =>
              (Option(p.warc_ts).map(_.getTime).getOrElse(Long.MinValue),
                p.url)))
          }
      }
  }

  private def contentKey(p: Page): String = {
    val t = if (p.text == null) "" else p.text
    val md = md5Local.get()
    md.reset()
    java.util.Base64.getEncoder.encodeToString(
      md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  // digest instances are not thread-safe; one per executor thread keeps
  // the per-record keying path free of JCA provider lookups/allocations
  private lazy val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("MD5"))
}
