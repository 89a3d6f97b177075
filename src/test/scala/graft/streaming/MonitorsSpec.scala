package graft.streaming

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.TestSpark
import graft.spark.Page

/** Keyed-state first-seen content dedup, driven through MemoryStream
  * micro-batches.
  */
class MonitorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("firstSeenByContent: identical content suppressed across batches, distinct passes") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Page]
    val q = Monitors.firstSeenByContent(spark, in.toDS())
      .writeStream.format("memory").queryName("nds").outputMode("append")
      .start()
    def pg(url: String, text: String, ts: String = "2026-01-01 10:00:00") =
      Page(url, Timestamp.valueOf(ts), Array.emptyByteArray, text, "en")
    try {
      // SAME-batch copies: the earliest (warc_ts, url) page must win
      // deterministically (groupByKey order is shuffle-arbitrary)
      in.addData(
        pg("https://a.edu/1", "welcome to the faculty directory page"),
        pg("https://a.edu/2", "welcome to the faculty directory page", // copy
          "2026-01-01 09:59:00"),
        pg("https://a.edu/3", "completely different research abstract text"))
      q.processAllAvailable()
      assert(spark.table("nds").collect().map(_.getString(0)).toSet ==
        Set("https://a.edu/2", "https://a.edu/3"),
        "in-batch copy must be dropped; the earliest page wins")
      // a later batch re-sends the same boilerplate from a new url
      in.addData(pg("https://b.edu/1", "welcome to the faculty directory page"),
        pg("https://b.edu/2", "yet another novel page body"))
      q.processAllAvailable()
      val urls = spark.table("nds").collect().map(_.getString(0)).toSet
      assert(spark.table("nds").count() == 3, "cross-batch copy must be dropped")
      assert(urls.contains("https://b.edu/2") && !urls.contains("https://b.edu/1"))
    } finally q.stop()
  }

  test("streaming content first-seen == batch first-seen over the sf corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sql = spark.sqlContext
    // the real sf corpus replayed in doc_id order, plus planted exact
    // copies of the first 5 docs arriving LAST (under fresh ids) so the
    // equivalence is provably non-vacuous: those must be suppressed
    val docs = graft.io.Tables.table(spark, "kgbench/data/sf0.001", "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().sortBy(_._1)
    val all = docs ++ docs.take(5).map { case (id, t) => (id + 1000000L, t) }
    // batch arbiter: min doc_id per distinct text
    val expect: Set[Long] = all
      .groupBy { case (_, t) => if (t == null) "" else t }
      .map { case (_, g) => g.map(_._1).min }.toSet
    assert(expect.size < all.length, "plants must collapse somewhere")
    val in = MemoryStream[Page]
    val q = Monitors.firstSeenByContent(spark, in.toDS())
      .writeStream.format("memory").queryName("sf_content_eq")
      .outputMode("append").start()
    try {
      all.grouped(math.max(1, all.length / 4 + 1)).foreach { chunk =>
        in.addData(chunk.toSeq.map { case (id, t) =>
          Page("doc://" + id, new Timestamp(id * 1000L),
            Array.emptyByteArray, t, "en")
        })
        q.processAllAvailable()
      }
      val got = spark.table("sf_content_eq").collect()
        .map(r => r.getString(0).substring("doc://".length).toLong).toSet
      assert(got == expect,
        s"streaming/batch drift: only-stream=${(got -- expect).take(5)} " +
          s"only-batch=${(expect -- got).take(5)}")
    } finally q.stop()
  }
}
