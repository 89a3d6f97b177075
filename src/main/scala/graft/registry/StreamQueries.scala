package graft.registry

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.io.Tables.table

/** Streaming registry query: the keyed-state first-seen content dedup
  * (`graft.streaming.Monitors`) replayed over MemoryStream.
  */
object StreamQueries {

  // memory-sink names must be unique per invocation within a session
  // (Bench runs every query 2-3 times)
  private val streamSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Cloned session for `stream_first_seen` with the shuffle-partition
    * count — which fixes the stateful query's STATE-STORE partition
    * count for its whole life — sized to the stream's data volume
    * instead of inherited from the batch engine's parallelism default.
    *
    * Scale policy (guide §2.2 applied to streaming state): one state
    * partition per ~1000 in-flight rows, floored at 1 and capped at the
    * context's default parallelism. The query writes to a memory sink
    * with no durable checkpoint, so the count is derived afresh on
    * every run. At the suite's 500-row replay an inherited 32
    * partitions would mean 32 state-store commits per micro-batch — 160
    * near-empty store files per run whose fsync/commit latency, not
    * computation, would dominate the streaming query.
    */
  private def streamSession(s: SparkSession, rows: Long): SparkSession = {
    val ss = s.newSession()
    val parts = math.max(1L, math.min(rows / 1000L,
      s.sparkContext.defaultParallelism.toLong)).toInt
    ss.conf.set("spark.sql.shuffle.partitions", parts.toString)
    ss
  }

  val queries: Seq[Query] = Seq(
    // §2.8 streaming <-> batch dedup equivalence, oracled: the corpus
    // replayed as doc_id-ordered micro-batches through the keyed-state
    // first-seen CONTENT dedup (Monitors.firstSeenByContent,
    // flatMapGroupsWithState) must emit exactly the batch first-seen
    // set — min doc_id per distinct text — which DuckDB computes
    // independently. Arrival order is controlled (contiguous ascending
    // id ranges), so "first observed" and "min (warc_ts, url)" agree
    // and the result is deterministic. The driver-side collect is the
    // REPLAY HARNESS ONLY, bounded by the sf corpus (MemoryStream is
    // the only way to pin cross-micro-batch arrival order).
    Query("stream_first_seen", (s, dir) => {
      import s.implicits._
      val rows: Array[(Long, String)] = table(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().sortBy(_._1)
      // state partitions sized to the replayed rows (see streamSession)
      val ss = streamSession(s, rows.length.toLong)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.spark.Page]
      val name = "stream_first_seen_" + streamSeq.incrementAndGet()
      val q = graft.streaming.Monitors
        .firstSeenByContent(ss, in.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.length / 5 + 1)).foreach { chunk =>
          in.addData(chunk.toSeq.map { case (id, text) =>
            graft.spark.Page("doc://" + id,
              new java.sql.Timestamp(id * 1000L),
              Array.emptyByteArray, text, "en")
          })
          q.processAllAvailable()
        }
      } finally q.stop()
      ss.table(name)
        .select(substring_index(col("url"), "/", -1).cast("long")
          .as("doc_id"))
        .orderBy("doc_id")
    },
      // Batch first-seen: min doc_id per distinct text — the streaming
      // keyed-state replay must emit exactly this set.
      """SELECT doc_id FROM (
        |  SELECT doc_id, ROW_NUMBER() OVER (
        |    PARTITION BY MD5(COALESCE(text, '')) ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin)
  )
}
