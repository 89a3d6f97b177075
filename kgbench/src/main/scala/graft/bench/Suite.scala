package graft.bench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The query_suite workload: registry queries of `graft.SparkEntry` over
  * the TPC-H-style tables in kgbench/data. A rep is one pass, every query
  * once in a fixed order, each fully materialized through the digest of
  * its result (every column of every row feeds the digest, so no
  * projection is pruned away).
  *
  * The measured pass is the first one in the JVM, as a batch job that
  * runs the suite once sees it: it includes the JIT and code-generation
  * warm-up. A warm pass takes about 60% of a cold one here; a warm-up
  * pass before the measured one would not fit the run's time budget.
  */
object Suite {

  /** (query, module whose code it mostly runs): every ROADMAP target
    * query plus at least one query per module.
    */
  val Queries: Seq[(String, String)] = Seq(
    "q1_agg" -> "sql",
    "doc_unigram_lm" -> "ops.TextAnalysis",
    "dedup_minhash_lsh" -> "ops.Dedup",
    "dedup_simhash" -> "ops.Dedup",
    "doc_dedup_clusters" -> "ops.Dedup",
    "dedup_embed_cosine" -> "ops.Dedup",
    "ann_self_exhaustive_topk" -> "ops.Similarity",
    "dedup_semantic" -> "ops.Similarity",
    "mm_decode" -> "ops.Multimodal",
    "kg_entity_pagerank" -> "kg.GraphOps",
    "kg_canonicalize" -> "kg.Canonicalize",
    "kg_bilstm_decode" -> "tag_extract",
    "stream_first_seen" -> "streaming",
    "warc_roundtrip" -> "io")

  val Modules: Seq[String] = Queries.map(_._2).distinct

  /** The ROADMAP's query-level targets, reported one by one. */
  val Targets: Seq[String] = Seq("kg_entity_pagerank", "dedup_embed_cosine",
    "ann_self_exhaustive_topk", "dedup_minhash_lsh", "dedup_simhash",
    "doc_dedup_clusters", "dedup_semantic", "kg_canonicalize")

  /** Per-layer metrics this workload measures, with their units. */
  val LayerMetrics: Seq[(String, String)] =
    Modules.flatMap(m => Seq(s"suite.$m.s" -> "s", s"suite.$m.jobs" -> "count",
      s"suite.$m.shuffle_mb" -> "MB")) ++
      Targets.flatMap(q => Seq(s"query.$q.s" -> "s", s"query.$q.jobs" -> "count"))

  /** Write the input for `seed`: every table of `src` with its rows in a
    * seeded order, one file per table. No query result depends on row
    * order, so one pinned digest per query holds for every seed.
    */
  def writeTables(spark: SparkSession, src: String, dst: String, seed: Long): Unit =
    new File(src).listFiles.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach { f =>
        val df = spark.read.parquet(f.getPath)
        df.repartition(1)
          .sortWithinPartitions(xxhash64(lit(seed) +: df.columns.toSeq.map(col): _*))
          .write.parquet(new File(dst, f.getName).getPath)
      }

  /** Order-independent digest of a query result; rows go through JSON so
    * that every column type hashes.
    */
  def digest(df: DataFrame): String =
    KgBench.digest(df.select(to_json(struct(df.columns.toSeq.map(col): _*)).as("row")))

  /** One query of a pass: its seconds and wall-clock window. */
  final case class QTime(query: String, sec: Double, startMs: Long, endMs: Long)

  /** Per-query numbers of a traced pass: a job belongs to the query whose
    * job group it carries or, for jobs started on threads the query
    * spawned (a streaming query's micro-batches run in their own group),
    * to the query running when it started.
    */
  final case class QSpan(query: String, sec: Double, jobs: Int, shuffleMb: Double)

  def spans(tr: TraceListener, times: Seq[QTime]): Seq[QSpan] = tr.synchronized {
    val names = Queries.map(_._1).toSet
    val shuffleOf = tr.tasks.groupBy(_.stageId).map { case (id, ts) =>
      id -> ts.map(_.shuffleWrite).sum }
    times.map { q =>
      val js = tr.jobs.filter(j => j.group == q.query ||
        (!names(j.group) && j.start >= q.startMs && j.start <= q.endMs))
      val shuffle = js.flatMap(_.stageIds).distinct.map(shuffleOf.getOrElse(_, 0L)).sum
      QSpan(q.query, q.sec, js.size, shuffle / 1e6)
    }
  }

  /** query_suite: set-up (the session), then one pass whose digests are
    * checked against the pinned ones. A traced run then times one pass
    * with the listener attached and one untraced pass after it, both
    * warm.
    */
  def run(c: KgBench.Conf, r: Run, work: File): Unit = {
    val t0 = System.nanoTime()
    val spark = KgBench.session(c.cores, work.getPath)
    val setupS = (System.nanoTime() - t0) / 1e9
    // input generation is not set-up
    val dir = new File(work, "tables").getAbsolutePath
    writeTables(spark, c.input, dir, c.seed)

    // one pass; each query runs in a job group named after it
    def pass(kind: String): (Rep, Seq[QTime], Map[String, String]) = {
      val sc = spark.sparkContext
      val qs = ArrayBuffer.empty[QTime]
      val got = scala.collection.mutable.Map.empty[String, String]
      val rp = r.stamp(kind, c.cores) {
        Queries.map { case (q, _) =>
          r.attempted += 1
          sc.setJobGroup(q, q)
          val w0 = System.currentTimeMillis()
          val q0 = System.nanoTime()
          val ok = try { got(q) = digest(graft.SparkEntry.queries(q)(spark, dir)); true }
            catch { case t: Throwable => r.fail(s"$kind $q: $t"); false }
          qs += QTime(q, (System.nanoTime() - q0) / 1e9, w0, System.currentTimeMillis())
          sc.clearJobGroup()
          ok
        }.forall(identity)
      }
      (rp, qs.toSeq, got.toMap)
    }

    // every result of a pass against its pinned digest (outside the
    // timing); a query that threw has already counted as failed
    def checkDigests(kind: String, got: Map[String, String]): Unit =
      Queries.map(_._1).filter(got.contains).foreach { q =>
        r.check(s"$kind digest $q") {
          c.expect.get(q) match {
            case Some(want) => if (got(q) == want) None else Some(s"${got(q)} != pinned $want")
            case None => Some(s"no pinned digest (got ${got(q)})")
          }
        }
      }

    val (measured, times, got) = pass("pass")
    r.digests = got
    checkDigests("pass", got)
    var traced: Option[(Rep, Seq[QTime], TraceListener, Rep)] = None
    if (c.trace) {
      val tr = new TraceListener
      spark.sparkContext.addSparkListener(tr)
      val (rp, ts, tracedGot) = pass("traced")
      org.apache.spark.kgbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tr)
      checkDigests("traced", tracedGot)
      // the untraced base of the tracing overhead, as warm as the traced pass
      val (warm, _, warmGot) = pass("warm")
      checkDigests("warm", warmGot)
      traced = Some((rp, ts, tr, warm))
    }
    val suiteS = measured.sec
    val perQuery = times.map(_.sec)
    val (tailPct, tailS) = Stats.tail(perQuery)
    r.report += "setup_s" -> setupS.toString
    r.report += "suite_s" -> suiteS.toString
    r.report += "query_p50_s" -> Stats.median(perQuery).toString
    r.report += "query_tail_s" -> tailS.toString
    r.report += "query_tail_pct" -> tailPct.toString
    r.report += "query_samples" -> perQuery.size.toString
    r.report += "query_s" -> times.map(q => s""""${q.query}":${q.sec}""").mkString("{", ",", "}")

    traced match {
      case None =>
        r.metrics += (("rep_s", suiteS, "s"))
        r.metrics += (("rep_cpu_s", measured.cpuS, "s"))
        r.metrics += (("setup_s", setupS, "s"))
      case Some((rp, ts, tr, warm)) =>
        val ss = spans(tr, ts)
        val moduleOf = Queries.toMap
        Modules.foreach { m =>
          val ms = ss.filter(s => moduleOf(s.query) == m)
          r.metrics += ((s"suite.$m.s", ms.map(_.sec).sum, "s"))
          r.metrics += ((s"suite.$m.jobs", ms.map(_.jobs).sum.toDouble, "count"))
          r.metrics += ((s"suite.$m.shuffle_mb", ms.map(_.shuffleMb).sum, "MB"))
        }
        Targets.foreach { q =>
          val s = ss.find(_.query == q).get
          r.metrics += ((s"query.$q.s", s.sec, "s"))
          r.metrics += ((s"query.$q.jobs", s.jobs.toDouble, "count"))
        }
        r.report += "traced_suite_s" -> rp.sec.toString
        r.report += "warm_suite_s" -> warm.sec.toString
        r.report += "trace_overhead_s" -> (rp.sec - warm.sec).toString
        r.report += "jobs" -> ss.map(_.jobs).sum.toString
    }
    spark.stop()
  }
}
