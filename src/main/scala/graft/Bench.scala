package graft

import org.apache.spark.sql.SparkSession
import graft.spark.Sessions
import scala.util.control.NonFatal

/** Driver-run benchmark: per-query seconds over the tables at
  * SPARK_GRAFT_SF_DIR, plus the north-rule scaling evidence — the whole
  * `kg.Main` pipeline over `synth:N` pages (SPARK_GRAFT_SCALE_DOCS) at
  * local[1] and local[4], the sandbox stand-in for N and 4N executors,
  * with the efficiency `sec_1 / (4 * sec_4)` for the whole run and for
  * each stage from its lineage `wall_ms`.
  *
  * Env: SPARK_GRAFT_SF_DIR (required by the query phase),
  * SPARK_GRAFT_QUERY_PHASE=0 and SPARK_GRAFT_SCALING=0 skip a phase,
  * SPARK_GRAFT_ONLY narrows the queries, SPARK_GRAFT_CPUS sets the
  * query phase's cores. The multi-JVM figure needs no code here:
  * spark-submit `graft.kg.Main` on a `local-cluster[N,1,<mem>]` master
  * (BASELINE.md).
  *
  * Output: ONE JSON line on stdout (unprefixed — build.sbt routes the
  * forked JVM straight to stdout) and mirrored to `bench_out.json`:
  *   {"metric":"total","value":S,"unit":"sec","queries":{...},"sf":...,
  *    "failed":{...},"query_env":{...},"query_samples":{...},
  *    "self_knn":{...},"scaling":{...}}
  *
  * Measurement validity:
  *  - queries are timed to FULL materialization
  *    (`queryExecution.toRdd.foreach`), not `count()` — under count()
  *    Catalyst prunes unreferenced projections, so projection-only
  *    queries would time little more than the scan;
  *  - a query that throws is reported in `failed` (value -1), never as
  *    a near-zero "success";
  *  - `queries` keeps the driver contract (name -> best seconds);
  *    `query_samples` carries ALL raw runs per query (2, or 3 when two
  *    could not establish a clean floor), each stamped with its start
  *    loadavg and GC delta, so a burst-inflated number is
  *    self-diagnosing in the artifact, and `floor_suspect` summarizes
  *    the verdict (queries still load/GC-tainted at their best sample,
  *    plus a suite-level flag at >=10%); `self_knn` surfaces the
  *    candidate_pairs skew Observation of a full self k-NN pass over
  *    the sf embeddings;
  *  - every scaling sample records the host 1-min loadavg (this VM
  *    shares a host with co-tenants: observed loadavg 3-10 with zero
  *    processes of ours), GC ms, and `cpu_util`: the CPU time of the
  *    whole JVM process, JIT compiler and GC threads included, divided
  *    by `sec * cores`. Those threads run beside the task threads, so
  *    `cpu_util` can exceed 1.0 (local[1] samples read 1.55-2.43 on a
  *    4-core host) and a starved leg need not read low.
  */
object Bench {

  private def session(cores: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    Sessions.session(s"graft-bench-$cores", cores)
  }

  /** Host 1-min load average, -1 where /proc/loadavg is unreadable. */
  def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split(" ")(0).toDouble finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** The whole process's CPU seconds over a span (task, JIT and GC
    * threads alike) per second of `cores`' budget; -1 when the JVM
    * can't report CPU time.
    */
  private def cpuUtilOf(cpu0: Long, cpu1: Long, sec: Double,
      cores: Int): Double =
    if (cpu0 < 0 || cpu1 < 0 || sec <= 0) -1.0
    else (cpu1 - cpu0) / 1e9 / (sec * cores)

  /** One scaling sample: the wall seconds of one whole `kg.Main` run,
    * each stage's wall ms from that run's lineage, contention telemetry,
    * and the output directory the run wrote and deleted.
    */
  final case class Sample(cores: Int, sec: Double, stageMs: Map[String, Long],
      load: Double, cpuUtil: Double, gcMsDelta: Long, out: String) {
    def json: String =
      f"""{"sec":$sec%.3f,"load":$load%.2f,""" +
        f""""cpu_util":$cpuUtil%.3f,"gc_ms":$gcMsDelta}"""
  }

  /** Times `kg.Main.run` over `docs` synthetic pages on `spark`. The run
    * writes to a directory that did not exist before the call and is
    * deleted after it: in a reused one `Stages` would resume and skip
    * every stage, and the sample would time a read.
    */
  def runSample(spark: SparkSession, docs: Long): Sample = {
    val cores = spark.sparkContext.defaultParallelism
    val out = java.nio.file.Files.createTempDirectory("graft-bench-scaling").toString
    try {
      val ld = loadAvg()
      val cpu0 = processCpuNs()
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      graft.kg.Main.run(spark, s"synth:$docs", out)
      val sec = (System.nanoTime() - t0) / 1e9
      val cpu1 = processCpuNs()
      val gc1 = gcMs()
      val stageMs = graft.kg.Main.stageSummary(new graft.kg.Stages(spark, out))
        .select("stage", "wall_ms").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      Sample(cores, sec, stageMs, ld, cpuUtilOf(cpu0, cpu1, sec, cores),
        gc1 - gc0, out)
    } finally {
      val dir = new org.apache.hadoop.fs.Path(out)
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
    }
  }

  /** The `scaling` JSON of interleaved samples at local[1] and local[4]:
    * the best sample per level counts, and the efficiency is
    * `sec_1 / (4 * sec_4)`, whole-pipeline and per stage. A stage's two
    * times come from those two best samples only, never from mixed runs.
    */
  def scalingJson(docs: Long, samples: Seq[Sample]): String = {
    val byLevel = samples.groupBy(_.cores)
    val (b1, b4) = (byLevel(1).minBy(_.sec), byLevel(4).minBy(_.sec))
    val stages = b1.stageMs.keys.toSeq.sorted.map { st =>
      val (ms1, ms4) = (b1.stageMs(st), b4.stageMs(st))
      f"""${jsonString(st)}:{"ms_1":$ms1,"ms_4":$ms4,""" +
        f""""efficiency":${ms1 / (4.0 * ms4)}%.3f}"""
    }.mkString("{", ",", "}")
    val samplesJson = Seq(1, 4).map { c =>
      "\"" + c + "\":" + byLevel(c).map(_.json).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    f"""{"docs":$docs,"n_low":1,"n_high":4,""" +
      f""""sec_1":${b1.sec}%.3f,"sec_4":${b4.sec}%.3f,""" +
      f""""efficiency":${b1.sec / (4.0 * b4.sec)}%.3f,""" +
      f""""stages":$stages,"interleaved":true,"samples":$samplesJson}"""
  }

  /** One query-phase measurement with its contention stamps. */
  final case class QSample(sec: Double, load: Double, gcMsDelta: Long) {
    def json: String = f"""{"sec":$sec%.3f,"load":$load%.2f,"gc_ms":$gcMsDelta}"""
  }

  /** A sample is contention-tainted when it started under heavy
    * co-tenant load or spent a disproportionate share of its wall time
    * in GC (the two signatures the poisoned r5 artifact carried: load
    * 3.5-5 throughout, 8.1 s GC on one 31 s sample; quiet-host runs of
    * the same code sit at load <~ 3 with near-zero GC).
    */
  def tainted(s: QSample): Boolean =
    s.load >= 4.0 || s.gcMsDelta > math.max(500L, (0.3 * s.sec * 1000).toLong)

  def bestOf(ss: Seq[QSample]): Option[QSample] =
    ss.filter(_.sec >= 0) match {
      case Seq() => None
      case valid => Some(valid.minBy(_.sec))
    }

  /** Re-sample when two runs can't establish a clean floor: the best
    * of them is tainted, or the post-warm run came out SLOWER than the
    * JIT-warming first run by >1.5x (a burst landed on run 2 — the
    * opposite ordering is the expected JIT effect, not noise).
    */
  def needsThird(s1: QSample, s2: QSample): Boolean =
    bestOf(Seq(s1, s2)).exists(tainted) ||
      (s1.sec >= 0 && s2.sec >= 0 && s2.sec > 1.5 * s1.sec)

  /** `s` as a quoted JSON string. Every control character (< 0x20) is
    * escaped: a tab or CR left raw in a harness-written string makes a
    * strict reader such as Python's json.load reject the whole file.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The driver-contract JSON line (pure, unit-testable — BENCH_r01 was
    * recorded `parsed:null` because sbt prefixed the line; the schema
    * itself must also stay machine-parseable).
    */
  def jsonLine(results: Map[String, Double], failed: Map[String, String],
      sfDir: String, scaling: String, queryEnv: String = "null",
      querySamples: String = "null", selfKnn: String = "null",
      floorSuspect: String = "null"): String = {
    val qs = results.map { case (k, v) => jsonString(k) + ":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.map { case (k, v) =>
      jsonString(k) + ":" + jsonString(v)
    }.mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""failed":$failedJson,"sf":${jsonString(sfDir)},""" +
      s""""query_env":$queryEnv,"query_samples":$querySamples,""" +
      s""""self_knn":$selfKnn,"floor_suspect":$floorSuspect,""" +
      s""""scaling":$scaling}"""
  }

  def main(args: Array[String]): Unit = {
    // the f-interpolated telemetry numbers must be locale-independent:
    // a comma-decimal default locale would render {"load":0,42} and
    // break the machine-readable line (the BENCH_r01 failure class)
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "")
    val cpus = Sessions.defaultCores
    val scaleDocs = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS", "1000").toLong
    val doScaling = sys.env.getOrElse("SPARK_GRAFT_SCALING", "1") != "0"
    val doQueries = sys.env.getOrElse("SPARK_GRAFT_QUERY_PHASE", "1") != "0"
    require(sfDir.nonEmpty || !doQueries, "the query phase reads its tables " +
      "from SPARK_GRAFT_SF_DIR: set it, or skip the phase with SPARK_GRAFT_QUERY_PHASE=0")

    // ---- phase 1: scaling (the whole kg.Main pipeline at N and 4N) ----
    // (runs first: fresh JVM state keeps the N/4N comparison clean)
    // The levels are sampled INTERLEAVED, not one level as a contiguous
    // block: this VM's co-tenant bursts last minutes, so a blocked level
    // can have every sample poisoned while its neighbour runs clean
    // (BENCH_r01 recorded one level 30x slow with the other unchanged).
    // Best-per-level over interleaved samples is the noise-floor estimate.
    val scaling: String = if (!doScaling) "null" else {
      def sampleAt(cores: Int): Sample = {
        val spark = session(cores)
        try runSample(spark, scaleDocs) finally spark.stop()
      }
      // local[1] and local[4]: the N and 4N this 4-core host can run.
      // The first run in a JVM pays JIT and code-generation warm-up,
      // about 2.5x a warm run; the levels' sessions share that JVM state.
      sampleAt(4)
      val samples = Seq.fill(3)(Seq(4, 1)).flatten.map(sampleAt)
      scalingJson(scaleDocs, samples)
    }

    // ---- phase 2: query suite ----
    val line =
      if (doQueries) queryPhase(sfDir, cpus, scaling)
      else jsonLine(Map.empty, Map.empty, sfDir, scaling)
    // stdout (unprefixed via build.sbt outputStrategy) + file mirror so
    // the driver can machine-read it either way
    println(line)
    try {
      val w = new java.io.PrintWriter("bench_out.json")
      try w.println(line) finally w.close()
    } catch { case NonFatal(_) => () }
  }

  /** The query phase on a session of its own at `cpus` cores, stopped
    * before it returns: the JSON line with per-query seconds, samples,
    * contention and self-kNN telemetry next to `scaling`.
    */
  private def queryPhase(sfDir: String, cpus: Int, scaling: String): String = {
    val spark = session(cpus)
    try {
      // contention telemetry for the QUERY phase too: scaling samples are
      // individually stamped, but a co-tenant burst during the suite
      // (min-of-2 per query can't outlast a multi-minute burst) was only
      // visible by comparing absolute totals across rounds. load0/load1 +
      // cpu_util make a poisoned suite self-diagnosing in the JSON.
      val qLoad0 = loadAvg()
      val qCpu0 = processCpuNs()
      val qGc0 = gcMs()
      val qT0 = System.nanoTime()
      val failed = scala.collection.mutable.LinkedHashMap[String, String]()
      // per-query noise telemetry: each sample carries the 1-min loadavg
      // at its start and its own GC delta, so a burst-inflated number is
      // self-diagnosing IN the artifact (r4's suite total had to be
      // explained from suite-level query_env after the fact)
      val sampleLog = scala.collection.mutable.LinkedHashMap[String, String]()
      val suspects = scala.collection.mutable.ArrayBuffer[String]()
      val results = SparkEntry.selectedQueries.map { case (name, fn) =>
        // full materialization: every output row of every column is
        // produced (toRdd sits above all projections; count() would let
        // Catalyst prune them)
        def once(): QSample = {
          val l0 = loadAvg()
          val g0 = gcMs()
          val t0 = System.nanoTime()
          val sec =
            try {
              fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
              (System.nanoTime() - t0) / 1e9
            } catch {
              case NonFatal(e) =>
                failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
                  .replaceAll("[\"\\\\\n\r\t]", " ").take(160)
                -1.0
            }
          QSample(sec, l0, gcMs() - g0)
        }
        // min-of-2 per query (the first run also JIT-warms the query's
        // code paths), escalating to a THIRD sample when two runs can't
        // establish a clean floor (needsThird: best-of-two tainted by
        // load/GC, or the post-warm run slower than warm-up by >1.5x) —
        // the committed artifact is the primary perf signal and must
        // be the noise floor or say that it isn't (r5 shipped a
        // 122.8 s co-tenant-burst suite a quiet rerun measured at 55.3 s).
        // A failure on one run never discards another run's valid
        // measurement (the query is `failed` only if every run failed).
        val s1 = once()
        val s2 = once()
        val all = if (needsThird(s1, s2)) Seq(s1, s2, once()) else Seq(s1, s2)
        sampleLog(name) = all.map(_.json).mkString("[", ",", "]")
        val bOpt = bestOf(all)
        val b = bOpt.map(_.sec).getOrElse(-1.0)
        if (b >= 0) failed.remove(name)
        // still tainted after escalation: this query's floor is suspect
        if (bOpt.exists(tainted)) suspects += name
        name -> b
      }

      // query_env closes BEFORE the telemetry pass below: wall_sec /
      // cpu_util / gc_ms diagnose the QUERY SUITE's contention and must
      // stay comparable across rounds — folding the extra self-kNN pass
      // in would mis-attribute its cost to co-tenant noise
      val qSec = (System.nanoTime() - qT0) / 1e9
      val qCpu1 = processCpuNs()
      val util = cpuUtilOf(qCpu0, qCpu1, qSec, cpus)
      val queryEnv =
        f"""{"load_start":$qLoad0%.2f,"load_end":${loadAvg()}%.2f,""" +
          f""""wall_sec":$qSec%.3f,"cpu_util":$util%.3f,""" +
          f""""gc_ms":${gcMs() - qGc0}}"""

      // self k-NN skew telemetry surfaced in the bench line: the
      // candidate_pairs Observation ivfSelfTopK computes at zero extra
      // shuffle, over the REAL sf embeddings — the number that flags a
      // degenerate quantizer cell (pairs blowing past n*nprobe*avg_cell)
      // on a production corpus. One extra pass, not part of any query's
      // timing or of query_env.
      val selfKnn: String =
        try {
          val obs = new org.apache.spark.sql.Observation("bench_self_knn")
          // Tables.table, not a hardcoded parquet path: SPARK_GRAFT_SF_DIR
          // may be a catalog:<ns> reference like every query's t() input
          val e = graft.io.Tables.table(spark, sfDir, "embeddings")
            .select("vec_id", "embedding")
          val t0 = System.nanoTime()
          // count() (a Dataset action), NOT queryExecution.toRdd: the
          // Observation's metrics are delivered by the query-execution
          // listener, which only fires on Dataset actions — executing
          // the physical RDD directly would leave obs.get blocked
          // forever
          val rows = graft.ops.Similarity
            .ivfSelfTopK(spark, e, k = 5, nlist = 8, nprobe = 2,
              metrics = Some(obs))
            .count()
          val sec = (System.nanoTime() - t0) / 1e9
          val pairs = obs.get("candidate_pairs").asInstanceOf[Long]
          f"""{"candidate_pairs":$pairs,"result_rows":$rows,"sec":$sec%.3f}"""
        } catch { case NonFatal(_) => "null" }
      val querySamples = sampleLog.map { case (k, v) => jsonString(k) + ":" + v }
        .mkString("{", ",", "}")
      // floor_suspect: the line's own flag — `suspect`
      // goes true when >=10% of queries could not establish an untainted
      // floor even after a third sample; the artifact should then be
      // read as an upper bound, not the noise floor.
      val names = suspects.map(jsonString).mkString("[", ",", "]")
      val flag = suspects.size * 10 >= results.size && suspects.nonEmpty
      jsonLine(results, failed.toMap, sfDir, scaling, queryEnv,
        querySamples, selfKnn, s"""{"suspect":$flag,"suspect_queries":$names}""")
    } finally spark.stop()
  }
}
