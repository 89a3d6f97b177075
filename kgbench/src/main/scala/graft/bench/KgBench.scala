package graft.bench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it, as
    * (percentile, value); the minimum when there are fewer than eleven
    * samples.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size < 11) (0.0, s.headOption.getOrElse(Double.NaN))
    else (100.0 * (s.size - 10) / s.size, s(s.size - 11))
  }
}

/** One timed rep, stamped with what explains a co-tenant-inflated
  * sample: 1-min loadavg at its start, process CPU seconds and
  * utilisation, and GC time. Stamps are recorded only; no sample is
  * dropped because of them.
  */
final case class Rep(kind: String, sec: Double, cpuS: Double, load: Double,
    cpuUtil: Double, gcMs: Long, ok: Boolean) {
  def json: String =
    s"""{"kind":"$kind","sec":$sec,"cpu_s":$cpuS,"load":$load,"cpu_util":$cpuUtil,""" +
      s""""gc_ms":$gcMs,"ok":$ok}"""
}

/** What one benchmark run has measured and checked so far. */
final class Run {
  var attempted = 0
  var failed = 0
  val reps = ArrayBuffer.empty[Rep]
  val notes = ArrayBuffer.empty[String]
  val metrics = ArrayBuffer.empty[(String, Double, String)]
  val report = ArrayBuffer.empty[(String, String)]
  var digests: Map[String, String] = Map.empty

  def fail(msg: String): Unit = {
    failed += 1
    notes += msg
    System.err.println(s"[kgbench] FAIL $msg")
  }

  /** One checked operation: attempted once, failed when `body` returns
    * an error or throws.
    */
  def check(name: String)(body: => Option[String]): Unit = {
    attempted += 1
    val err = try body catch { case t: Throwable => Some(t.toString) }
    err.foreach(e => fail(s"$name: $e"))
  }

  /** Time `body` as one rep; it returns false when an operation in it
    * failed.
    */
  def stamp(kind: String, cores: Int)(body: => Boolean): Rep = {
    val load = KgBench.loadAvg()
    val cpu0 = KgBench.cpuNs(); val gc0 = KgBench.gcMs()
    val t0 = System.nanoTime()
    val ok = body
    val sec = (System.nanoTime() - t0) / 1e9
    val cpuS = if (cpu0 < 0) -1.0 else (KgBench.cpuNs() - cpu0) / 1e9
    val r = Rep(kind, sec, cpuS, load, cpuS / (sec * cores), KgBench.gcMs() - gc0, ok)
    reps += r
    System.err.println(s"[kgbench] rep ${r.json}")
    r
  }
}

/** The benchmark harness: one process, one client in a closed loop, at
  * local[cores]. Prints one JSON result line as the last line of stdout
  * and writes the full report to `<work>/report.json`.
  *
  * Usage: KgBench --workload warc_wide|query_suite --seed N
  *   --trace 0|1 --work DIR --input DIR [--cores C]
  *   [--budget S] [--expect name=digest,...]
  *   [--pretests N --pretest-fail "a; b"]
  *
  * `--input` is the generated WARC directory (warc_wide) or the source
  * tables (query_suite). `--pretests` counts the
  * input self-tests the launcher ran and `--pretest-fail` lists the ones
  * that failed, so they count toward `failed` like every other check.
  * `--budget` is the time the run may take; the informational local[1]
  * baseline of a traced run is skipped when it would not fit.
  *
  * A traced run prints every per-layer metric of every workload; the
  * layers a workload does not run report 0.
  */
object KgBench {

  final case class Conf(workload: String, seed: Long, trace: Boolean,
      work: String, input: String, cores: Int, budgetS: Double,
      expect: Map[String, String], pretests: Int, pretestFails: Seq[String])

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seed").toLong, m.getOrElse("trace", "0") == "1",
      m("work"), m.getOrElse("input", ""), m.getOrElse("cores", "4").toInt,
      m.getOrElse("budget", "1e9").toDouble,
      m.getOrElse("expect", "").split(",").filter(_.contains("="))
        .map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap,
      m.getOrElse("pretests", "0").toInt,
      m.getOrElse("pretest-fail", "").split("; ").filter(_.nonEmpty).toSeq)
  }

  // ---- contention stamps, as graft.Bench records them ----

  def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }

  def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def session(cores: Int, work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // the configuration kg.Main builds for itself
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(new File(work, "checkpoints").getAbsolutePath)
    s
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Order-independent digest of a table: xor of row hashes plus count. */
  def digest(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(bit_xor(col("h")), count(lit(1))).collect()(0)
    val h = if (r.isNullAt(0)) 0L else r.getLong(0)
    f"${h}%016x:${r.getLong(1)}"
  }

  /** Every per-layer metric of every workload, in report order. */
  val LayerMetrics: Seq[(String, String)] = Pipeline.LayerMetrics ++ Suite.LayerMetrics

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val c = parse(args)
    val work = new File(c.work).getAbsoluteFile
    deleteTree(work)
    work.mkdirs()
    val r = new Run
    r.attempted += c.pretests
    c.pretestFails.foreach(r.fail)

    c.workload match {
      case "query_suite" => Suite.run(c, r, work)
      case "warc_wide" => Pipeline.run(c, r, work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (c.trace) {
      val have = r.metrics.map(_._1).toSet
      LayerMetrics.filterNot(m => have(m._1)).foreach { case (n, u) => r.metrics += ((n, 0.0, u)) }
    }

    val correct = r.failed == 0
    val report = Seq("workload" -> s""""${c.workload}"""", "seed" -> c.seed.toString,
      "trace" -> c.trace.toString, "cores" -> c.cores.toString) ++ r.report ++ Seq(
      "attempted" -> r.attempted.toString,
      "failed_share" -> (r.failed.toDouble / math.max(1, r.attempted)).toString,
      "digests" -> r.digests.toSeq.sorted.map { case (k, v) => s""""$k":"$v"""" }
        .mkString("{", ",", "}"),
      "reps" -> r.reps.map(_.json).mkString("[", ",", "]"),
      "notes" -> r.notes.map(n => "\"" + Json.esc(n) + "\"").mkString("[", ",", "]"),
      "metrics" -> Json.metrics(r.metrics.toSeq))
    // keep only the report: outputs, tables and spill files go
    work.listFiles.foreach(deleteTree)
    java.nio.file.Files.write(new File(work, "report.json").toPath,
      report.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}").getBytes("UTF-8"))
    println(s"""{"correct":$correct,"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":${Json.metrics(r.metrics.toSeq)}}""")
    if (!correct) sys.exit(1)
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "-1.0" else v.toString
  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
}
