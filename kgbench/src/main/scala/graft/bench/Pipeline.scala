package graft.bench

import java.io.File
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.spark.Page

/** The warc_wide workload: `kg.Main.runPages` (gold tagger, labels
  * through `namesFn`) on the gzipped WARC files warcgen.py wrote for the
  * seed. A rep is one runPages call into a fresh outDir.
  *
  * Set-up is the session. The measured rep is the first one in the JVM,
  * as a batch job that runs the pipeline once sees it: it includes the
  * JIT and code-generation warm-up, about as much time again as a warm
  * rep. A warm-up rep before it costs about as much (one WARC file pays
  * nearly all of it), and the two would not fit the run's time budget.
  * A traced run measures warm reps instead: a warm-up rep on one file,
  * the traced rep, and an untraced rep after it.
  */
object Pipeline {

  val Stages = Seq("sentences", "mentions", "triples", "relations", "links",
    "nodes", "edges", "entity_rank")
  val Resumed = Seq("nodes", "edges", "entity_rank")
  val Outputs = Seq("triples", "nodes", "edges", "entity_rank")
  /** Input of the corpus.synth layer's self time. */
  val SynthPages = 2000L

  /** Per-layer metrics this workload measures, with their units. */
  val LayerMetrics: Seq[(String, String)] =
    Stages.flatMap(s => Seq("s" -> "s", "jobs" -> "count", "tasks" -> "count",
      "shuffle_mb" -> "MB", "skew" -> "ratio", "cpu_util" -> "ratio")
      .map { case (k, u) => s"stage.$s.$k" -> u }) ++ Seq(
      "stages.bookkeeping_s" -> "s", "pipeline.uncovered_s" -> "s",
      "pipeline.spill_mb" -> "MB", "pipeline.gc_s" -> "s",
      "jvm.peak_heap_mb" -> "MB", "resume.s" -> "s", "corpus.synth.s" -> "s",
      "io.warc.s" -> "s", "extract.sentences.s" -> "s")

  /** The generated input: WARC files plus what the generator planted. */
  final class Input(dir: String) {
    private def lines(name: String): Seq[Array[String]] = {
      val src = scala.io.Source.fromFile(new File(dir, name), "UTF-8")
      try src.getLines().map(_.split("\t", -1)).toVector finally src.close()
    }
    private val labels: Map[String, Seq[String]] = lines("labels.tsv")
      .map(r => r.head -> r.tail.toSeq.map(graft.extract.Extractor.normalizeTargetName))
      .toMap
    val glob: String = new File(dir, "warc").getAbsolutePath + "/*.warc.gz"
    def pages(spark: SparkSession): Dataset[Page] = graft.io.Warc.pages(spark, glob)
    /** The warm-up input: one of the files. */
    def warmPages(spark: SparkSession): Dataset[Page] =
      graft.io.Warc.pages(spark, new File(dir, "warc").getAbsolutePath + "/part-00000.warc.gz")
    val namesFn: String => Seq[String] = {
      val l = labels
      url => l.getOrElse(url, Nil)
    }
    def pageCount: Long = labels.size.toLong
    def planted: Set[(String, String)] =
      labels.iterator.flatMap { case (u, ns) => ns.map(u -> _) }.toSet
    /** (canonical, accent variant) pairs that must share a node when
      * both occur.
      */
    def samePairs: Seq[(String, String)] = lines("accent_pairs.tsv").map(r => r(0) -> r(1))
    def plantedRecords: Long = {
      val meta = scala.io.Source.fromFile(new File(dir, "meta.json"))
      try """"records": (\d+)""".r.findFirstMatchIn(meta.mkString).get.group(1).toLong
      finally meta.close()
    }
    def warcFiles: Seq[File] =
      new File(dir, "warc").listFiles.filter(_.getName.endsWith(".gz")).sortBy(_.getName).toSeq
  }

  def digests(spark: SparkSession, out: String): Map[String, String] =
    Outputs.map(t => t -> KgBench.digest(spark.read.parquet(s"$out/$t"))).toMap

  def run(c: KgBench.Conf, r: Run, work: File): Unit = {
    val in = new Input(c.input)
    var spark: SparkSession = null

    /** One runPages call; false when it threw. */
    def runPages(out: String, warm: Boolean = false): Boolean =
      try {
        graft.kg.Main.runPages(spark, if (warm) in.warmPages(spark) else in.pages(spark),
          None, Some(in.namesFn), out, "gold", 2L)
        true
      } catch { case t: Throwable => r.fail(s"runPages $out: $t"); false }

    // A finished outDir against the pinned digests of the seed; the first
    // checked outDir becomes the reference when the seed has none.
    def outputsOk(out: String): Option[String] = {
      val d = digests(spark, out)
      if (r.digests.isEmpty) r.digests = d
      val want = if (c.expect.nonEmpty) c.expect else r.digests
      val bad = Outputs.filter(t => want.get(t) != d.get(t))
      if (bad.isEmpty) None
      else Some(bad.map(t => s"$t ${d(t)} != ${want.getOrElse(t, "?")}").mkString("; "))
    }

    // one checked rep into a fresh outDir
    def rep(kind: String, out: String): Rep = {
      r.attempted += 1
      val rp = r.stamp(kind, spark.sparkContext.defaultParallelism)(runPages(out))
      if (rp.ok) r.check(s"$kind outputs")(outputsOk(out))
      rp
    }

    // ---- set-up: the session ----
    val tSetup = System.nanoTime()
    spark = KgBench.session(c.cores, work.getPath)
    val setupS = (System.nanoTime() - tSetup) / 1e9
    r.report += "setup_s" -> setupS.toString
    r.report += "pages" -> in.pageCount.toString
    if (c.expect.isEmpty) r.notes += s"seed ${c.seed} has no pinned digests"

    val firstOut = new File(work, "out-0").getPath
    var traced: Option[(Rep, Attribution, Double, Double)] = None
    val measured = if (!c.trace) {
      // ---- the measured rep: closed loop, one client; it takes longer
      // than --seconds ----
      rep("pipeline", firstOut)
    } else {
      r.attempted += 1
      r.stamp("warmup", c.cores)(runPages(new File(work, "out-warmup").getPath, warm = true))
      // ---- traced rep: listener attached around one fresh runPages; its
      // outputs are checked after the trace closes ----
      val tr = new TraceListener
      val out = new File(work, "out-traced").getPath
      KgBench.heapPools.foreach(_.resetPeakUsage())
      val gc0 = KgBench.gcMs()
      spark.sparkContext.addSparkListener(tr)
      r.attempted += 1
      val t0 = System.currentTimeMillis()
      val rp = r.stamp("traced", c.cores)(runPages(out))
      val t1 = System.currentTimeMillis()
      val gcS = (KgBench.gcMs() - gc0) / 1000.0
      val peakHeapMb = KgBench.heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
      org.apache.spark.kgbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tr)
      if (rp.ok) r.check("traced outputs")(outputsOk(out))
      traced = Some((rp, Attribution.of(tr, out, Stages, t0, t1, c.cores), gcS, peakHeapMb))
      // the untraced base of the tracing overhead: a rep after the traced one
      rep("after", firstOut)
    }
    // a traced run's pipeline_s is that of its warm untraced rep
    r.report += "pipeline_s" -> measured.sec.toString
    r.report += "pages_per_s" -> (in.pageCount / measured.sec).toString

    // ---- checks against what the generator planted ----
    r.check("planted triples") {
      val got = spark.read.parquet(s"$firstOut/triples")
        .filter(col("pred") === graft.kg.Triples.MentionsPerson)
        .select("subj", "obj").collect().map(x => (x.getString(0), x.getString(1))).toSet
      val want = in.planted
      if (got == want) None
      else Some(s"triples differ from the planted set: ${(want -- got).size} missing, " +
        s"${(got -- want).size} extra, e.g. ${(want -- got).take(3).mkString(" ")}")
    }
    r.check("accent variants share a node") {
      val entityOf = spark.read.parquet(s"$firstOut/nodes")
        .select(col("entity_id"), explode(col("aliases")).as("alias")).collect()
        .map(x => x.getString(1) -> x.getString(0)).toMap
      val occur = in.samePairs.filter { case (a, b) => entityOf.contains(a) && entityOf.contains(b) }
      val split = occur.filter { case (a, b) => entityOf(a) != entityOf(b) }
      r.report += "variant_pairs_checked" -> occur.size.toString
      if (occur.isEmpty) Some("no planted variant pair occurs")
      else if (split.isEmpty) None
      else Some(s"${split.size} pairs split, e.g. ${split.take(3).mkString(" ")}")
    }
    r.check("warc records parse") {
      val got = in.warcFiles.map { f =>
        val s = new java.io.FileInputStream(f)
        try graft.io.Warc.records(s, gzipped = true).size.toLong finally s.close()
      }.sum
      if (got == in.plantedRecords) None else Some(s"parsed $got records, planted ${in.plantedRecords}")
    }

    traced match {
      case None =>
        r.metrics += (("rep_s", measured.sec, "s"))
        r.metrics += (("rep_cpu_s", measured.cpuS, "s"))
        r.metrics += (("setup_s", setupS, "s"))
      case Some((rp, a, gcS, peakHeapMb)) =>
        r.check("stage attribution") {
          if (a.missing.nonEmpty) Some(s"no output write seen for ${a.missing.mkString(",")}")
          else if (a.mismatches.nonEmpty) Some(a.mismatches.mkString("; "))
          else None
        }
        a.stages.foreach { s =>
          r.metrics += ((s"stage.${s.name}.s", s.s, "s"))
          r.metrics += ((s"stage.${s.name}.jobs", s.jobs.toDouble, "count"))
          r.metrics += ((s"stage.${s.name}.tasks", s.tasks.toDouble, "count"))
          r.metrics += ((s"stage.${s.name}.shuffle_mb", s.shuffleMb, "MB"))
          r.metrics += ((s"stage.${s.name}.skew", s.skew, "ratio"))
          r.metrics += ((s"stage.${s.name}.cpu_util", s.cpuUtil, "ratio"))
        }
        r.metrics += (("stages.bookkeeping_s", a.stages.map(_.bookkeepingS).sum, "s"))
        r.metrics += (("pipeline.uncovered_s", a.uncoveredS, "s"))
        r.metrics += (("pipeline.spill_mb", a.spillMb, "MB"))
        r.metrics += (("pipeline.gc_s", gcS, "s"))
        r.metrics += (("jvm.peak_heap_mb", peakHeapMb, "MB"))
        r.report += "traced_pipeline_s" -> rp.sec.toString
        r.report += "trace_overhead_s" -> (rp.sec - measured.sec).toString
        r.report += "jobs" -> a.jobsSeen.toString
        r.report += "uncovered_jobs" -> a.uncoveredJobs.toString
        r.report += "exec_checked_jobs" -> a.execChecked.toString
        r.report += "stage_share" -> a.stages.map(s =>
          s""""${s.name}":${s.s / rp.sec}""").mkString("{", ",", "}")

        // rerun on the traced rep's outDir with the last three stages gone:
        // the other stages are read back through kg.Stages
        val out = new File(work, "out-traced").getPath
        Resumed.foreach(s => KgBench.deleteTree(new File(out, s)))
        r.metrics += (("resume.s", rep("resume", out).sec, "s"))

        // ---- layer self times: each source / kernel into a noop sink ----
        def noop(df: DataFrame): Double = {
          val t = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t) / 1e9
        }
        r.metrics += (("corpus.synth.s",
          noop(graft.corpus.SyntheticCorpus.pages(spark, SynthPages, seed = c.seed).toDF()), "s"))
        r.metrics += (("io.warc.s", noop(in.pages(spark).toDF()), "s"))
        r.metrics += (("extract.sentences.s", noop(graft.spark.ExtractStage.sentences(
          spark, in.pages(spark), targetNamesFn = Some(in.namesFn)).toDF()), "s"))

        // ---- single-threaded baseline (north-rule scaling efficiency) ----
        // one rep at local[1]; skipped rather than overrun
        val left = c.budgetS - (System.nanoTime() - tSetup) / 1e9
        if (left < 1.5 * measured.sec + 15) r.report += "scaling_eff" -> "null"
        else {
          spark.stop()
          spark = KgBench.session(1, work.getPath)
          val s1 = rep("local1", new File(work, "out-local1").getPath).sec
          r.report += "local1_pipeline_s" -> s1.toString
          r.report += "scaling_eff" -> (s1 / (c.cores * measured.sec)).toString
        }
    }
    spark.stop()
  }
}
