package graft.bench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spans recorded from outside the program: every job, task and SQL
  * execution of the traced interval, kept in memory and attributed to
  * pipeline stages afterwards.
  */
final class TraceListener extends SparkListener {
  import TraceListener._

  val jobs = ArrayBuffer.empty[Job]
  val tasks = ArrayBuffer.empty[Task]
  val execs = ArrayBuffer.empty[Exec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobs += Job(e.jobId, e.time, -1L, e.stageIds,
      prop("spark.jobGroup.id").getOrElse(""),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += Task(e.stageId, e.taskInfo.duration, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs += Exec(s.executionId, s.time, -1L,
          TraceListener.writePath(s.physicalPlanDescription))
      case s: SparkListenerSQLExecutionEnd =>
        execs.find(_.id == s.executionId).foreach(_.end = s.time)
      case _ =>
    }
  }
}

object TraceListener {
  /** A job, with its job group and the SQL execution it ran under (-1
    * for none).
    */
  final case class Job(id: Int, start: Long, var end: Long, stageIds: Seq[Int],
      group: String, execId: Long)
  final case class Task(stageId: Int, durMs: Long, cpuNs: Long,
      shuffleWrite: Long, spill: Long)
  final case class Exec(id: Long, start: Long, var end: Long, writePath: Option[String])

  private val Insert = "InsertIntoHadoopFsRelationCommand"
  private val PathRe = """(file:[^\s,\]]+)""".r

  /** Output path of a file write, read from the physical plan text: the
    * formatted plan lists the command again in its details section,
    * with the path as the first of its arguments.
    */
  def writePath(plan: String): Option[String] = {
    val i = if (plan == null) -1 else plan.lastIndexOf(Insert)
    if (i < 0) None
    else {
      val args = plan.indexOf("Arguments:", i)
      val from = if (args >= 0) args else i
      PathRe.findFirstIn(plan.substring(from)).map(_.stripPrefix("file:"))
        .map(p => p.stripSuffix("/"))
    }
  }
}

/** Per-stage numbers of one traced `runPages` call. */
final case class StageSpan(name: String, s: Double, bookkeepingS: Double,
    jobs: Int, tasks: Int, shuffleMb: Double, skew: Double, cpuUtil: Double)

final case class Attribution(stages: Seq[StageSpan], uncoveredJobs: Int,
    uncoveredS: Double, jobsSeen: Int, execChecked: Int, spillMb: Double,
    missing: Seq[String], mismatches: Seq[String])

object Attribution {

  /** Split the jobs of one `runPages` call into stages by the writes
    * that end each stage: `<out>/<stage>` closes the stage's own span,
    * the following `<out>/_lineage` append closes its bookkeeping span.
    * A job belongs to the span in which it started; jobs after the last
    * lineage append are uncovered.
    *
    * The split is cross-checked against an independent key: every job
    * that ran under the SQL execution of a stage's output write, or of
    * its lineage append, must have landed in that stage's span. Each
    * disagreement is reported in `mismatches`.
    */
  def of(tr: TraceListener, outDir: String, stageNames: Seq[String],
      t0Ms: Long, t1Ms: Long, cores: Int): Attribution = tr.synchronized {
    val out = new java.io.File(outDir).getAbsolutePath.stripSuffix("/")
    val writes = tr.execs.filter(e => e.end >= 0 && e.start >= t0Ms &&
      e.writePath.isDefined).sortBy(_.end)
    val jobs = tr.jobs.filter(j => j.start >= t0Ms && j.start <= t1Ms)
      .sortBy(_.start)
    val mismatches = ArrayBuffer.empty[String]
    var execChecked = 0
    // jobs of execution `e` must all be in `span`
    def crossCheck(st: String, e: TraceListener.Exec,
        span: collection.Seq[TraceListener.Job]): Unit = {
      val ids = span.map(_.id).toSet
      val of = jobs.filter(_.execId == e.id)
      execChecked += of.size
      of.filterNot(j => ids(j.id)).foreach(j =>
        mismatches += s"job ${j.id} of the $st write (execution ${e.id}) fell outside its span")
    }
    var prev = t0Ms - 1
    val spans = ArrayBuffer.empty[StageSpan]
    val missing = ArrayBuffer.empty[String]
    stageNames.foreach { st =>
      val w = writes.find(e => e.writePath.contains(s"$out/$st") && e.end > prev)
      w match {
        case None => missing += st
        case Some(we) =>
          val lin = writes.find(e => e.writePath.contains(s"$out/_lineage") &&
            e.end >= we.end)
          val linEnd = lin.map(_.end).getOrElse(we.end)
          val own = jobs.filter(j => j.start > prev && j.start <= we.end)
          val book = jobs.filter(j => j.start > we.end && j.start <= linEnd)
          crossCheck(st, we, own)
          lin.foreach(crossCheck(s"$st lineage", _, book))
          val stageIds = own.flatMap(_.stageIds).toSet
          val ts = tr.tasks.filter(t => stageIds(t.stageId))
          val sec = (we.end - prev) / 1000.0
          spans += StageSpan(st, sec, (linEnd - we.end) / 1000.0, own.size,
            ts.size, ts.map(_.shuffleWrite).sum / 1e6, skewOf(ts.toSeq),
            if (sec > 0) ts.map(_.cpuNs).sum / 1e9 / (sec * cores) else 0.0)
          prev = linEnd
      }
    }
    val late = jobs.filter(_.start > prev)
    val allStageIds = jobs.flatMap(_.stageIds).toSet
    val covered = spans.map(s => s.s + s.bookkeepingS).sum
    Attribution(spans.toSeq, late.size,
      // listener event times and the caller's clock may differ by a
      // millisecond, so a fully covered call can come out slightly negative
      math.max(0.0, (t1Ms - t0Ms) / 1000.0 - covered), jobs.size, execChecked,
      tr.tasks.filter(t => allStageIds(t.stageId)).map(_.spill).sum / 1e6,
      missing.toSeq, mismatches.toSeq)
  }

  /** DS2-style skew: max / median task time of the span's dominant Spark
    * stage (the one with the most task time); 1.0 for single-task
    * stages.
    */
  def skewOf(ts: Seq[TraceListener.Task]): Double = {
    val byStage = ts.groupBy(_.stageId).values.filter(_.size >= 2)
    if (byStage.isEmpty) 1.0
    else {
      val dom = byStage.maxBy(_.map(_.durMs).sum)
      val d = dom.map(_.durMs.toDouble).toSeq.sorted
      val med = Stats.median(d)
      if (med > 0) d.last / med else d.last.max(1.0)
    }
  }
}
