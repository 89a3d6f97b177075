package graft

import org.apache.spark.sql.SparkSession
import graft.spark.Sessions

/** The one local SparkSession the specs share. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.session("graft-test", 8)

  /** Runs `body` under a fresh job group and returns how many Spark jobs
    * it started; the listener bus is drained first, so every job-start
    * event has arrived.
    */
  def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      try body finally sc.clearJobGroup()
      org.apache.spark.ListenerBusAccess.drain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** Recursive temp-dir cleanup shared by the specs (was copy-pasted
    * nine times across the kg/io suites). Null-safe on vanished dirs.
    */
  def deleteRec(p: java.io.File): Unit = {
    if (p.isDirectory) {
      val fs = p.listFiles
      if (fs != null) fs.foreach(deleteRec)
    }
    p.delete()
  }
}
