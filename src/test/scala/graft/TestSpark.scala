package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession the specs share. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
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
