package graft

import org.apache.spark.sql.SparkSession
import graft.spark.Sessions

/** The one local SparkSession the specs share. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.session("graft-test", 8)

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
