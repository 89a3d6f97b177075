package graft.spark

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session builder behind every entry point and the specs.
  *
  * A master that spark-submit (`--master`) or `-Dspark.master` already
  * set wins; only without one does the session run `local[cores]`. Shuffle
  * partitions follow the core budget, the UI is off, the session time zone
  * is UTC and the log level is WARN.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS` when set, else the host's processor count. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The local master to set, or None when `conf` already names one. */
  def localMaster(conf: SparkConf, cores: Int): Option[String] =
    if (conf.contains("spark.master")) None else Some(s"local[$cores]")

  def session(appName: String, cores: Int = defaultCores): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
    localMaster(new SparkConf(), cores).foreach(b.master)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
