package graft.spark

import graft.TestSpark
import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

class SessionsSpec extends AnyFunSuite {

  test("a master set by spark-submit or -Dspark.master is kept") {
    val submitted = new SparkConf(false).set("spark.master", "spark://host:7077")
    assert(Sessions.localMaster(submitted, 4).isEmpty)
    assert(Sessions.localMaster(new SparkConf(false), 4).contains("local[4]"))
  }

  // the builder sets none of the AQE keys: these hold as Spark defaults
  test("the shared session: AQE and skew join on, partitions = cores, UTC") {
    val spark = TestSpark.spark
    val conf = spark.conf
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(spark.sparkContext.master == "local[8]")
    assert(conf.get("spark.sql.shuffle.partitions") == "8")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
