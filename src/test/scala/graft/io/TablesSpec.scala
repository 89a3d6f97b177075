package graft.io

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Table-access seam: the same `Tables.table(spark, loc, name)` call
  * resolves parquet directories and catalog namespaces — the production
  * Iceberg path (`catalog:ice.db`) differs only in the configured
  * catalog implementation, not in engine code.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("parquet dir and catalog namespace resolve through the same seam") {
    import spark.implicits._
    // a region-shaped table in its own scale-factor-style directory
    val sf = java.nio.file.Files.createTempDirectory("graft-tables").toString
    Seq((0L, "AFRICA", "lar deposits"), (1L, "AMERICA", "hs use ironic"),
        (2L, "ASIA", "ges. thinly even"), (3L, "EUROPE", "ly final courts"),
        (4L, "MIDDLE EAST", "uickly special"))
      .toDF("r_regionkey", "r_name", "r_comment")
      .write.parquet(s"$sf/region.parquet")
    val fromParquet = Tables.table(spark, sf, "region")
    assert(fromParquet.count() == 5)
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_seam")
    fromParquet.write.mode("overwrite").saveAsTable("graft_seam.region")
    val fromCatalog = Tables.table(spark, "catalog:graft_seam", "region")
    assert(fromCatalog.schema == fromParquet.schema)
    assert(fromCatalog.collect().map(_.toString).sorted.toSeq ==
      fromParquet.collect().map(_.toString).sorted.toSeq)
    spark.sql("DROP TABLE graft_seam.region")
    spark.sql("DROP DATABASE graft_seam")
  }
}
