package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CorpusStatsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("exact quantiles match the sequential interpolation definition") {
    import spark.implicits._
    // values 10,20,30,40 (shuffled input): r(0.5)=1.5 -> 25.0,
    // r(0.25)=0.75 -> 17.5, r(1.0)=3 -> 40, r(0.0)=0 -> 10
    val df = Seq(30L, 10L, 40L, 20L).toDF("n")
    val q = CorpusStats.exactQuantiles(spark, df, "n",
      Seq(0.0, 0.25, 0.5, 1.0))
    assert(q == Map(0.0 -> 10.0, 0.25 -> 17.5, 0.5 -> 25.0, 1.0 -> 40.0))
    // partition-count independent; ties and NULLs handled
    val big = spark.range(1001).select(
      when(col("id") % 100 === 0, lit(null)).otherwise(col("id") % 101)
        .cast("long").as("n"))
    val a = CorpusStats.exactQuantiles(spark, big.repartition(1), "n", Seq(0.5))
    val b = CorpusStats.exactQuantiles(spark, big.repartition(13), "n", Seq(0.5))
    assert(a == b)
    // empty and single-value inputs
    assert(CorpusStats.exactQuantiles(spark,
      Seq.empty[Long].toDF("n"), "n", Seq(0.5)).isEmpty)
    assert(CorpusStats.exactQuantiles(spark,
      Seq(7L).toDF("n"), "n", Seq(0.0, 0.5, 1.0))
      == Map(0.0 -> 7.0, 0.5 -> 7.0, 1.0 -> 7.0))
  }

  test("tokenCard: one summary row, quantiles agree with Spark's own percentile") {
    val docs = spark.range(500).select(
      (pmod(col("id") * 37 + 11, lit(90)) + 1).cast("long").as("n_tokens"))
    val row = CorpusStats.tokenCard(spark, docs).collect()(0)
    assert(row.getAs[Long]("n_docs") == 500)
    val expect = docs.agg(
      expr("percentile(n_tokens, 0.5)"), expr("percentile(n_tokens, 0.9)"),
      sum("n_tokens")).collect()(0)
    assert(math.abs(row.getAs[Double]("p50_tokens") - expect.getDouble(0)) < 1e-9)
    assert(math.abs(row.getAs[Double]("p90_tokens") - expect.getDouble(1)) < 1e-9)
    assert(row.getAs[Long]("total_tokens") == expect.getLong(2))
  }
}
