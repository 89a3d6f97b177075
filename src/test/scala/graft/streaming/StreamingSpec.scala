package graft.streaming

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.corpus.SyntheticCorpus

/** Incremental ingest: two micro-batches of pages through the streaming
  * pipeline accumulate exactly the triples kg.Main writes for the same
  * pages, and a page repeated within a micro-batch yields its triples
  * once.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streamed pages produce the same triples as the batch path") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_stream").toString
    val pagesDir = s"$base/pages"
    val triplesDir = s"$base/triples"
    val ckptDir = s"$base/ckpt"

    // batch 1: pages 0-49
    SyntheticCorpus.pages(spark, 50, numPartitions = 2)
      .write.mode("append").parquet(pagesDir)

    val q = IncrementalIngest.start(spark, pagesDir, triplesDir, ckptDir,
      targetNamesFn = Some(SyntheticCorpus.targetNamesFn()))
    q.processAllAvailable()

    val n1 = spark.read.parquet(triplesDir).count()
    assert(n1 > 0)

    // batch 2: pages 50-99 arrive later
    SyntheticCorpus.pages(spark, 100, numPartitions = 2)
      .filter(org.apache.spark.sql.functions.element_at(
        org.apache.spark.sql.functions.split($"url", "/"), -1)
        .cast("long") >= 50)
      .write.mode("append").parquet(pagesDir)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(triplesDir).select("subj", "obj")

    // batch reference: kg.Main's triples stage over all written pages
    val allPages = spark.read.parquet(pagesDir).as[graft.spark.Page]
    graft.kg.Main.runPages(spark, allPages, None,
      Some(SyntheticCorpus.targetNamesFn()), s"$base/kg", tagger = "gold")
    val batch = spark.read.parquet(s"$base/kg/triples").select("subj", "obj")

    assert(streamed.count() == batch.count(),
      s"streamed ${streamed.count()} != batch ${batch.count()}")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed and batch triples differ")
    graft.TestSpark.deleteRec(new java.io.File(base))
  }

  test("a page repeated within one micro-batch writes its triples once") {
    val base = Files.createTempDirectory("graft_stream_dup").toString
    val pages = SyntheticCorpus.pages(spark, 20, numPartitions = 2)
    // one write before the query starts: both copies land in batch 0
    pages.union(pages).write.parquet(s"$base/pages")

    val q = IncrementalIngest.start(spark, s"$base/pages", s"$base/triples",
      s"$base/ckpt", targetNamesFn = Some(SyntheticCorpus.targetNamesFn()))
    q.processAllAvailable()
    q.stop()

    val triples = spark.read.parquet(s"$base/triples")
    assert(triples.select("batch_id").distinct().count() == 1)
    val n = triples.count()
    val distinct = triples.select("subj", "obj").distinct().count()
    assert(n > 0 && n == distinct, s"$n triples, $distinct distinct")
    graft.TestSpark.deleteRec(new java.io.File(base))
  }
}
