package graft

import org.apache.spark.sql.SparkSession

/** The north-rule scaling job, shared by the in-JVM bench (`Bench`)
  * and the multi-JVM probe (`DevCluster`) so both parallelism
  * measurements time the SAME pipeline, kg.Main's pages→triples chain:
  * synthetic pages -> parity-DOM extract -> carried labels -> mention
  * spans -> (subj, pred, obj, url) triples deduplicated by one
  * hash-shuffle -> count.
  */
object ScalingJob {

  /** Run once over `docs` synthetic pages; returns (triples, seconds). */
  def run(spark: SparkSession, docs: Long, partitions: Int): (Long, Double) = {
    val pages = graft.corpus.SyntheticCorpus.pages(spark, docs,
      numPartitions = partitions)
    val sents = graft.spark.ExtractStage.sentences(spark, pages,
      targetNamesFn = Some(graft.corpus.SyntheticCorpus.targetNamesFn()))
    val triples = graft.kg.Triples.fromMentions(spark,
      graft.kg.Triples.goldMentions(spark, sents))
    val t0 = System.nanoTime()
    val n = triples.count()
    (n, (System.nanoTime() - t0) / 1e9)
  }
}
