package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.spark.{ExtractStage, Page}
import graft.kg.Triples

/** Incremental crawl ingest (SURVEY §2.8): the same extract→tag→triples
  * stages running under Structured Streaming. New page files appearing
  * under `pagesDir` are picked up per micro-batch; `foreachBatch` runs
  * kg.Main's pages→triples chain (`ExtractStage.sentences`, an HMM
  * decode when a model is given, `Triples.goldMentions`,
  * `Triples.fromMentions`) on the batch, appends its triples to the
  * sink, and checkpoints offsets — so incremental ingest composes with
  * the batch pipeline instead of forking it.
  */
object IncrementalIngest {

  def start(
      spark: SparkSession,
      pagesDir: String,
      triplesDir: String,
      checkpointDir: String,
      targetNamesFn: Option[String => Seq[String]] = None,
      model: Option[graft.tag.HmmModel] = None): StreamingQuery = {
    import spark.implicits._

    val pageSchema = implicitly[org.apache.spark.sql.Encoder[Page]].schema
    val stream = spark.readStream
      .schema(pageSchema)
      .parquet(pagesDir)

    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sents = ExtractStage.sentences(spark, batch.as[Page],
          targetNamesFn = targetNamesFn)
        val mentions = model match {
          case Some(m) => Triples.goldMentions(spark,
            Triples.decodedSentences(spark, m, sents), confidence = 0.9)
          case None => Triples.goldMentions(spark, sents)
        }
        // idempotent under foreachBatch's at-least-once replay: each
        // micro-batch overwrites its own batch_id partition, so a retry
        // after a partial write cannot duplicate triples. Re-crawled
        // urls across batches are deduped downstream (the batch
        // pipeline's global dropDuplicates over the sink).
        Triples.fromMentions(spark, mentions)
          .write.mode("overwrite")
          .parquet(s"$triplesDir/batch_id=$batchId")
        ()
      }
      .start()
  }
}
