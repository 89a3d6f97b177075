package graft.kg

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.metrics.SpanMetrics
import graft.spark.{Mention, SentenceRow, Triple}
import graft.tag.Hmm

/** Mention detection + triple projection (the reference's prediction
  * output generalized to (subj, pred, obj) per the north star): every
  * person-name span becomes `(url, "mentionsPerson", name)` carrying
  * page metadata — a narrow projection, no shuffle (SURVEY §2.3 J5).
  */
object Triples {
  val MentionsPerson = "mentionsPerson"

  def mentionsFromTags(s: SentenceRow, tags: Seq[String],
      confidence: Double): Iterator[Mention] =
    SpanMetrics.namedEntities(tags).iterator.map { case (start, end, _) =>
      Mention(s.url, s.warc_ts, s.lang, s.sent_id, start, end,
        s.tkns.slice(start, end + 1).mkString(" "), confidence)
    }

  /** Mentions from the labels carried by the sentences — gold labels in
    * the dataset-construction path, or a tagger's decoded tags written
    * back by [[taggedSentences]] (pass the decode confidence then).
    */
  def goldMentions(spark: SparkSession,
      sents: Dataset[SentenceRow],
      confidence: Double = 1.0): Dataset[Mention] = {
    import spark.implicits._
    val conf = confidence
    sents.flatMap(s => mentionsFromTags(s, s.bio, conf))
  }

  /** The one tag write-back: sentences with `bio` replaced by the tag
    * ids a tagger decoded for them (`Hmm.predict` or `BiLstmCrf.predict`),
    * named through the engine's O/B-PER/I-PER order ([[Hmm.Labels]]).
    * The result is ONE decode pass that serves every downstream
    * projection (mentions AND relations), instead of each stage
    * re-running the tagger over the corpus. Narrow.
    */
  def taggedSentences(spark: SparkSession,
      decoded: Dataset[(SentenceRow, Seq[Int])]): Dataset[SentenceRow] = {
    import spark.implicits._
    decoded.map { case (s, tags) => s.copy(bio = tags.map(Hmm.Labels(_))) }
  }

  /** Project mentions to deduplicated triples. The dropDuplicates is a
    * hash-shuffle on (subj,pred,obj,url) — the only shuffle in the
    * triple path.
    */
  def fromMentions(spark: SparkSession,
      mentions: Dataset[Mention]): Dataset[Triple] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // relational projection (not a closure) so Catalyst can prune/fold
    mentions.select(
      col("url").as("subj"),
      lit(MentionsPerson).as("pred"),
      col("name").as("obj"),
      col("url"),
      col("warc_ts"),
      col("confidence")).as[Triple]
      .dropDuplicates("subj", "pred", "obj", "url")
  }
}
