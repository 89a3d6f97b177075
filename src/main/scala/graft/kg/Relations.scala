package graft.kg

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.metrics.SpanMetrics
import graft.spark.{SentenceRow, Triple}

/** Surface-pattern relation extraction (north star: "dependency-pattern
  * relation extraction to (subj, pred, obj) candidates"). The reference
  * has no dependency parser — its per-token features already mark the
  * pattern anchors (honorific prefix `util/html_segmenter.py:59-70`,
  * email `:44-45`), so relations are deterministic token-sequence
  * patterns within a sentence, and the whole stage is a narrow
  * `flatMap` over `Dataset[SentenceRow]` (no shuffle; same execution
  * shape as mention projection).
  *
  * Patterns:
  *  - `hasTitle`: honorific token directly preceding a person span
  *    ("Dr. Alice Smith" -> (Alice Smith, hasTitle, Dr.)). The
  *    tokenizer keeps "Dr." as one token ('.' is not in the reference
  *    punctuation class), so direct adjacency is the right test.
  *  - `hasEmail`: an email token in the sentence, attributed to the
  *    nearest person span by token distance (ties -> earlier span) —
  *    the standard faculty-directory layout "Name ... email".
  */
object Relations {
  val HasTitle = "hasTitle"
  val HasEmail = "hasEmail"

  private val EmailFeature = 5
  private val TitleFeature = 7

  def fromTags(s: SentenceRow, tags: Seq[String],
      confidence: Double): Iterator[Triple] = {
    val spans = SpanMetrics.namedEntities(tags)
    if (spans.isEmpty) return Iterator.empty
    val names = spans.map { case (st, en, _) =>
      s.tkns.slice(st, en + 1).mkString(" ")
    }
    val out = Seq.newBuilder[Triple]
    var i = 0
    while (i < spans.length) {
      val (st, _, _) = spans(i)
      if (st > 0 && s.feats(st - 1)(TitleFeature) == "1")
        out += Triple(names(i), HasTitle, s.tkns(st - 1), s.url, s.warc_ts,
          confidence)
      i += 1
    }
    var j = 0
    while (j < s.tkns.length) {
      if (s.feats(j)(EmailFeature) == "1") {
        var best = 0
        var bestD = Int.MaxValue
        var k = 0
        while (k < spans.length) {
          val (st, en, _) = spans(k)
          val d = if (j < st) st - j else if (j > en) j - en else 0
          if (d < bestD) { bestD = d; best = k } // ties keep earlier span
          k += 1
        }
        out += Triple(names(best), HasEmail, s.tkns(j), s.url, s.warc_ts,
          confidence)
      }
      j += 1
    }
    out.result().iterator
  }

  /** Relations from the labels carried by the sentences (gold, or
    * decoded tags written back by [[Triples.taggedSentences]]).
    */
  def goldRelations(spark: SparkSession,
      sents: Dataset[SentenceRow],
      confidence: Double = 1.0): Dataset[Triple] = {
    import spark.implicits._
    val conf = confidence
    sents.flatMap(s => fromTags(s, s.bio, conf))
  }

}
