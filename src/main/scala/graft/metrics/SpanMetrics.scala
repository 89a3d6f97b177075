package graft.metrics

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Span-level P/R/F1 with the reference's phrase semantics
  * (`models/metrics.py:5-69`, agreeing with conlleval): a span starts at
  * any non-O tag and extends over following `I-<type>` tags; equality is
  * (start, end, type) within a sentence.
  */
object SpanMetrics {

  /** reference get_named_entities. */
  def namedEntities(tags: Seq[String]): Vector[(Int, Int, String)] = {
    val r = Vector.newBuilder[(Int, Int, String)]
    var i = 0
    val n = tags.length
    while (i < n) {
      if (tags(i) == "O") i += 1
      else {
        val tagType = tags(i).drop(2)
        val expected = "I-" + tagType
        val start = i
        var end = i
        i += 1
        var go = true
        while (go && i < n) {
          if (tags(i) == expected) { end = i; i += 1 }
          else go = false
        }
        r += ((start, end, tagType))
      }
    }
    r.result()
  }

  final case class Counts(
      correctTokens: Long, totalTokens: Long,
      numCorrect: Long, numPredicted: Long, numExpected: Long) {
    def +(o: Counts): Counts = Counts(
      correctTokens + o.correctTokens, totalTokens + o.totalTokens,
      numCorrect + o.numCorrect, numPredicted + o.numPredicted,
      numExpected + o.numExpected)
  }

  final case class Result(
      accuracy: Double, precision: Double, recall: Double, f1: Double,
      correct: Long, incorrect: Long, missed: Long)

  def sentenceCounts(pred: Seq[String], gold: Seq[String]): Counts = {
    val p = namedEntities(pred).toSet
    val t = namedEntities(gold).toSet
    Counts(
      correctTokens = pred.zip(gold).count { case (a, b) => a == b },
      totalTokens = gold.length,
      numCorrect = p.intersect(t).size,
      numPredicted = p.size,
      numExpected = t.size)
  }

  def finish(c: Counts): Result = {
    val precision =
      if (c.numPredicted > 0) c.numCorrect.toDouble / c.numPredicted else 0.0
    val recall =
      if (c.numExpected > 0) c.numCorrect.toDouble / c.numExpected else 0.0
    val f1 =
      if (precision + recall > 0) 2 * precision * recall / (precision + recall)
      else 0.0
    val accuracy =
      if (c.totalTokens > 0) c.correctTokens.toDouble / c.totalTokens else 0.0
    Result(accuracy, precision, recall, f1,
      c.numCorrect, c.numPredicted - c.numCorrect, c.numExpected - c.numCorrect)
  }

  /** Typed Aggregator (SURVEY §2.9): global sums over per-sentence
    * (pred, gold) tag sequences; one shuffle-free partial agg per
    * partition + tiny final merge.
    */
  object agg extends Aggregator[(Seq[String], Seq[String]), Counts, Result] {
    def zero: Counts = Counts(0, 0, 0, 0, 0)
    def reduce(b: Counts, a: (Seq[String], Seq[String])): Counts =
      b + sentenceCounts(a._1, a._2)
    def merge(b1: Counts, b2: Counts): Counts = b1 + b2
    def finish(c: Counts): Result = SpanMetrics.finish(c)
    def bufferEncoder: Encoder[Counts] = Encoders.product[Counts]
    def outputEncoder: Encoder[Result] = Encoders.product[Result]
  }

  def evaluate(pairs: Dataset[(Seq[String], Seq[String])]): Result = {
    pairs.select(agg.toColumn).head()
  }
}
