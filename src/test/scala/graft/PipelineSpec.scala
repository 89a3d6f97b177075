package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.RefCorpus
import graft.io.ConllCodec
import graft.kg.Triples
import graft.metrics.SpanMetrics
import graft.spark.ExtractStage
import graft.tag.Hmm

/** End-to-end Spark pipeline against the reference corpus: the triples
  * acceptance gate (BASELINE.md: (subj,pred,obj) P/R >= 0.95 vs the
  * reference-derived gold set) and the HMM fit/decode path.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Gold triples derived from the reference's own emitted data: every
    * labeled span in data/test -> (url, mentionsPerson, name).
    */
  def goldTriplesFromFile(path: String): Set[(String, String, String)] = {
    val content = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    ConllCodec.parseDocs(content).flatMap { case (_, url, sents) =>
      sents.flatMap { s =>
        val tags = s.map(_(1))
        val tkns = s.map(_(0))
        SpanMetrics.namedEntities(tags).map { case (a, b, _) =>
          (url, Triples.MentionsPerson, tkns.slice(a, b + 1).mkString(" "))
        }
      }
    }.toSet
  }

  test("triples gate: pipeline P/R >= 0.95 vs reference test corpus") {
    RefCorpus.requirePresent()
    import spark.implicits._
    val testIds = ConllCodec.parseDocs(new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"${RefCorpus.RefData}/test")),
      java.nio.charset.StandardCharsets.UTF_8)).map(_._1)

    val pages = RefCorpus.pages(spark, testIds)
    val names = spark.sparkContext.broadcast(RefCorpus.targetNameMap(testIds))
    val sents = ExtractStage.sentences(spark, pages, Some(names))
    val mentions = Triples.goldMentions(spark, sents)
    val triples = Triples.fromMentions(spark, mentions)
    val got = triples.map(t => (t.subj, t.pred, t.obj)).collect().toSet

    val gold = goldTriplesFromFile(s"${RefCorpus.RefData}/test")
    val correct = got.intersect(gold).size.toDouble
    val p = correct / got.size
    val r = correct / gold.size
    info(f"triples: got=${got.size} gold=${gold.size} P=$p%.4f R=$r%.4f")
    assert(p >= 0.95, f"precision $p%.4f < 0.95")
    assert(r >= 0.95, f"recall $r%.4f < 0.95")
  }

  test("HMM fit on valid, self-train + decode test: span F1 in range") {
    RefCorpus.requirePresent()
    import spark.implicits._
    val train = ConllCodec.read(spark, s"${RefCorpus.RefData}/valid").cache()
    val test = ConllCodec.read(spark, s"${RefCorpus.RefData}/test").cache()

    try {
      val m0 = Hmm.fit(spark, train, timeSteps = 1, useFeatures = true)
      val m1 = Hmm.selfTrain(spark, m0, test)

      val pairs = Hmm.predict(spark, m1, test).map { case (s, pred) =>
        (pred.map(Hmm.Labels(_)): Seq[String], s.bio)
      }
      val res = SpanMetrics.evaluate(pairs)
      info(f"HMM-1+feat+ST (fit on valid): P=${res.precision}%.4f " +
        f"R=${res.recall}%.4f F1=${res.f1}%.4f acc=${res.accuracy}%.4f")
      // published reference: 0.866 trained on data/train (missing blob);
      // fit on the smaller valid split must still land in a sane band
      assert(res.f1 > 0.55 && res.f1 <= 1.0, f"F1 ${res.f1}%.4f out of range")
    } finally { train.unpersist(); test.unpersist() }
  }

  test("span metrics agree with conlleval-style counts on a fixture") {
    // Main.ipynb cell-6 style sanity: hand fixture with known counts
    val pred = Seq("O", "I-PER", "I-PER", "O", "I-PER")
    val gold = Seq("O", "I-PER", "I-PER", "O", "O")
    val c = SpanMetrics.sentenceCounts(pred, gold)
    assert(c == SpanMetrics.Counts(4, 5, 1, 2, 1))
    val r = SpanMetrics.finish(c)
    assert(r.precision == 0.5 && r.recall == 1.0)
    assert(math.abs(r.f1 - 2.0 / 3.0) < 1e-12)
  }
}
