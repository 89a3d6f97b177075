package graft.tag

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import scala.collection.mutable.ArrayBuffer
import graft.extract.{Extractor, Gazetteers, HtmlToken}

/** CRF log-domain Viterbi vs brute force; gazetteer window-matching
  * semantics (SURVEY §2.3 J1/J2) on a synthetic gazetteer.
  */
class CrfSpec extends AnyFunSuite {

  def allSeqs(n: Int, k: Int): Seq[Seq[Int]] =
    if (n == 0) Seq(Seq.empty)
    else allSeqs(n - 1, k).flatMap(s => (0 until k).map(s :+ _))

  test("crf viterbi decode matches brute-force max path score") {
    val rng = new Random(7)
    for (_ <- 0 until 50) {
      val n = 1 + rng.nextInt(6)
      val logits = Array.fill(n, 3)(rng.nextDouble() * 10 - 5)
      val trans = Array.fill(3, 3)(rng.nextDouble() * 4 - 2)
      val got = CrfScorer.viterbiDecode(logits, trans).toSeq
      val gotScore = CrfScorer.pathScore(logits, trans, got)
      val best = allSeqs(n, 3).map(s => CrfScorer.pathScore(logits, trans, s)).max
      assert(gotScore == best)
    }
  }

  test("linear scorer + crf decode end-to-end, deterministic") {
    val vocab = Map("alice" -> 0, "smith" -> 1, "the" -> 2)
    val emb = Array(
      Array(1f, 0f), Array(0.8f, 0.1f), Array(0f, 1f), Array(0.1f, 0.1f))
    // dense: dim0 -> I-PER logit, dim1 -> O logit
    val dense = Array(Array(0.0, 0.0, 5.0), Array(5.0, 0.0, 0.0))
    val scorer = LinearScorer(vocab, emb, dense, Array(0.0, -1.0, 0.0))
    val logits = scorer.logitsOf(Seq("alice", "smith", "the", "oovword"))
    val trans = Array.fill(3, 3)(0.0)
    val tags = CrfScorer.viterbiDecode(logits, trans).toSeq
    assert(tags(0) == 2 && tags(1) == 2) // names -> I-PER (index 2)
    assert(tags(2) == 0) // 'the' -> O
  }
}

class GazetteerSpec extends AnyFunSuite {

  def tokensOf(s: String): ArrayBuffer[HtmlToken] = {
    val buf = new ArrayBuffer[HtmlToken]()
    Extractor.tokenizeText(s).foreach(t => buf += new HtmlToken(t, null))
    buf
  }

  test("exact window match: longest window wins, punct skipped in key") {
    val gaz = Gazetteers.fromNames(Seq("Anna Maria Souza", "Anna Maria"))
    // exact keys: "anna maria souza", "anna maria"
    val toks = tokensOf("Dr Anna , Maria Souza here")
    Extractor.assignCorrectLabels(toks, Nil, gaz)
    // window at 'Anna' spans tokens incl ',' (punct dropped from the key):
    // "anna maria souza" matches j=3 window [Anna , Maria Souza]
    assert(toks.map(_.features(1)).toSeq ==
      Seq("0", "1", "1", "1", "1", "0"))
  }

  test("partial match sets flag + banker's-rounded log count") {
    val gaz = Gazetteers.fromNames(
      (1 to 12).map(_ => "Smith Jones") // partial counts: Smith=12, Jones=12
    )
    val toks = tokensOf("Smith , other")
    Extractor.assignCorrectLabels(toks, Nil, gaz)
    assert(toks(0).features(2) == "1")
    assert(toks(0).features(3) == graft.extract.Py.round(math.log(12.0)).toString)
    // punctuation gets the partial flag without a count
    assert(toks(1).features(2) == "1")
    assert(toks(1).features(3) == "0")
    assert(toks(2).features(2) == "0")
  }

  test("word gazetteer keyed on unaccented form") {
    val gaz = Gazetteers(word = Map("jose" -> 7))
    val toks = tokensOf("José x")
    Extractor.assignCorrectLabels(toks, Nil, gaz)
    assert(toks(0).features(4) == graft.extract.Py.round(math.log(7.0)).toString)
    assert(toks(1).features(4) == "0")
  }

  test("vocab codec: OOV bucket = size") {
    // the scorers' word-id lookup: an unseen term takes id = vocab size,
    // the one row below the vocabulary in the embedding matrix
    val v = Map("a" -> 0, "b" -> 1)
    val emb = Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(0f, 0f, 1f))
    val eye = Array.tabulate(3, 3)((i, j) => if (i == j) 1.0 else 0.0)
    val logits = LinearScorer(v, emb, eye, Array(0.0, 0.0, 0.0))
      .logitsOf(Seq("a", "zzz", "b"))
    assert(logits.map(_.indexOf(1.0)).toSeq == Seq(0, v.size, 1))
  }
}
