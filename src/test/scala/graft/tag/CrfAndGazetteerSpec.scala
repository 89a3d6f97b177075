package graft.tag

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import scala.collection.mutable.ArrayBuffer
import graft.extract.{Extractor, Gazetteers, HtmlToken}

/** CRF log-domain Viterbi vs brute force; gazetteer window-matching
  * semantics (SURVEY §2.3 J1/J2) on a synthetic gazetteer.
  */
class CrfSpec extends AnyFunSuite {

  /** Path score: sum of unary logits + transitions. */
  def pathScore(logits: Array[Array[Double]],
      transition: Array[Array[Double]], labels: Seq[Int]): Double = {
    var s = 0.0
    labels.indices.foreach { i =>
      s += logits(i)(labels(i))
      if (i > 0) s += transition(labels(i - 1))(labels(i))
    }
    s
  }

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
      val gotScore = pathScore(logits, trans, got)
      val best = allSeqs(n, 3).map(s => pathScore(logits, trans, s)).max
      assert(gotScore == best)
    }
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
    // the Bi-LSTM-CRF scorer's word-id lookup: an unseen term takes
    // id = vocab size, the one row below the vocabulary in the
    // embedding matrix. One-hot embeddings feed saturated LSTM units
    // (input and output gates open, forget gate shut, no recurrence),
    // so unit d fires for word-id d alone and the identity dense layer
    // makes the logit argmax read the id back.
    val v = Map("a" -> 0, "b" -> 1)
    val emb = Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(0f, 0f, 1f))
    val cell = BiLstm.CellWeights(
      kernel = Array.tabulate(6, 12)((r, g) => if (r < 3 && g == 3 + r) 5f else 0f),
      bias = Array.tabulate(12)(g => g / 3 match {
        case 0 | 3 => 10f // i, o
        case 2 => -20f    // f
        case _ => 0f
      }))
    val scorer = BiLstmCrfScorer(v, emb, None, cell, cell,
      dense = Array.tabulate(6, 3)((d, l) => if (d == l) 1f else 0f),
      denseBias = Array(0f, 0f, 0f),
      transition = Array.fill(3, 3)(0.0))
    val logits = scorer.logitsOf(Seq("a", "zzz", "b"))
    assert(logits.map(l => l.indexOf(l.max)).toSeq == Seq(0, v.size, 1))
  }
}
