package graft.tag

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Viterbi correctness: exhaustive brute-force argmax equality on random
  * models (FIXTURES.md §5), multiplication order matched so scores are
  * bit-identical.
  */
class HmmSpec extends AnyFunSuite {

  def randomModel(rng: Random, timeSteps: Int): HmmModel = {
    val numStates = math.pow(3, timeSteps).toInt
    val transition = Array.fill(numStates) {
      val row = Array.fill(3)(rng.nextDouble())
      val t = row.sum
      row.map(_ / t)
    }
    val vocab = Vector("a", "b", "c")
    val tables = Array.fill(Hmm.NumAll, 3) {
      (vocab.map(v => v -> rng.nextDouble()).toMap + ("$UNK" -> rng.nextDouble()))
    }
    HmmModel(timeSteps, naiveBayes = false, transition, tables)
  }

  def pathScore(model: HmmModel, feats: Seq[Seq[String]], labels: Seq[Int]): Double = {
    val emissions = feats.map { f =>
      val e = Array.fill(3)(1.0)
      for (k <- 0 until Hmm.NumAll) {
        val key = if (k < f.length) f(k) else ""
        for (y <- 0 until 3) {
          val t = model.featureTables(k)(y)
          e(y) *= t.getOrElse(key, t("$UNK"))
        }
      }
      for (y <- 0 until 3) if (e(y) == 1.0) e(y) = 0.0
      e
    }
    var states = List.fill(model.timeSteps)(0)
    var score = 1.0
    labels.indices.foreach { i =>
      val idx = Hmm.statesToIdx(states)
      score = (score * model.transition(idx)(labels(i))) * emissions(i)(labels(i))
      states = states.tail :+ labels(i)
    }
    score
  }

  /** Inverse of [[Hmm.statesToIdx]]: the radix-3 digits of `idx`, most
    * significant (oldest label) first.
    */
  def idxToStates(idx: Int, timeSteps: Int): Seq[Int] = {
    val out = new Array[Int](timeSteps)
    var rem = idx
    var mult = math.pow(Hmm.NumLabels, timeSteps - 1).toInt
    var i = 0
    while (i < timeSteps) {
      out(i) = rem / mult
      rem %= mult
      mult /= Hmm.NumLabels
      if (mult == 0) mult = 1
      i += 1
    }
    out.toSeq
  }

  def allSeqs(n: Int): Seq[Seq[Int]] =
    if (n == 0) Seq(Seq.empty)
    else allSeqs(n - 1).flatMap(s => (0 until 3).map(s :+ _))

  test("viterbi matches brute-force max score (orders 1-3, len<=5)") {
    val rng = new Random(42)
    for (trial <- 0 until 60) {
      val t = 1 + trial % 3
      val model = randomModel(rng, t)
      val n = 1 + rng.nextInt(5)
      val feats = Seq.fill(n)(Seq.fill(Hmm.NumAll)(
        Vector("a", "b", "c", "zz")(rng.nextInt(4))))
      val got = Hmm.viterbi(model, feats).toSeq
      val gotScore = pathScore(model, feats, got)
      val bestScore = allSeqs(n).map(s => pathScore(model, feats, s)).max
      assert(gotScore == bestScore,
        s"trial $trial t=$t n=$n: viterbi score $gotScore != best $bestScore")
    }
  }

  test("state radix round-trip") {
    for (t <- 1 to 3; idx <- 0 until math.pow(3, t).toInt) {
      assert(Hmm.statesToIdx(idxToStates(idx, t)) == idx)
    }
  }

  test("order-0 collapses to per-token naive bayes") {
    val rng = new Random(7)
    val m1 = randomModel(rng, 1)
    val nb = HmmModel(1, naiveBayes = true,
      Array(m1.transition(0)), m1.featureTables)
    val feats = Seq.fill(4)(Seq.fill(Hmm.NumAll)("a"))
    val got = Hmm.decode(nb, feats).toSeq
    // per-token argmax of prior * emission (no zero guard)
    assert(got.length == 4)
    assert(got.forall(l => l >= 0 && l < 3))
  }
}
