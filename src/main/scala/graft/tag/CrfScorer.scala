package graft.tag

/** Log-domain Viterbi over per-token label logits with a 3x3 transition
  * matrix — the decode used by the reference's CRF / Bi-LSTM-CRF heads
  * (`tf.contrib.crf.crf_decode`, models/model.py:76-82), re-expressed as
  * the same batched, broadcast-weights kernel as the HMM (SURVEY §2.5
  * W5/W6: probability ⊙ becomes log-domain +).
  *
  * Training stays offline (the reference trains in TF); the engine
  * scores with imported weights: [[BiLstmCrfScorer]] produces the
  * per-token logits and decodes through [[viterbiDecode]] (SURVEY §2.5
  * W11).
  */
object CrfScorer {

  /** crf_decode semantics: maximize sum of unary logits + pairwise
    * transitions; first-max tie-breaking like the TF implementation.
    */
  def viterbiDecode(logits: Array[Array[Double]],
      transition: Array[Array[Double]]): Array[Int] = {
    val n = logits.length
    if (n == 0) return Array.empty
    val numTags = logits(0).length
    val delta = Array.ofDim[Double](n, numTags)
    val ptr = Array.ofDim[Int](n, numTags)
    var t = 0
    while (t < numTags) { delta(0)(t) = logits(0)(t); t += 1 }
    var i = 1
    while (i < n) {
      var cur = 0
      while (cur < numTags) {
        var best = Double.NegativeInfinity
        var bestPrev = 0
        var prev = 0
        while (prev < numTags) {
          val s = delta(i - 1)(prev) + transition(prev)(cur)
          if (s > best) { best = s; bestPrev = prev }
          prev += 1
        }
        delta(i)(cur) = best + logits(i)(cur)
        ptr(i)(cur) = bestPrev
        cur += 1
      }
      i += 1
    }
    var bestLast = 0
    var bestScore = delta(n - 1)(0)
    t = 1
    while (t < numTags) {
      if (delta(n - 1)(t) > bestScore) { bestScore = delta(n - 1)(t); bestLast = t }
      t += 1
    }
    val out = new Array[Int](n)
    out(n - 1) = bestLast
    i = n - 1
    while (i > 0) { out(i - 1) = ptr(i)(out(i)); i -= 1 }
    out
  }
}
