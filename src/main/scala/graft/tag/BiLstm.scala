package graft.tag

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.spark.SentenceRow

/** Bi-LSTM(-CRF) forward pass with imported weights — the reference's
  * best model (`models/model.py:57-70,143-170`: GloVe-300 lookup +
  * char-CNN reps + Bi-LSTM(200) + dense + CRF decode), re-expressed as
  * the engine's batched broadcast-weights scoring kernel (north star:
  * "BiLSTM-CRF entity tagging ... batched, broadcast-weights scoring
  * UDF over typed Datasets"). Training stays offline in the reference;
  * the engine scores with imported weights, so only the inference math
  * is implemented: dropout layers are identity at inference.
  *
  * Weight layouts follow TF v1 so a reference checkpoint exports
  * directly:
  *  - LSTM kernel is `[(inputSize + units) x 4*units]` with gate order
  *    i, j, f, o and `forget_bias = 1.0` added to f at runtime
  *    (`tf.nn.rnn_cell.LSTMCell`);
  *  - char conv kernel is `[kernelSize x embSize x filters]`,
  *    padding 'same' (`tf.layers.conv1d`, models/cnn.py:40);
  *  - the CRF transition matrix feeds the existing
  *    [[CrfScorer.viterbiDecode]] (`tf.contrib.crf.crf_decode`).
  */
object BiLstm {

  final case class CellWeights(
      kernel: Array[Array[Float]], // [(inputSize + units) x (4*units)]
      bias: Array[Float]) {        // [4*units]
    def units: Int = bias.length / 4
    def inputSize: Int = kernel.length - units
    // double view of the bias, computed once (not per token per step —
    // allocation in the scoring hot path caps multi-core scaling)
    @transient lazy val biasD: Array[Double] = bias.map(_.toDouble)
  }

  @inline private def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  /** One LSTMCell step: returns (c', h'). TF gate order i, j, f, o;
    * forget bias 1.0; tanh activations; no peepholes/projection.
    */
  def step(w: CellWeights, c: Array[Double], h: Array[Double],
      x: Array[Float]): (Array[Double], Array[Double]) = {
    val u = w.units
    val gates = new Array[Double](4 * u)
    System.arraycopy(w.biasD, 0, gates, 0, 4 * u)
    // gates += [x, h] . kernel  (row-major loop keeps it cache-friendly)
    var r = 0
    while (r < x.length) {
      val v = x(r)
      if (v != 0.0f) {
        val row = w.kernel(r)
        var g = 0
        while (g < 4 * u) { gates(g) += v * row(g); g += 1 }
      }
      r += 1
    }
    var hr = 0
    while (hr < u) {
      val v = h(hr)
      if (v != 0.0) {
        val row = w.kernel(x.length + hr)
        var g = 0
        while (g < 4 * u) { gates(g) += v * row(g); g += 1 }
      }
      hr += 1
    }
    val c1 = new Array[Double](u)
    val h1 = new Array[Double](u)
    var j = 0
    while (j < u) {
      val gi = sigmoid(gates(j))
      val gj = math.tanh(gates(u + j))
      val gf = sigmoid(gates(2 * u + j) + 1.0) // forget_bias
      val go = sigmoid(gates(3 * u + j))
      c1(j) = gf * c(j) + gi * gj
      h1(j) = go * math.tanh(c1(j))
      j += 1
    }
    (c1, h1)
  }

  /** Unidirectional run over the sequence; returns h_t per step. */
  def run(w: CellWeights, xs: Array[Array[Float]]): Array[Array[Double]] = {
    val u = w.units
    var c = new Array[Double](u)
    var h = new Array[Double](u)
    val out = new Array[Array[Double]](xs.length)
    var t = 0
    while (t < xs.length) {
      val (c1, h1) = step(w, c, h, xs(t))
      c = c1; h = h1
      out(t) = h1
      t += 1
    }
    out
  }

  /** Bidirectional outputs: [h_fw(t) ++ h_bw(t)] per step
    * (`tf.nn.bidirectional_dynamic_rnn` + concat, models/model.py:57-70).
    */
  def biRun(fw: CellWeights, bw: CellWeights,
      xs: Array[Array[Float]]): Array[Array[Double]] = {
    val f = run(fw, xs)
    val b = run(bw, xs.reverse).reverse
    Array.tabulate(xs.length) { t =>
      val o = new Array[Double](f(t).length + b(t).length)
      System.arraycopy(f(t), 0, o, 0, f(t).length)
      System.arraycopy(b(t), 0, o, f(t).length, b(t).length)
      o
    }
  }

  // --- char CNN (models/char_representations.py:5-32, cnn.py:5-50) -----

  /** Char-LSTM word representations (the reference's LSTMc variant,
    * models/char_representations.py:34-52): Bi-LSTM over the word's
    * char embeddings, concat of the FINAL hidden states.
    */
  final case class CharLstmWeights(
      charVocab: Map[Char, Int],
      charEmb: Array[Array[Float]], // OOV = last row
      fw: CellWeights,
      bw: CellWeights) {
    def dim: Int = 2 * fw.units
    def repr(word: String): Array[Float] =
      Attention.charLstmRepr(charVocab, charEmb, fw, bw, word)
  }

  final case class CharCnnWeights(
      charVocab: Map[Char, Int],
      charEmb: Array[Array[Float]], // [numChars][embSize]; OOV = last row
      kernel: Array[Array[Array[Float]]], // [kernelSize][embSize][filters]
      bias: Array[Float]) {         // [filters]
    def filters: Int = bias.length
    def kernelSize: Int = kernel.length
  }

  /** conv1d(padding='same') over the word's char embeddings + max-pool.
    * Computed per word with no padding, which is exactly the reference's
    * masked batched form with an all-true mask (the `(1-w)*min` term
    * vanishes and the masked max equals the plain max).
    */
  def charRepr(w: CharCnnWeights, word: String): Array[Float] = {
    val n = word.length
    val f = w.filters
    val k = w.kernelSize
    val half = (k - 1) / 2
    val out = new Array[Float](f)
    java.util.Arrays.fill(out, Float.NegativeInfinity)
    val ids = new Array[Int](n)
    var i = 0
    while (i < n) {
      ids(i) = w.charVocab.getOrElse(word.charAt(i), w.charEmb.length - 1)
      i += 1
    }
    var t = 0
    while (t < n) {
      val conv = new Array[Double](f)
      var fi = 0
      while (fi < f) { conv(fi) = w.bias(fi); fi += 1 }
      var kk = 0
      while (kk < k) {
        val src = t + kk - half
        if (src >= 0 && src < n) {
          val emb = w.charEmb(ids(src))
          val km = w.kernel(kk)
          var d = 0
          while (d < emb.length) {
            val v = emb(d)
            if (v != 0.0f) {
              val row = km(d)
              var f2 = 0
              while (f2 < f) { conv(f2) += v * row(f2); f2 += 1 }
            }
            d += 1
          }
        }
        kk += 1
      }
      fi = 0
      while (fi < f) {
        val cf = conv(fi).toFloat
        if (cf > out(fi)) out(fi) = cf
        fi += 1
      }
      t += 1
    }
    if (n == 0) java.util.Arrays.fill(out, 0.0f)
    out
  }
}

/** Full imported-weights Bi-LSTM(-CRF) scorer: GloVe lookup (+ optional
  * char-CNN reps, + optional numeric features) -> Bi-LSTM -> dense
  * logits. Scored with broadcast weights, per-partition batches and no
  * shuffle ([[BiLstmCrf.predict]]); decodes through
  * [[CrfScorer.viterbiDecode]].
  */
final case class BiLstmCrfScorer(
    vocab: Map[String, Int],
    wordEmb: Array[Array[Float]], // [V+1][d], last row = OOV (zeros in ref)
    charCnn: Option[BiLstm.CharCnnWeights],
    fw: BiLstm.CellWeights,
    bw: BiLstm.CellWeights,
    dense: Array[Array[Float]], // [2*units][numTags]
    denseBias: Array[Float],    // [numTags]
    transition: Array[Array[Double]],
    charLstm: Option[BiLstm.CharLstmWeights] = None) extends Serializable {

  def numTags: Int = denseBias.length

  /** Char-repr memo: the char-CNN/LSTM repr is a pure function of the
    * word, and web text repeats words enormously (Zipf), so computing
    * it once per DISTINCT word instead of once per occurrence removes
    * the dominant allocation cost of the scoring hot path. The scorer
    * is broadcast, so one bounded cache serves every task on an
    * executor; past the cap rare words just recompute (no eviction
    * churn, no unbounded growth on web-scale vocabularies).
    */
  @transient private lazy val charReprCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Float]]()
  private val maxCharReprCache = 100000

  private def charReprOf(t: String): Array[Float] =
    if (charCnn.isEmpty && charLstm.isEmpty) Array.empty[Float]
    else {
      val hit = charReprCache.get(t)
      if (hit != null) hit
      else {
        val r = charCnn.map(BiLstm.charRepr(_, t))
          .orElse(charLstm.map(_.repr(t)))
          .getOrElse(Array.empty[Float])
        if (charReprCache.size < maxCharReprCache) charReprCache.put(t, r)
        r
      }
    }

  /** Per-token input vectors: word embedding ++ char reps ++ features. */
  private def inputsOf(tokens: Seq[String],
      features: Option[Seq[Array[Float]]]): Array[Array[Float]] = {
    val fDim = features.map(f => if (f.isEmpty) 0 else f.head.length).getOrElse(0)
    tokens.zipWithIndex.map { case (t, i) =>
      val e = wordEmb(vocab.getOrElse(t, wordEmb.length - 1))
      val c = charReprOf(t)
      val x = new Array[Float](e.length + c.length + fDim)
      System.arraycopy(e, 0, x, 0, e.length)
      System.arraycopy(c, 0, x, e.length, c.length)
      features.foreach(fs =>
        System.arraycopy(fs(i), 0, x, e.length + c.length, fDim))
      x
    }.toArray
  }

  def logitsOf(tokens: Seq[String],
      features: Option[Seq[Array[Float]]] = None): Array[Array[Double]] = {
    if (tokens.isEmpty) return Array.empty
    val xs = inputsOf(tokens, features)
    // Hard width check: without it, a weights file trained WITH the
    // 7 numeric features but decoded without them (or vice versa)
    // would silently misread feature-weight kernel rows as recurrent
    // weights and emit plausible-but-wrong tags.
    require(xs.head.length == fw.inputSize && xs.head.length == bw.inputSize,
      s"input width ${xs.head.length} (emb+char+features) != LSTM kernel " +
        s"input size ${fw.inputSize}/${bw.inputSize} — check useFeatures " +
        "and the charCnn presence against how the weights were trained")
    val h = BiLstm.biRun(fw, bw, xs)
    h.map { ht =>
      val out = new Array[Double](numTags)
      var l = 0
      while (l < numTags) { out(l) = denseBias(l); l += 1 }
      var d = 0
      while (d < ht.length) {
        val v = ht(d)
        if (v != 0.0) {
          val row = dense(d)
          var l2 = 0
          while (l2 < numTags) { out(l2) += v * row(l2); l2 += 1 }
        }
        d += 1
      }
      out
    }
  }

  def decode(tokens: Seq[String],
      features: Option[Seq[Array[Float]]] = None): Array[Int] =
    CrfScorer.viterbiDecode(logitsOf(tokens, features), transition)
}

object BiLstmCrf {

  /** The reference's 7-float numeric feature vector from the engine's
    * 13-slot feature strings: `models/data_loader.py:110` keeps CoNLL
    * feature cols [:2] + [4:9] = [exact, partial, email, number, title,
    * url, capitalized] — name_log/word_log/punct are NOT fed to the
    * neural model. Engine slot indices: 1,2,5,6,7,8,9.
    */
  private val FeatureSlots = Array(1, 2, 5, 6, 7, 8, 9)
  def numericFeatures(feats: Seq[String]): Array[Float] =
    FeatureSlots.map { i =>
      if (i < feats.length && feats(i).nonEmpty)
        try feats(i).toFloat catch { case _: NumberFormatException => 0.0f }
      else 0.0f
    }

  /** Does this scorer expect the 7 numeric features appended to its
    * input vectors? Derived from the kernel width: inputSize =
    * embDim (+ charFilters) (+ 7 iff trained with use_features).
    */
  def expectsFeatures(scorer: BiLstmCrfScorer): Boolean = {
    val base = scorer.wordEmb.head.length +
      scorer.charCnn.map(_.filters)
        .orElse(scorer.charLstm.map(_.dim)).getOrElse(0)
    scorer.fw.inputSize == base + 7
  }

  /** Distributed decode: broadcast weights, narrow mapPartitions —
    * the same execution shape and output as `Hmm.predict`, so
    * [[graft.kg.Triples.taggedSentences]] writes either tagger's tag ids
    * back into `bio` (a 3-tag scorer plugs straight into the KG
    * pipeline).
    * `useFeatures` appends the reference's 7 numeric features to each
    * token's input vector (the params['use_features'] path of the best
    * published model); it must match how the weights were trained — the
    * scorer's input-width check throws otherwise.
    */
  def predict(spark: SparkSession, scorer: BiLstmCrfScorer,
      sents: Dataset[SentenceRow],
      useFeatures: Boolean = false): Dataset[(SentenceRow, Seq[Int])] = {
    import spark.implicits._
    val b = spark.sparkContext.broadcast(scorer)
    val uf = useFeatures
    sents.mapPartitions { it =>
      val s = b.value
      it.map { sent =>
        val fs = if (uf) Some(sent.feats.map(numericFeatures)) else None
        (sent, s.decode(sent.tkns, fs).toSeq)
      }
    }
  }
}
