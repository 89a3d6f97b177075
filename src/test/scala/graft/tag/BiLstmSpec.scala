package graft.tag

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.spark.SentenceRow

/** Bi-LSTM-CRF forward pass: hand-computed LSTM step fixture (TF
  * LSTMCell semantics: gate order i,j,f,o, forget_bias 1.0), an
  * independent naive reference implementation over random weights,
  * char-CNN 'same'-padding fixture, GloVe import round-trip, and the
  * end-to-end broadcast decode.
  */
class BiLstmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def sig(x: Double) = 1.0 / (1.0 + math.exp(-x))

  test("LSTM step matches the hand-computed TF LSTMCell fixture") {
    // units=1, inputSize=1; kernel rows: x -> [i,j,f,o], h -> [i,j,f,o]
    val w = BiLstm.CellWeights(
      kernel = Array(
        Array(1.0f, 2.0f, 0.5f, 1.0f), // x weights
        Array(0.1f, 0.2f, 0.3f, 0.4f)), // h weights
      bias = Array(0.0f, 0.0f, 0.0f, 0.0f))
    // step 1 from zero state with x=1:
    //   i=sig(1), j=tanh(2), f=sig(0.5+1), o=sig(1)
    //   c1 = sig(1)*tanh(2); h1 = sig(1)*tanh(c1)
    val (c1, h1) = BiLstm.step(w, Array(0.0), Array(0.0), Array(1.0f))
    val expC1 = sig(1.0) * math.tanh(2.0)
    val expH1 = sig(1.0) * math.tanh(expC1)
    assert(math.abs(c1(0) - expC1) < 1e-12, s"c1 ${c1(0)} != $expC1")
    assert(math.abs(h1(0) - expH1) < 1e-12, s"h1 ${h1(0)} != $expH1")
    // step 2 with x=-1 exercises the recurrent h/c path:
    //   gates g = -xw[g] + h1*hw[g]; f gets +1 forget bias
    val (c2, h2) = BiLstm.step(w, c1, h1, Array(-1.0f))
    // the stored weights are float32: 0.1f != 0.1 in double
    val gi = -1.0 + h1(0) * 0.1f.toDouble
    val gj = -2.0 + h1(0) * 0.2f.toDouble
    val gf = -0.5 + h1(0) * 0.3f.toDouble
    val go = -1.0 + h1(0) * 0.4f.toDouble
    val expC2 = sig(gf + 1.0) * expC1 + sig(gi) * math.tanh(gj)
    val expH2 = sig(go) * math.tanh(expC2)
    assert(math.abs(c2(0) - expC2) < 1e-12)
    assert(math.abs(h2(0) - expH2) < 1e-12)
  }

  /** Independent naive LSTM (different code shape: per-gate dot products
    * over explicit slices) for cross-checking the optimized kernel.
    */
  private def naiveRun(w: BiLstm.CellWeights,
      xs: Array[Array[Float]]): Array[Array[Double]] = {
    val u = w.units
    val in = w.inputSize
    def gate(x: Array[Float], h: Array[Double], g: Int, j: Int): Double = {
      var s = w.bias(g * u + j).toDouble
      for (r <- 0 until in) s += x(r) * w.kernel(r)(g * u + j)
      for (r <- 0 until u) s += h(r) * w.kernel(in + r)(g * u + j)
      s
    }
    var c = Array.fill(u)(0.0)
    var h = Array.fill(u)(0.0)
    xs.map { x =>
      val c1 = new Array[Double](u)
      val h1 = new Array[Double](u)
      for (j <- 0 until u) {
        c1(j) = sig(gate(x, h, 2, j) + 1.0) * c(j) +
          sig(gate(x, h, 0, j)) * math.tanh(gate(x, h, 1, j))
        h1(j) = sig(gate(x, h, 3, j)) * math.tanh(c1(j))
      }
      c = c1; h = h1
      h1
    }
  }

  test("optimized bi-run agrees with the naive implementation (random weights)") {
    val rng = new scala.util.Random(4242)
    for (_ <- 0 until 10) {
      val units = 1 + rng.nextInt(4)
      val in = 1 + rng.nextInt(5)
      def cell() = BiLstm.CellWeights(
        Array.fill(in + units, 4 * units)((rng.nextDouble() - 0.5).toFloat),
        Array.fill(4 * units)((rng.nextDouble() - 0.5).toFloat))
      val fw = cell(); val bw = cell()
      val xs = Array.fill(1 + rng.nextInt(6), in)((rng.nextDouble() * 2 - 1).toFloat)
      val got = BiLstm.biRun(fw, bw, xs)
      val expF = naiveRun(fw, xs)
      val expB = naiveRun(bw, xs.reverse).reverse
      for (t <- xs.indices; j <- 0 until units) {
        assert(math.abs(got(t)(j) - expF(t)(j)) < 1e-9)
        assert(math.abs(got(t)(units + j) - expB(t)(j)) < 1e-9)
      }
    }
  }

  test("char CNN matches the hand-computed same-padding fixture") {
    val w = BiLstm.CharCnnWeights(
      charVocab = Map('a' -> 0, 'b' -> 1),
      charEmb = Array(Array(1.0f), Array(2.0f), Array(0.0f)), // OOV last
      kernel = Array(Array(Array(0.5f)), Array(Array(1.0f)), Array(Array(0.25f))),
      bias = Array(0.1f))
    // "ab": t=0 -> 0.1 + 1*1 + 2*0.25 = 1.6 ; t=1 -> 0.1 + 1*0.5 + 2*1 = 2.6
    val got = BiLstm.charRepr(w, "ab")
    assert(math.abs(got(0) - 2.6f) < 1e-6, s"max-pool ${got(0)} != 2.6")
    // OOV char embeds as the zero row -> only bias + neighbors contribute
    val oov = BiLstm.charRepr(w, "zb") // z -> OOV [0]; t=0: .1+0+2*.25=0.6; t=1: .1+0+2=2.1
    assert(math.abs(oov(0) - 2.1f) < 1e-6)
  }

  test("end-to-end: saturating gates separate planted tokens; distributed == local") {
    import spark.implicits._
    // alice -> x=+5 saturates the gates (h ~ 0.76); bob -> x=-5 (h ~ 0)
    def cell() = BiLstm.CellWeights(
      kernel = Array(Array(5.0f, 5.0f, 5.0f, 5.0f), Array(0f, 0f, 0f, 0f)),
      bias = Array(0f, 0f, 0f, 0f))
    val scorer = BiLstmCrfScorer(
      vocab = Map("alice" -> 0, "bob" -> 1),
      wordEmb = Array(Array(1.0f), Array(-1.0f), Array(0.0f)),
      charCnn = None,
      fw = cell(), bw = cell(),
      dense = Array(Array(0f, 10f), Array(0f, 10f)), // [2*units][numTags]
      denseBias = Array(0f, -7.6f),
      transition = Array(Array(0.0, 0.0), Array(0.0, 0.0)))
    val got = scorer.decode(Seq("alice", "bob", "alice", "zzz"))
    assert(got.toSeq == Seq(1, 0, 1, 0),
      s"expected I,O,I,O got ${got.toSeq}") // zzz -> OOV zeros -> O
    // distributed predict (broadcast + mapPartitions) == local decode
    val sents = (0 until 20).map { i =>
      val tkns = (0 to i % 4).map(j => if ((i + j) % 3 == 0) "alice" else "bob")
      SentenceRow(s"u$i", new java.sql.Timestamp(0), "en", 0,
        tkns, tkns.map(_ => Seq.empty[String]), tkns.map(_ => "O"))
    }
    val ds = spark.createDataset(sents).repartition(5)
    val dist = BiLstmCrf.predict(spark, scorer, ds).collect()
      .map { case (s, tags) => s.url -> tags }.toMap
    sents.foreach { s =>
      assert(dist(s.url) == scorer.decode(s.tkns).toSeq,
        s"distributed decode differs for ${s.url}")
    }
  }

  test("char CNN reps change the decode inputs (wired into the scorer)") {
    val cnn = BiLstm.CharCnnWeights(
      charVocab = Map('a' -> 0, 'z' -> 1),
      charEmb = Array(Array(3.0f), Array(-3.0f), Array(0.0f)),
      kernel = Array(Array(Array(0f)), Array(Array(2.0f)), Array(Array(0f))),
      bias = Array(0f))
    def cell(in: Int) = BiLstm.CellWeights(
      kernel = Array.tabulate(in + 1, 4)((r, _) => if (r < in) 1.0f else 0f),
      bias = Array(0f, 0f, 0f, 0f))
    val scorer = BiLstmCrfScorer(
      vocab = Map.empty, // every word OOV: only char reps carry signal
      wordEmb = Array(Array(0.0f)),
      charCnn = Some(cnn),
      fw = cell(2), bw = cell(2),
      dense = Array(Array(0f, 5f), Array(0f, 5f)),
      denseBias = Array(0f, -3.8f),
      transition = Array(Array(0.0, 0.0), Array(0.0, 0.0)))
    // "aaa" -> char conv max 6 -> saturated h -> I ; "zzz" -> -6 -> O
    assert(scorer.decode(Seq("aaa", "zzz")).toSeq == Seq(1, 0))
  }

  test("numeric features follow data_loader's 7-col selection and feed the input") {
    // engine slots: 1=exact, 2=partial, 5=email, 6=number, 7=title,
    // 8=url, 9=capitalized (name_log/word_log/punct excluded)
    val feats = Seq("unacc", "1", "0", "2", "3", "1", "0", "1", "0", "1",
      "1", "div.body", "doc")
    assert(BiLstmCrf.numericFeatures(feats).toSeq ==
      Seq(1f, 0f, 1f, 0f, 1f, 0f, 1f))
    assert(BiLstmCrf.numericFeatures(Seq("x")).toSeq == Seq.fill(7)(0f))
    // features change the logits when wired through the scorer
    def cell(in: Int) = BiLstm.CellWeights(
      kernel = Array.tabulate(in + 1, 4)((r, _) => if (r < in) 2.0f else 0f),
      bias = Array(0f, 0f, 0f, 0f))
    val scorer = BiLstmCrfScorer(
      vocab = Map.empty, wordEmb = Array(Array(0.0f)), charCnn = None,
      fw = cell(8), bw = cell(8), // 1 emb dim + 7 features
      dense = Array(Array(0f, 10f), Array(0f, 10f)),
      denseBias = Array(0f, -7.6f),
      transition = Array(Array(0.0, 0.0), Array(0.0, 0.0)))
    val hot = Some(Seq(Array(1f, 1f, 0f, 0f, 0f, 0f, 1f)))
    val cold = Some(Seq(Array.fill(7)(0f)))
    assert(scorer.decode(Seq("oov"), hot).toSeq == Seq(1))
    assert(scorer.decode(Seq("oov"), cold).toSeq == Seq(0))
  }

  test("weights parquet round-trip: identical decode, char CNN included") {
    val rng = new scala.util.Random(11)
    def cell(in: Int, u: Int) = BiLstm.CellWeights(
      Array.fill(in + u, 4 * u)((rng.nextDouble() - 0.5).toFloat),
      Array.fill(4 * u)((rng.nextDouble() - 0.5).toFloat))
    val cnn = BiLstm.CharCnnWeights(
      charVocab = Map('a' -> 0, 'b' -> 1, 'c' -> 2),
      charEmb = Array.fill(4, 3)((rng.nextDouble() - 0.5).toFloat),
      kernel = Array.fill(3, 3, 2)((rng.nextDouble() - 0.5).toFloat),
      bias = Array.fill(2)((rng.nextDouble() - 0.5).toFloat))
    val scorer = BiLstmCrfScorer(
      vocab = Map("alice" -> 0, "bob" -> 1),
      wordEmb = Array.fill(3, 4)((rng.nextDouble() - 0.5).toFloat),
      charCnn = Some(cnn),
      fw = cell(6, 3), bw = cell(6, 3), // 4 emb + 2 char filters
      dense = Array.fill(6, 3)((rng.nextDouble() - 0.5).toFloat),
      denseBias = Array.fill(3)((rng.nextDouble() - 0.5).toFloat),
      transition = Array.fill(3, 3)(rng.nextDouble() - 0.5))
    val dir = java.nio.file.Files.createTempDirectory("blw").toString
    BiLstmWeightsIO.save(spark, scorer, dir)
    val loaded = BiLstmWeightsIO.load(spark, dir)
    assert(loaded.vocab == scorer.vocab)
    assert(loaded.charCnn.get.charVocab == cnn.charVocab)
    val toks = Seq("alice", "cab", "bob", "zz")
    val a = scorer.logitsOf(toks).map(_.toSeq).toSeq
    val b = loaded.logitsOf(toks).map(_.toSeq).toSeq
    // float32 round-trip except transition (stored float32: decode-
    // equivalent, compared via decode below)
    assert(a == b, "logits must round-trip bit-exactly")
    assert(scorer.decode(toks).toSeq == loaded.decode(toks).toSeq)
  }

  test("char-LSTM reps wire into the scorer (LSTMc variant) and round-trip") {
    val rng = new scala.util.Random(23)
    def cell(in: Int, u: Int) = BiLstm.CellWeights(
      Array.fill(in + u, 4 * u)((rng.nextDouble() - 0.5).toFloat),
      Array.fill(4 * u)((rng.nextDouble() - 0.5).toFloat))
    // char LSTM that saturates on 'a'-words (emb +4) vs 'z'-words (-4)
    val satCell = BiLstm.CellWeights(
      kernel = Array(Array(2f, 2f, 2f, 2f), Array(0f, 0f, 0f, 0f)),
      bias = Array(0f, 0f, 0f, 0f))
    val cl = BiLstm.CharLstmWeights(
      charVocab = Map('a' -> 0, 'z' -> 1),
      charEmb = Array(Array(4.0f), Array(-4.0f), Array(0.0f)),
      fw = satCell, bw = satCell)
    def mainCell(in: Int) = BiLstm.CellWeights(
      kernel = Array.tabulate(in + 1, 4)((r, _) => if (r < in) 3.0f else 0f),
      bias = Array(0f, 0f, 0f, 0f))
    val scorer = BiLstmCrfScorer(
      vocab = Map.empty, wordEmb = Array(Array(0.0f)), charCnn = None,
      fw = mainCell(3), bw = mainCell(3), // 1 emb + 2 char-lstm dims
      dense = Array(Array(0f, 8f), Array(0f, 8f)),
      denseBias = Array(0f, -6f),
      transition = Array(Array(0.0, 0.0), Array(0.0, 0.0)),
      charLstm = Some(cl))
    assert(BiLstmCrf.expectsFeatures(scorer) == false)
    val got = scorer.decode(Seq("aaa", "zzz", "aa"))
    assert(got.toSeq == Seq(1, 0, 1), s"char-LSTM signal must separate: ${got.toSeq}")
    // parquet round-trip preserves the char-LSTM decode
    val dir = java.nio.file.Files.createTempDirectory("blw_cl").toString
    BiLstmWeightsIO.save(spark, scorer, dir)
    val loaded = BiLstmWeightsIO.load(spark, dir)
    assert(loaded.charLstm.get.charVocab == cl.charVocab)
    assert(loaded.decode(Seq("aaa", "zzz", "aa")).toSeq == got.toSeq)
    assert(loaded.logitsOf(Seq("aza")).map(_.toSeq).toSeq ==
      scorer.logitsOf(Seq("aza")).map(_.toSeq).toSeq)
  }
}
