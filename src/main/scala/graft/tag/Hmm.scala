package graft.tag

import scala.collection.mutable
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.spark.SentenceRow

/** Multi-order HMM (+ Naive Bayes degenerate case, + self-training) with
  * probability-domain Viterbi decode — exact semantics of the reference
  * (`models/hmm.py:33-263`), re-expressed Spark-first: fitting is two
  * hash aggregations (feature-value counts, transition counts) whose tiny
  * results are collected and broadcast; decoding is a narrow
  * `mapPartitions` with broadcast weights ("batched, broadcast-weights
  * scoring UDF" per the north star).
  *
  * Feature indexing (models/hmm.py:77-98): the 13-slot vector is
  * [unaccented, exact, partial, name_log, word_log, email, number, title,
  * url, cap, punct, html_ctx, css]; features 11-12 are "secondary"
  * (self-training re-estimates them from predictions).
  */
final case class HmmModel(
    timeSteps: Int,
    naiveBayes: Boolean,
    /** [numStates][3] row-normalized (or flat [1][3] prior for NB). */
    transition: Array[Array[Double]],
    /** [13][3] value -> P(value | y); disabled features = {"$UNK" -> 1}. */
    featureTables: Array[Array[Map[String, Double]]]) extends Serializable {
  def numStates: Int = transition.length
}

object Hmm {
  val NumLabels = 3
  val NumFeatures = 11
  val NumSecondary = 2
  val NumAll = NumFeatures + NumSecondary
  val Labels = Array("O", "B-PER", "I-PER")

  /** fit-time enabled features (models/hmm.py:147-162): 0 always; with
    * use_features also 1,2,5,6,7,8,9,10,11 (3,4 = gazetteer logs off,
    * 12 = css off until self-training).
    */
  def whichFeatures(useFeatures: Boolean): Array[Boolean] = {
    val w = Array.fill(NumAll)(false)
    w(0) = true
    if (useFeatures) {
      (1 to NumFeatures).foreach(w(_) = true)
      w(3) = false
      w(4) = false
    }
    w
  }

  def labelIndex(tag: String): Int = tag match {
    case "O" => 0
    case "B-PER" => 1
    case "I-PER" => 2
    case other => throw new IllegalArgumentException(s"bad tag $other")
  }

  // --- distributed fit ---------------------------------------------------

  /** Count (k, y, value) occurrences over enabled features; tiny result
    * (vocab-bounded) collected to the driver. Map-side partial agg via
    * groupBy.count.
    */
  private def countFeatureValues(
      spark: SparkSession,
      sents: Dataset[SentenceRow],
      labelsOf: SentenceRow => Seq[Int],
      enabled: Array[Boolean],
      minCount: Long = 1L): Map[(Int, Int, String), Long] = {
    import spark.implicits._
    val enabledIdx = enabled.zipWithIndex.filter(_._1).map(_._2)
    val bEnabled = spark.sparkContext.broadcast(enabledIdx)
    val counted = sents.flatMap { s =>
      val ys = labelsOf(s)
      val en = bEnabled.value
      s.feats.indices.iterator.flatMap { i =>
        val f = s.feats(i)
        val y = ys(i)
        // reference: key = f[k] if k < len(f) else '' (models/hmm.py:92-94)
        en.iterator.map(k => (k, y, if (k < f.length) f(k) else ""))
      }
    }.toDF("k", "y", "value")
      .groupBy("k", "y", "value").count()
    // minCount bounds the driver-side table when counting over an
    // unbounded corpus vocabulary (self-training re-estimates css/
    // html_ctx tables over the whole decoded corpus — css-class
    // cardinality on real web data is effectively unbounded). Values
    // below the cut fall out of the consolidated vocab and decode
    // through the $UNK probability, exactly like genuinely unseen
    // values.
    (if (minCount > 1L) counted.filter(col("count") >= minCount) else counted)
      .as[(Int, Int, String, Long)]
      .collect()
      .map { case (k, y, v, c) => (k, y, v) -> c }
      .toMap
  }

  /** Reference train_features: counts + {'$UNK':1} seed, vocab
    * consolidation with add-one for missing, per-(k,y) normalization.
    * Existing tables are carried over for disabled features (self-train
    * re-estimates only 11,12).
    */
  def buildFeatureTables(
      counts: Map[(Int, Int, String), Long],
      enabled: Array[Boolean],
      carryOver: Option[Array[Array[Map[String, Double]]]] = None)
      : Array[Array[Map[String, Double]]] = {
    val tables = Array.tabulate(NumAll, NumLabels) { (k, y) =>
      carryOver.map(_(k)(y)).getOrElse(Map("$UNK" -> 1.0))
    }
    // raw counts per (k,y): $UNK seed 1 + observed (single pass)
    val raw = Array.fill(NumAll, NumLabels)(
      mutable.Map[String, Double]("$UNK" -> 1.0))
    counts.foreach { case ((k, y, v), c) =>
      val m = raw(k)(y)
      m(v) = m.getOrElse(v, 0.0) + c
    }
    for (k <- 0 until NumAll if enabled(k)) {
      // consolidated vocab across labels
      val vocab = (0 until NumLabels).flatMap(y => raw(k)(y).keys).toSet
      for (y <- 0 until NumLabels) {
        val m = raw(k)(y)
        vocab.foreach(v => if (!m.contains(v)) m(v) = 1.0)
        val total = m.values.sum
        tables(k)(y) = m.map { case (v, c) => v -> c / total }.toMap
      }
    }
    tables
  }

  /** Transition counts over per-sentence label sequences (reference
    * train_transitions): state = last `timeSteps` labels radix-3.
    */
  private def countTransitions(
      spark: SparkSession,
      sents: Dataset[SentenceRow],
      labelsOf: SentenceRow => Seq[Int],
      timeSteps: Int): Map[(Int, Int), Long] = {
    import spark.implicits._
    val t = timeSteps
    sents.flatMap { s =>
      val ys = labelsOf(s)
      val states = mutable.ArrayBuffer.fill(t)(0)
      ys.iterator.map { y =>
        val idx = statesToIdx(states.toSeq)
        states.remove(0)
        states += y
        (idx, y)
      }
    }.toDF("s", "y").groupBy("s", "y").count()
      .as[(Int, Int, Long)].collect()
      .map { case (s, y, c) => (s, y) -> c }.toMap
  }

  def idxToStates(idx: Int, timeSteps: Int): Seq[Int] = {
    val out = new Array[Int](timeSteps)
    var rem = idx
    var mult = math.pow(NumLabels, timeSteps - 1).toInt
    var i = 0
    while (i < timeSteps) {
      out(i) = rem / mult
      rem %= mult
      mult /= NumLabels
      if (mult == 0) mult = 1
      i += 1
    }
    out.toSeq
  }

  def statesToIdx(states: Seq[Int]): Int = {
    var acc = 0
    var mult = 1
    states.reverseIterator.foreach { s =>
      acc += mult * s
      mult *= NumLabels
    }
    acc
  }

  def buildTransition(counts: Map[(Int, Int), Long], timeSteps: Int,
      naiveBayes: Boolean): Array[Array[Double]] = {
    val numStates = math.pow(NumLabels, timeSteps).toInt
    val mat = Array.fill(numStates, NumLabels)(1.0)
    counts.foreach { case ((s, y), c) => mat(s)(y) += c }
    if (naiveBayes) {
      val flat = Array.tabulate(NumLabels)(y => mat.map(_(y)).sum)
      val total = flat.sum
      Array(flat.map(_ / total))
    } else {
      mat.map { row =>
        val total = row.sum
        if (total == 0.0) row.map(_ => 0.0) else row.map(_ / total)
      }
    }
  }

  /** Fit on labeled sentences (gold bio tags). */
  def fit(spark: SparkSession, sents: Dataset[SentenceRow],
      timeSteps: Int, useFeatures: Boolean): HmmModel = {
    val nb = timeSteps == 0
    val t = if (nb) 1 else timeSteps
    val gold: SentenceRow => Seq[Int] = s => s.bio.map(labelIndex)
    val enabled = whichFeatures(useFeatures)
    val fc = countFeatureValues(spark, sents, gold, enabled)
    val tables = buildFeatureTables(fc, enabled)
    val tc = countTransitions(spark, sents, gold, t)
    HmmModel(t, nb, buildTransition(tc, t, nb), tables)
  }

  // --- decode ------------------------------------------------------------

  /** Probability-domain Viterbi over one sentence's 13-feature strings
    * (models/hmm.py:167-209). Numerically identical operation order.
    */
  def viterbi(model: HmmModel, feats: Seq[Seq[String]]): Array[Int] = {
    val n = feats.length
    val numStates = model.numStates
    if (n == 0) return Array.empty
    val pointers = Array.ofDim[Int](n, numStates)
    var stateProbs = new Array[Double](numStates)
    stateProbs(0) = 1.0 // start: all previous states are label O

    var i = 0
    while (i < n) {
      val emission = emissionOf(model, feats(i))
      val next = new Array[Double](numStates)
      var s = 0
      while (s < numStates) {
        val sp = stateProbs(s)
        var l = 0
        while (l < NumLabels) {
          val p = sp * model.transition(s)(l) * emission(l)
          val idx = shiftState(s, l, model.timeSteps)
          if (p > next(idx)) {
            pointers(i)(idx) = s
            next(idx) = p
          }
          l += 1
        }
        s += 1
      }
      stateProbs = next
      i += 1
    }

    // argmax (first max), then backtrace
    var best = 0
    var bestV = stateProbs(0)
    var s = 1
    while (s < numStates) {
      if (stateProbs(s) > bestV) { best = s; bestV = stateProbs(s) }
      s += 1
    }
    val labels = new Array[Int](n)
    var idx = best
    i = n - 1
    while (i >= 0) {
      labels(i) = idx % NumLabels // last state component
      idx = pointers(i)(idx)
      i -= 1
    }
    labels
  }

  private def emissionOf(model: HmmModel, f: Seq[String]): Array[Double] = {
    val emission = Array.fill(NumLabels)(1.0)
    var k = 0
    while (k < NumAll) {
      val key = if (k < f.length) f(k) else ""
      var y = 0
      while (y < NumLabels) {
        val table = model.featureTables(k)(y)
        emission(y) *= table.getOrElse(key, table.getOrElse("$UNK", 1.0))
        y += 1
      }
      k += 1
    }
    var y = 0
    while (y < NumLabels) {
      if (emission(y) == 1.0) emission(y) = 0.0
      y += 1
    }
    emission
  }

  /** states.pop(0); states.append(l) in radix-3. */
  private def shiftState(s: Int, l: Int, timeSteps: Int): Int = {
    val mod = math.pow(NumLabels, timeSteps - 1).toInt
    (s % mod) * NumLabels + l
  }

  /** Naive-Bayes per-token decode (models/hmm.py:211-235). */
  def nbPredict(model: HmmModel, feats: Seq[Seq[String]]): Array[Int] =
    feats.map { f =>
      // like emissionOf but WITHOUT the ==1 zero-guard (reference
      // nb_predict comments it out)
      val e = Array.fill(NumLabels)(1.0)
      var k = 0
      while (k < NumAll) {
        val key = if (k < f.length) f(k) else ""
        var y = 0
        while (y < NumLabels) {
          val table = model.featureTables(k)(y)
          e(y) *= table.getOrElse(key, table.getOrElse("$UNK", 1.0))
          y += 1
        }
        k += 1
      }
      val p = Array.tabulate(NumLabels)(y => model.transition(0)(y) * e(y))
      var best = 0
      var y = 1
      while (y < NumLabels) { if (p(y) > p(best)) best = y; y += 1 }
      best
    }.toArray

  def decode(model: HmmModel, feats: Seq[Seq[String]]): Array[Int] =
    if (model.naiveBayes) nbPredict(model, feats) else viterbi(model, feats)

  /** Distributed decode: broadcast weights, narrow mapPartitions. */
  def predict(spark: SparkSession, model: HmmModel,
      sents: Dataset[SentenceRow]): Dataset[(SentenceRow, Seq[Int])] = {
    import spark.implicits._
    val b = spark.sparkContext.broadcast(model)
    sents.mapPartitions { it =>
      val m = b.value
      it.map(s => (s, decode(m, s.feats).toSeq))
    }
  }

  /** Self-training (models/hmm.py:247-258): reset secondary tables
    * (11=html_ctx, 12=css), predict with the reset model, re-estimate the
    * secondary tables from predictions, return the updated model (caller
    * decodes again).
    *
    * `minCount` > 1 drops feature values observed fewer times from the
    * re-estimated tables BEFORE the driver collect — required at web
    * scale where css-class cardinality grows with the corpus (rare
    * values then decode via $UNK, like unseen ones). Default 1 keeps
    * exact reference parity on the small labeled corpus.
    */
  def selfTrain(spark: SparkSession, model: HmmModel,
      sents: Dataset[SentenceRow], minCount: Long = 1L): HmmModel = {
    val reset = model.copy(featureTables = model.featureTables.zipWithIndex.map {
      case (t, k) =>
        if (k >= NumFeatures) Array.fill(NumLabels)(Map("$UNK" -> 1.0)) else t
    })
    val b = spark.sparkContext.broadcast(reset)
    val secondary = Array.fill(NumAll)(false)
    secondary(NumFeatures) = true
    secondary(NumFeatures + 1) = true
    val predLabels: SentenceRow => Seq[Int] = { s =>
      decode(b.value, s.feats).toSeq
    }
    val fc = countFeatureValues(spark, sents, predLabels, secondary, minCount)
    val tables = buildFeatureTables(fc, secondary,
      carryOver = Some(reset.featureTables))
    reset.copy(featureTables = tables)
  }
}
