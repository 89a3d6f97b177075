package graft.tag

/** Transformer-branch kernels of the reference's attention module —
  * the sinusoidal positional encoding, masked scaled-dot-product
  * attention, layer normalization, and the (self-projecting)
  * multi-head wrapper. Inference semantics only: dropout = identity.
  *
  * Reference formulas (public TF-1.x code, `models/attention.py`):
  *  - [[posEncodingTable]] / [[posEmbeddings]]: `pos_embeddings`
  *    (:74-98, the LIVE variant) — `pos / 10000^((i - i%2)/E)`, sin on
  *    even columns, cos on odd, looked up per position; with
  *    `masking=true` the output is ELEMENTWISE zeroed where the input
  *    element equals 0 (`tf.where(tf.equal(inputs, 0), inputs,
  *    outputs)` — per element, not per token). The function RETURNS
  *    the encodings (the caller adds); the additive variant is the
  *    commented-out block at :60-72.
  *  - [[layerNorm]]: `normalize` (:47-54) — last-axis population
  *    moments, `(x - mean) / (var + eps)^0.5 * gamma + beta`, with
  *    epsilon 1e-8 INSIDE the root.
  *  - [[scaledDotProductAttention]]: `scaled_dot_product_attention`
  *    (:189-225) with `mask` (:227-257) — scores `Q K^T / sqrt(d_k)`;
  *    KEY masking first (keys whose |.|_1 is 0 score -2^32+1 toward
  *    every query), optional FUTURE/causal masking (strictly-upper
  *    triangle to -2^32+1), softmax over keys, then QUERY masking
  *    (all-zero queries MULTIPLY their weight row by 0 — after the
  *    softmax, so the row sums to 0, not uniform), weighted sum.
  *  - [[multiHeadAttention]]: `multihead_attention` (:259-290) — ONE
  *    dense projection of the queries serves as Q, K, and V (the
  *    reference comments out the separate K/V projections and sets
  *    `K = Q; V = Q`), feature-axis head split, per-head attention,
  *    concat, RESIDUAL add of the raw queries, then [[layerNorm]].
  *
  * The reference's own `transformer` branch never runs (its
  * `model.py:235` calls an undefined `self.transformer`), so there is
  * no published end-to-end output to pin; these kernels are instead
  * pinned to an independent NumPy implementation of the same public
  * formulas (`tools/gen_transformer_golden.py` →
  * TransformerGoldenSpec) and drive the oracled
  * `kg_transformer_decode` query through a saturating-weights
  * construction whose decoded counts are closed-form.
  */
object Transformer {

  private final val PaddingNum = -math.pow(2.0, 32) + 1 // -2^32+1

  /** Sinusoidal table: PE[pos][i] = sin/cos(pos / 10000^((i - i%2)/E)).
    * Even i → sin, odd i → cos (of the SAME angle base as i-1).
    */
  def posEncodingTable(maxlen: Int, e: Int): Array[Array[Double]] =
    Array.tabulate(maxlen, e) { (pos, i) =>
      val angle = pos / math.pow(10000.0, (i - i % 2).toDouble / e)
      if (i % 2 == 0) math.sin(angle) else math.cos(angle)
    }

  /** Positional encodings for one sequence of input vectors [T][E].
    * Returns the looked-up PE rows; with `masking` each element where
    * the INPUT element is exactly 0 is zeroed (the reference's
    * elementwise `tf.where`). T must not exceed `maxlen`.
    */
  def posEmbeddings(inputs: Array[Array[Double]], maxlen: Int,
      masking: Boolean = true): Array[Array[Double]] = {
    require(inputs.length <= maxlen,
      s"sequence length ${inputs.length} exceeds maxlen $maxlen")
    val e = if (inputs.isEmpty) 0 else inputs(0).length
    val table = posEncodingTable(math.min(maxlen, inputs.length), e)
    Array.tabulate(inputs.length) { t =>
      val row = new Array[Double](e)
      var i = 0
      while (i < e) {
        row(i) = if (masking && inputs(t)(i) == 0.0) 0.0 else table(t)(i)
        i += 1
      }
      row
    }
  }

  /** Last-axis layer norm of one vector: population moments, epsilon
    * 1e-8 inside the square root (the reference's `(var + eps) ** .5`).
    */
  def layerNorm(x: Array[Double], gamma: Array[Double],
      beta: Array[Double]): Array[Double] = {
    require(gamma.length == x.length && beta.length == x.length,
      "gamma/beta must match the feature dim")
    var mean = 0.0
    var i = 0
    while (i < x.length) { mean += x(i); i += 1 }
    mean /= x.length
    var variance = 0.0
    i = 0
    while (i < x.length) {
      val d = x(i) - mean
      variance += d * d
      i += 1
    }
    variance /= x.length
    val inv = 1.0 / math.pow(variance + 1e-8, 0.5)
    Array.tabulate(x.length)(j => (x(j) - mean) * inv * gamma(j) + beta(j))
  }

  def layerNorm(xs: Array[Array[Double]], gamma: Array[Double],
      beta: Array[Double]): Array[Array[Double]] =
    xs.map(layerNorm(_, gamma, beta))

  /** Masked scaled dot-product attention over one sequence.
    *
    * @param causality when true, query t attends only to keys <= t
    *   (strictly-future scores forced to the padding constant).
    * @return [T_q][d_v] context vectors. All-zero query rows come back
    *   all-zero (the reference multiplies their softmax row by 0).
    */
  def scaledDotProductAttention(q: Array[Array[Double]],
      k: Array[Array[Double]], v: Array[Array[Double]],
      causality: Boolean = false): Array[Array[Double]] = {
    require(k.length == v.length, "key/value sequence lengths differ")
    if (q.isEmpty) return Array.empty
    val dK = q(0).length
    val dV = if (v.isEmpty) 0 else v(0).length
    val scale = math.sqrt(dK.toDouble)
    val keyZero: Array[Boolean] = k.map(_.forall(x => math.abs(x) == 0.0))
    Array.tabulate(q.length) { ti =>
      val out = new Array[Double](dV)
      val qRow = q(ti)
      val queryZero = qRow.forall(x => math.abs(x) == 0.0)
      val scores = new Array[Double](k.length)
      var tj = 0
      while (tj < k.length) {
        if (keyZero(tj) || (causality && tj > ti)) scores(tj) = PaddingNum
        else {
          var s = 0.0
          var d = 0
          while (d < dK) { s += qRow(d) * k(tj)(d); d += 1 }
          scores(tj) = s / scale
        }
        tj += 1
      }
      Attention.softmaxInPlace(scores)
      if (!queryZero) {
        tj = 0
        while (tj < k.length) {
          val a = scores(tj)
          var d = 0
          while (d < dV) { out(d) += a * v(tj)(d); d += 1 }
          tj += 1
        }
      }
      out
    }
  }

  /** Multi-head self-attention, reference wiring: ONE dense projection
    * of the queries is Q = K = V; heads split the feature axis; the
    * raw queries residual-add onto the head concat; layer norm last.
    * `wq.out` must equal the query dim (the residual requires it) and
    * split evenly into `numHeads`.
    */
  def multiHeadAttention(queries: Array[Array[Double]], wq: Attention.Dense,
      numHeads: Int, gamma: Array[Double], beta: Array[Double],
      causality: Boolean = false): Array[Array[Double]] = {
    val dModel = wq.out
    require(queries.isEmpty || dModel == queries(0).length,
      s"residual add needs dense(out=$dModel) == query dim ${queries(0).length}")
    require(dModel % numHeads == 0,
      s"d_model $dModel must split into $numHeads heads")
    val proj = wq(queries)
    val dh = dModel / numHeads
    val out = Array.fill(queries.length)(new Array[Double](dModel))
    var h = 0
    while (h < numHeads) {
      val off = h * dh
      val sub = proj.map(row => java.util.Arrays.copyOfRange(row, off, off + dh))
      val ctx = scaledDotProductAttention(sub, sub, sub, causality)
      var t = 0
      while (t < queries.length) {
        System.arraycopy(ctx(t), 0, out(t), off, dh)
        t += 1
      }
      h += 1
    }
    var t = 0
    while (t < queries.length) {
      var d = 0
      while (d < dModel) { out(t)(d) += queries(t)(d); d += 1 }
      t += 1
    }
    layerNorm(out, gamma, beta)
  }
}
