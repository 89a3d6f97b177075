package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.GraftFunctions
import graft.spark.Scans

/** Nearest-neighbour search over an embedding column (`Array[Float]`).
  *
  * Every search keys its corpus and its probes, then ends in ONE
  * scoring path (`scoreTopK`): a join on the key with the
  * self-pair excluded, the native `dot_f32` score per candidate pair,
  * and a cut to each probe's k best neighbours by `score desc,
  * neighbor_id asc`. The searches differ only in their key:
  *  - Brute force ([[bruteForceTopK]]): no key. The probe side is
  *    broadcast and the corpus streams past it.
  *  - SRP-LSH ([[lshTopK]], [[lshTopKTables]]): `nBits` deterministic
  *    hyperplanes bucket the corpus; probes join their own bucket, plus
  *    optional lowest-margin multi-probe buckets or further hash
  *    tables, bounding the pair count.
  *  - IVF ([[ivfTopK]], [[ivfSelfTopK]]): a deterministic Lloyd coarse
  *    quantizer splits the corpus into cells; probes join their
  *    `nprobe` nearest cells. The self join probes the whole corpus
  *    through a shuffle join instead of a broadcast.
  * [[semanticDedup]] pairs unit vectors within one IVF cell.
  *
  * Null-embedding rows drop out on every path, on both sides: they are
  * no query and no neighbour. One malformed row must not kill a
  * 10^12-row job; validate embeddings upstream if absence must be loud.
  */
object Similarity {

  /** Dot product of two float arrays as double, left-to-right — the
    * native codegen'd `graft.functions.DotF32` expression (a primitive
    * loop in the generated code; the higher-order-function
    * `aggregate(zip_with(...))` formulation allocates a boxed array
    * per pair and is ~7x slower on the brute-force join). Built as a
    * Column directly, so it needs no session.
    */
  def dotCol(a: Column, b: Column): Column =
    GraftFunctions.column("dot_f32", a, b)

  def normCol(a: Column): Column = sqrt(dotCol(a, a))

  /** `e` scaled to unit length, so a plain dot IS the cosine — one dot
    * product per candidate pair instead of three (normalizing each row
    * once is the scale-correct place to pay the norm).
    *
    * The norm must NOT be referenced from inside a higher-order lambda,
    * not even via its own aliased column: Catalyst's CollapseProject
    * inlines a single-use alias back into the lambda, where it
    * re-evaluates once PER ELEMENT. zip_with against array_repeat keeps
    * the norm in an ordinary argument position — evaluated once per
    * ROW — with only lambda variables inside.
    *
    * Zero-norm guard: an all-zero row divides by 1 (passes through
    * unscaled) instead of producing NaN components (0/0), so a
    * degenerate row can never poison OTHER rows' rankings with NaN
    * scores. (A zero probe still ties every neighbour at 0.0, and the
    * tie-break picks the smallest id.)
    */
  def unitCol(e: Column): Column = {
    val nrm = normCol(e)
    val safe = when(nrm > 0, nrm).otherwise(lit(1.0))
    zip_with(e, array_repeat(safe, size(e)), (x, n) => (x / n).cast("float"))
  }

  /** Probe-set rows above which the probe-side broadcast is withheld.
    * At the default, a 64-dim float probe set broadcasts ~50 MB — fine
    * on any executor; past the cap the bucketed paths (lsh/ivf) fall
    * back to their equi-key shuffle join and the brute-force path
    * fails fast, because an executor-OOM mid-broadcast is the one
    * failure mode a 10^12-row job cannot diagnose. The check-then-use
    * is not atomic (the probe plan executes for the bounded count and
    * again for the join), so the documented requirement is the same
    * deterministic-lineage contract as CorpusStats/Packing.
    */
  private[ops] val MaxBroadcastProbes = 200000L

  /** The rows of `df` that have an embedding. */
  private def withEmbedding(df: DataFrame): DataFrame =
    df.filter(col("embedding").isNotNull)

  /** [[withEmbedding]] rows keyed by `key` = `keyExpr`, a native
    * cell/bucket expression that is null only for a null embedding.
    *
    * A join on `key` makes Catalyst infer IsNotNull(key) and push it
    * below the projection — duplicating the key evaluation into a
    * Filter, i.e. TWO assignment passes over every corpus vector.
    * Filtering null embeddings explicitly and wrapping the key in
    * coalesce(key, -1) makes the key non-nullable, so the inferred
    * IsNotNull constant-folds away and the key runs ONCE per row. -1 is
    * outside every key domain and unreachable behind the filter.
    */
  private def keyed(df: DataFrame, key: String, keyExpr: Column): DataFrame =
    withEmbedding(df).withColumn(key, coalesce(keyExpr, lit(-1)))

  /** The one candidate-scoring path of every search: joins the keyed
    * corpus `cb` to the keyed probes `pb` on equality of each of `keys`
    * with the self-pair excluded, scores each pair with `dot_f32`, and
    * keeps each probe's k best neighbours by `score desc, neighbor_id
    * asc` (`rk` = 1..k).
    *
    * `metrics` observes the candidate-pair count at zero extra shuffle:
    * a degenerate bucket or cell surfaces as candidate_pairs blowing
    * past ~probes x expected bucket, the signal to raise nBits/nlist.
    * `dedup` must be set when one probe can reach a neighbour through
    * several keys (multi-probe, multi-table); the pair then keeps one
    * row before ranking.
    *
    * k == 1 avoids the ranking window entirely: `max(struct(score,
    * -neighbor, neighbor))` is a hash aggregate with a MAP-SIDE partial
    * — the scored stream reduces to one row per probe before the
    * exchange, instead of shuffling and sorting every scored pair. The
    * tie order is the window's, and a max needs no dedup.
    */
  private def scoreTopK(cb: DataFrame, pb: DataFrame, keys: Seq[String],
      k: Int, broadcastProbes: Boolean, dedup: Boolean,
      metrics: Option[Observation]): DataFrame = {
    val p = if (broadcastProbes) broadcast(pb.as("p")) else pb.as("p")
    val on = (keys.map(key => col(s"c.$key") === col(s"p.$key")) :+
      (col("c.vec_id") =!= col("p.vec_id"))).reduce(_ && _)
    val joined = cb.as("c").join(p, on)
      .select(
        col("p.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        dotCol(col("p.embedding"), col("c.embedding")).as("score"))
    val observed = metrics.fold(joined)(obs => joined.observe(obs,
      coalesce(count(lit(1)), lit(0L)).as("candidate_pairs")))
    if (k == 1) {
      observed.groupBy("query_id")
        .agg(max(struct(col("score"), (-col("neighbor_id")).as("neg"),
          col("neighbor_id").as("nid"))).as("b"))
        .select(col("query_id"), col("b.nid").as("neighbor_id"),
          col("b.score").as("score"), lit(1).as("rk"))
    } else {
      val uniq = if (dedup) observed.dropDuplicates("query_id", "neighbor_id")
        else observed
      val w = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("neighbor_id").asc)
      uniq.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
    }
  }

  /** Brute-force top-k by dot product: corpus x broadcast(probes).
    *
    * The probe set MUST be bounded: the scoring join has no equi-key
    * to shuffle on, so there is no over-cap fallback — the guard fails
    * fast with the measured size instead of letting the broadcast OOM
    * the executors.
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      maxBroadcastProbes: Long = MaxBroadcastProbes): DataFrame = {
    val nProbes = boundedCount(probes, maxBroadcastProbes)
    require(nProbes <= maxBroadcastProbes,
      s"bruteForceTopK probe set exceeds $maxBroadcastProbes rows (> " +
        s"$nProbes): the keyless scoring join only exists broadcast — " +
        "use lshTopK/ivfTopK (bucketed, shuffle-joinable) or " +
        "ivfSelfTopK for corpus-sized probe sets")
    // corpus side spread before the keyless scoring join: the dot
    // stream runs at the corpus scan's parallelism (see Scans)
    scoreTopK(withEmbedding(Scans.spread(corpus, col("vec_id"))),
      withEmbedding(probes), Nil, k, broadcastProbes = true, dedup = false,
      metrics = None)
  }

  /** Deterministic pseudo-random hyperplane component for (bit, dim).
    *
    * The raw FNV-1a hash is finalized through splitmix64 before the
    * (-1, 1) mapping: FNV-1a over short STRUCTURED keys ("srp:b:d",
    * differing in one digit) has almost no cross-key avalanche — the
    * unfinalized plane rows measured pairwise-correlated at exactly
    * ±1, i.e. the "nBits hyperplanes" were one effective hyperplane
    * and bucket count saturated near 20 at ANY nBits (making the
    * bucketed path silently quadratic at scale). With the finalizer
    * the rows are independent and occupancy follows 2^-nBits;
    * SrpPlaneSpec pins both properties. (MinHash/SimHash are
    * unaffected: they hash DIVERSE text, FNV's designed use, and
    * MinHash re-mixes through its a*x+b permutations.)
    */
  private def planeComponent(bit: Int, dim: Int): Double = {
    val h = graft.functions.Fnv1a64.hashString(s"srp:$bit:$dim")
    // splitmix64 finalizer (public-domain constants)
    var z = h + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    // map to (-1, 1)
    (z.toDouble / Long.MaxValue.toDouble)
  }

  /** Hyperplane matrix for (nBits, dim), memoized per executor — the
    * components are FNV hashes, far too slow to recompute per row.
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()
  private def planes(nBits: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((nBits, dim), { case (b, d) =>
      Array.tabulate(b, d)(planeComponent)
    })

  private val planeNormCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()
  private def planeNorms(nBits: Int, dim: Int): Array[Double] =
    planeNormCache.computeIfAbsent((nBits, dim), { case (b, d) =>
      planes(b, d).map(row => math.sqrt(row.map(x => x * x).sum))
    })

  /** The SRP hyperplane matrix, exposed read-only for the DuckDB oracle
    * generator: the planes are algorithm CONSTANTS (any fixed matrix
    * defines a valid SRP family, like the 0.85 damping factor), so the
    * oracle embeds them as double literals and independently recomputes
    * every signature, bucket join, score, and rank in SQL.
    */
  def srpPlanes(nBits: Int, dim: Int): Array[Array[Double]] =
    planes(nBits, dim).map(_.clone())

  /** Per-plane L2 norms (the margin denominators of
    * [[srpProbeBuckets]]), exposed for the multi-probe oracle
    * generator the same way as [[srpPlanes]].
    */
  def srpPlaneNorms(nBits: Int, dim: Int): Array[Double] =
    planeNorms(nBits, dim).clone()

  /** The ONE sign-projection loop both the bucketing and the probing
    * paths share — a second copy of the hashing scheme diverging from
    * the first would silently put probes in different buckets than the
    * corpus. `margins` (when non-null) receives the TRUE point-to-
    * hyperplane distances |v.p| / ||p|| — the generated planes are not
    * unit rows, so an unnormalized |v.p| would bias flip ordering
    * toward small-norm hyperplanes.
    */
  private def projectSig(v: Array[Float], nBits: Int,
      margins: Array[Double]): Int = {
    val pl = planes(nBits, v.length)
    val norms = if (margins == null) null else planeNorms(nBits, v.length)
    var sig = 0
    var b = 0
    while (b < nBits) {
      val row = pl(b)
      var s = 0.0
      var d = 0
      while (d < v.length) { s += v(d) * row(d); d += 1 }
      if (s > 0) sig |= (1 << b)
      if (margins != null) margins(b) = math.abs(s) / norms(b)
      b += 1
    }
    sig
  }

  /** Signed-random-projection bucket id (nBits-bit signature). */
  def srpSignature(vec: Seq[Float], nBits: Int): Int =
    projectSig(vec.toArray, nBits, null)

  /** SRP signature over Catalyst array data — the entry point of the
    * native `srp_sig` expression ([[graft.functions.SrpSig]]; callable
    * from generated code): the SAME memoized hyperplanes and the same
    * left-to-right float*double accumulation as [[srpSignature]]
    * (bit-identical sums -> identical signs -> identical buckets), but
    * reading floats straight out of the unsafe array — no boxed
    * `Seq[Float]` per row. A null ELEMENT reads as 0.0f here (Catalyst
    * array accessor semantics) where the UDF path would have thrown;
    * embeddings with null components are malformed input either way.
    */
  def srpSignatureData(v: org.apache.spark.sql.catalyst.util.ArrayData,
      nBits: Int): Int = {
    val dim = v.numElements()
    val pl = planes(nBits, dim)
    var sig = 0
    var b = 0
    while (b < nBits) {
      val row = pl(b)
      var s = 0.0
      var d = 0
      while (d < dim) { s += v.getFloat(d) * row(d); d += 1 }
      if (s > 0) sig |= (1 << b)
      b += 1
    }
    sig
  }

  /** Multi-probe bucket set: the base SRP bucket first, then the
    * buckets reached by flipping each of the `extra` LOWEST-MARGIN
    * bits — the hyperplanes the vector sits closest to, i.e. the bits
    * most likely to differ for a true near neighbor (standard
    * multi-probe LSH: the recall of a wider signature without the
    * candidate blowup of a shorter one; probe-side only, the corpus
    * stays bucketed once).
    */
  def srpProbeBuckets(vec: Seq[Float], nBits: Int, extra: Int): Array[Int] = {
    val margins = new Array[Double](nBits)
    val sig = projectSig(vec.toArray, nBits, margins)
    val order = margins.zipWithIndex.sortBy(_._1).map(_._2)
    val n = math.min(extra, nBits)
    val out = new Array[Int](1 + n)
    out(0) = sig
    var i = 0
    while (i < n) { out(i + 1) = sig ^ (1 << order(i)); i += 1 }
    out
  }

  /** Row count, bounded by `cap`: schedules partitions incrementally
    * like `Dataset.take` (first 1, then 4x more per round) and stops as
    * soon as the running total exceeds `cap`, but counts INSIDE the
    * executors — one Long per partition returns to the driver, never
    * rows. Each partition's own scan also stops at cap+1, so one
    * giant partition costs O(cap) reads. Returns the exact count when
    * it is <= cap, otherwise some value > cap (callers only branch on
    * the threshold).
    */
  private[ops] def boundedCount(df: DataFrame, cap: Long): Long = {
    val rdd = df.select(lit(1).as("one")).queryExecution.toRdd
    val sc = df.sparkSession.sparkContext
    val total = rdd.getNumPartitions
    var counted = 0L
    var next = 0
    var batch = 1
    while (next < total && counted <= cap) {
      // Long arithmetic: at ~1e9+ partitions `next + batch` would wrap
      // Int-negative and spin the loop forever on empty partitions
      val upTo = math.min(total.toLong, next.toLong + batch).toInt
      val counts = sc.runJob(rdd,
        (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
          var c = 0L
          while (it.hasNext && c <= cap) { it.next(); c += 1 }
          c
        }, next until upTo)
      counted += counts.sum
      next = upTo
      batch = math.min(batch.toLong * 4, Int.MaxValue.toLong).toInt
    }
    counted
  }

  /** argmin ||v - c||^2 = argmax (v.c - |c|^2/2); primitive loops and
    * primitive partial selection — this runs once per corpus vector,
    * so no boxing/sorting allocations.
    */
  private[ops] def nearestCells(cs: Array[Array[Double]], v: Seq[Float],
      n: Int): Array[Int] = {
    val scores = new Array[Double](cs.length)
    var ci = 0
    while (ci < cs.length) {
      val c = cs(ci)
      var dot = 0.0; var nrm = 0.0; var d = 0
      while (d < c.length) {
        dot += v(d) * c(d); nrm += c(d) * c(d); d += 1
      }
      scores(ci) = dot - nrm / 2
      ci += 1
    }
    val k = math.min(n, cs.length)
    val out = new Array[Int](k)
    val taken = new Array[Boolean](cs.length)
    var o = 0
    while (o < k) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < scores.length) {
        if (!taken(i) && scores(i) > bestScore) { best = i; bestScore = scores(i) }
        i += 1
      }
      taken(best) = true
      out(o) = best
      o += 1
    }
    out
  }

  /** Nearest-cell assignment over Catalyst array data — the entry point
    * of the native `ivf_cell` expression ([[graft.functions.IvfCell]];
    * callable from generated code). `cs` is the centroid table as a
    * nested array literal. EXACTLY the same accumulation order,
    * `dot - |c|^2/2` score, and first-max tie semantics as
    * [[nearestCells]] with n=1 (a diverging second copy would assign
    * corpus vectors and probes to different cells), but reading floats
    * straight from the unsafe arrays — no per-row Seq[Float] boxing on
    * the pass that touches every corpus vector.
    */
  def nearestCellData(v: org.apache.spark.sql.catalyst.util.ArrayData,
      cs: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    val nCells = cs.numElements()
    var best = -1
    var bestScore = Double.NegativeInfinity
    var ci = 0
    while (ci < nCells) {
      val c = cs.getArray(ci)
      val dims = c.numElements()
      // unsafe array reads have NO runtime bounds check — a shorter
      // embedding (mixed-model corpus, truncated row) must fail fast
      // like the Seq-based path did, not read adjacent rows' bytes and
      // silently assign a garbage cell
      if (v.numElements() != dims)
        throw new IllegalArgumentException(
          s"ivf_cell: embedding dim ${v.numElements()} != centroid dim $dims")
      var dot = 0.0; var nrm = 0.0; var d = 0
      while (d < dims) {
        val cd = c.getDouble(d)
        dot += v.getFloat(d) * cd; nrm += cd * cd; d += 1
      }
      val score = dot - nrm / 2
      if (score > bestScore) { best = ci; bestScore = score }
      ci += 1
    }
    best
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of `nlist` centroids
    * ([[fitQuantizerLloyd]], `lloydIters` rounds, collected — the
    * centroid table is tiny) partitions the corpus into cells; each
    * probe searches only its `nprobe` nearest cells. This is the
    * standard billion-vector scale path: the corpus is scanned once to
    * assign cells (narrow), the probe side is broadcast, and the
    * verification join is bounded by cell sizes instead of going
    * quadratic. The output is bit-identical at any parallelism.
    */
  def ivfTopK(spark: SparkSession, corpus: DataFrame, probes: DataFrame,
      k: Int, nlist: Int = 16, nprobe: Int = 2,
      maxBroadcastProbes: Long = MaxBroadcastProbes,
      lloydIters: Int = 2): DataFrame =
    ivfCellTopK(spark, corpus, Some(probes), k, nlist, nprobe, lloydIters,
      maxBroadcastProbes = maxBroadcastProbes)

  /** Deterministic coarse-quantizer fit: Lloyd's algorithm with a fixed
    * init (the `nlist` lowest-id vectors) and order-independent
    * centroid updates — per-dimension sums run through DECIMAL(38,15)
    * (exact, so the sum is parallelism-invariant), then the mean
    * divides that sum as a DOUBLE and rounds to 9 decimals (a
    * deterministic function of the exact sum, though not itself exact
    * rational arithmetic) — so the fitted centroids are bit-identical
    * at any parallelism and fully replicable in SQL (the
    * `ann_ivf_topk` oracle replays every assignment and update in
    * DuckDB) — the same reproducibility contract as the engine's
    * PageRank. It is the only quantizer fit behind [[ivfTopK]],
    * [[ivfSelfTopK]] and [[semanticDedup]].
    *
    * Scale shape: each Lloyd round is ONE narrow corpus scan through
    * the native codegen `ivf_cell` assignment plus a map-side-combined
    * shuffle of (cell, dim) decimal partials — nlist x dim rows reach
    * the driver per round, never vectors. At 10^12 rows bound the
    * input (e.g. a deterministic `vec_id % k = 0` slice) before
    * calling; the fit itself never collects corpus data.
    */
  def fitQuantizerLloyd(spark: SparkSession, corpus: DataFrame,
      nlist: Int, iters: Int)
      : org.apache.spark.broadcast.Broadcast[Array[Array[Double]]] = {
    val c = withEmbedding(corpus)
    // fixed deterministic init: the nlist smallest ids (a global top-k,
    // one narrow pass — TakeOrderedAndProject, no full sort)
    var cents: Array[Array[Double]] = c
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(nlist)
      .collect()
      .map(_.getAs[scala.collection.Seq[Float]](1).map(_.toDouble).toArray)
    require(cents.length == nlist,
      s"Lloyd quantizer needs >= $nlist non-null vectors, got ${cents.length}")
    for (_ <- 1 to iters) {
      val centroidsLit = typedlit(cents.map(_.toSeq).toSeq)
      val sums = c
        .select(
          GraftFunctions.column("ivf_cell", col("embedding"), centroidsLit)
            .as("cell"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(sum(col("v").cast("double")
          .cast(org.apache.spark.sql.types.DecimalType(38, 15))).as("s"),
          count(lit(1)).as("cnt"))
        .collect()
      val next = cents.map(_.clone()) // empty cells keep their centroid
      sums.foreach { r =>
        val cell = r.getInt(0)
        val pos = r.getInt(1)
        val s = r.getDecimal(2).doubleValue()
        val cnt = r.getLong(3)
        next(cell)(pos) = BigDecimal(s / cnt)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      cents = next
    }
    spark.sparkContext.broadcast(cents)
  }

  /** Corpus-scale self k-NN join over the IVF cells: EVERY vector is a
    * probe, so nothing is broadcast — both sides shuffle on the cell
    * id (a shuffled hash / sort-merge join bounded by cell sizes).
    * This is the 100 TB semantic-dedup / retrieval-pair-mining shape:
    * the per-cell cost is O(nprobe * |cell|^2) and `nlist` controls
    * the quadratic term exactly like any IVF search; AQE's skew-join
    * split handles an oversized cell at runtime, and `metrics`'
    * candidate_pairs shows a degenerate cell as the signal to raise
    * `nlist`. A corpus vector lives in exactly ONE cell, so a (query,
    * neighbor) pair meets at most once even with nprobe > 1 — no dedup
    * pass needed before ranking.
    */
  def ivfSelfTopK(spark: SparkSession, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 2,
      metrics: Option[Observation] = None,
      lloydIters: Int = 2): DataFrame =
    ivfCellTopK(spark, corpus, None, k, nlist, nprobe, lloydIters, metrics)

  /** Shared IVF search core: probes broadcast when given (the bounded-
    * probe-set path), the corpus probing itself through a shuffle join
    * when not. One definition of the cell keys — [[ivfTopK]] and
    * [[ivfSelfTopK]] may not drift apart.
    */
  private def ivfCellTopK(spark: SparkSession, corpus: DataFrame,
      probes: Option[DataFrame], k: Int, nlist: Int, nprobe: Int,
      lloydIters: Int,
      metrics: Option[Observation] = None,
      maxBroadcastProbes: Long = MaxBroadcastProbes): DataFrame = {
    val bc = fitQuantizerLloyd(spark, corpus, nlist, lloydIters)
    // corpus-side cell assignment through the native codegen ivf_cell
    // expression (centroids ride as a nested-array literal) — the one
    // pass that touches EVERY corpus vector pays no Seq[Float] boxing;
    // the probe side keeps the nprobe-cells UDF (bounded probe sets,
    // array return, and in the self-join case the corpus cells are
    // already the expression)
    val centroidsLit = typedlit(bc.value.map(_.toSeq).toSeq)
    val cellsUdf = udf((v: Seq[Float]) => nearestCells(bc.value, v, nprobe))
    // corpus spread across the cluster when its scan under-splits: the
    // cell-join's scoring stream otherwise runs at scan parallelism
    // (no-op at scale — see Scans). The self-join probe side
    // shares the spread frame so neither stream starves.
    val corpusS = Scans.spread(corpus, col("vec_id"))
    val cb = keyed(corpusS, "cell",
      GraftFunctions.column("ivf_cell", col("embedding"), centroidsLit))
    val pb = withEmbedding(probes.getOrElse(corpusS))
      .withColumn("cell", explode(cellsUdf(col("embedding"))))
    // probe-side broadcast only while the bounded-probe contract
    // actually holds; past the cap the cell-keyed join shuffles both
    // sides (AQE picks the strategy) instead of OOMing on the build
    scoreTopK(cb, pb, Seq("cell"), k,
      probes.exists(p => boundedCount(p, maxBroadcastProbes) <= maxBroadcastProbes),
      dedup = false, metrics)
  }

  /** SemDeDup-shaped semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus embeddings with the IVF
    * coarse quantizer, connect within-cluster pairs with cosine ≥
    * `tau`, and elect the min-id member of each connected group as its
    * keeper. Returns (id, keeper) for EVERY input row — keeper == id
    * for uniques and null-embedding rows (a dedup filter must surface
    * clean docs, not drop them; `filter(id === keeper)` keeps one copy
    * per semantic group).
    *
    * Scale shape (the published algorithm's own cost model): cell
    * assignment is one narrow pass through the native codegen
    * `ivf_cell`; embeddings are unit-normalized ONCE per row
    * ([[unitCol]]; the pair predicate is then a single dot product);
    * the pair join shuffles both sides on the cell id and is
    * O(Σ|cell|²) — `nlist` controls the quadratic term exactly as in
    * [[ivfSelfTopK]], and AQE splits an oversized cell. Keeper
    * election reuses the large-star/small-star CC core
    * ([[graft.spark.Cc]]), whose output is proportional to the
    * DUPLICATED subset only.
    *
    * Approximation contract (same honesty as the ANN surfaces): a
    * cross-CLUSTER near-duplicate pair is not examined — that is
    * SemDeDup's documented trade — but EXACT duplicates always share
    * a cell (identical input → identical argmin), so the planted-twin
    * oracle is closed-form.
    */
  def semanticDedup(spark: SparkSession, corpus: DataFrame, tau: Double,
      nlist: Int = 16, lloydIters: Int = 2): DataFrame = {
    val bc = fitQuantizerLloyd(spark, corpus, nlist, lloydIters)
    val centroidsLit = typedlit(bc.value.map(_.toSeq).toSeq)
    val unit = keyed(corpus, "cell",
        GraftFunctions.column("ivf_cell", col("embedding"), centroidsLit))
      .select(col("vec_id").cast("long").as("id"),
        unitCol(col("embedding")).as("e"), col("cell"))
    val a = unit.select(col("cell"), col("id").as("id_a"), col("e").as("e_a"))
    val b = unit.select(col("cell"), col("id").as("id_b"), col("e").as("e_b"))
    val pairs = a.join(b, "cell")
      .filter(col("id_a") < col("id_b") &&
        dotCol(col("e_a"), col("e_b")) >= tau)
      .select("id_a", "id_b")
    val keepers = Dedup.connectedKeepers(pairs)
      .withColumnRenamed("doc_id", "id")
    corpus.select(col("vec_id").cast("long").as("id"))
      .join(keepers, Seq("id"), "left")
      .select(col("id"), coalesce(col("keeper"), col("id")).as("keeper"))
  }

  /** Multi-TABLE SRP-LSH: `nTables` independent nBits-bit hash tables
    * — the standard LSH recall mechanism (a true neighbor pair is
    * missed only if it splits in EVERY table: miss rate p^L instead of
    * p). Complements [[lshTopK]]'s multi-PROBE mode (which widens the
    * search within one table); the two compose conceptually but are
    * kept as separate operators because their cost models differ —
    * multi-table multiplies corpus storage/shuffle by L, multi-probe
    * multiplies probe fan-out only.
    *
    * Scale shape: the corpus pays ONE narrow pass through the native
    * codegen `srp_sig` at nBits*nTables bits, then explodes to L
    * (table, bucket) rows per vector — bit-slicing the wide signature,
    * no second projection pass. Probes broadcast (guarded like every
    * ANN path); the join key is (table, bucket), so candidate volume
    * is Σ_t probes x bucket_t. A pair colliding in several tables
    * dedups before ranking. Fully hash-oracled
    * (`ann_lsh_multitable_topk`): the oracle slices the same wide
    * plane-literal signature per table in SQL.
    */
  def lshTopKTables(corpus: DataFrame,
      probes: DataFrame, k: Int, nBits: Int = 6, nTables: Int = 4): DataFrame = {
    require(nBits >= 1 && nTables >= 1 && nBits * nTables <= 30,
      s"wide signature nBits*nTables = ${nBits * nTables} must fit an INT")
    val wide = nBits * nTables
    val mask = (1 << nBits) - 1
    def slices(c: Column) = explode(array((0 until nTables).map { t =>
      struct(lit(t).as("t"),
        shiftright(c, t * nBits).bitwiseAND(lit(mask)).as("b"))
    }: _*))
    def tableKeyed(df: DataFrame) = df
      .withColumn("sig",
        GraftFunctions.column("srp_sig", col("embedding"), lit(wide)))
      .withColumn("tb", slices(col("sig")))
      .select(col("vec_id"), col("embedding"),
        col("tb.t").as("t"), col("tb.b").as("b"))
    // the probe side explodes each probe to nTables rows, so the
    // broadcast guard bounds rows AFTER the explosion: count against
    // the cap divided by the fan-out, not the raw probe count
    val probeCap = math.max(1L, MaxBroadcastProbes / nTables)
    scoreTopK(tableKeyed(corpus), tableKeyed(withEmbedding(probes)),
      Seq("t", "b"), k, boundedCount(probes, probeCap) <= probeCap,
      dedup = nTables > 1, metrics = None)
  }

  /** LSH-bucketed top-k: corpus bucketed once by SRP signature; each
    * probe joins only its bucket, or with `multiProbe` > 0 also the
    * buckets of its lowest-margin bit flips ([[srpProbeBuckets]]).
    * Recall grows with fewer bits / multi-probe; the shuffle is
    * bounded by bucket sizes. nBits = 0 puts the whole corpus in one
    * bucket: an exhaustive search.
    *
    * Occupancy caveat (measured, BASELINE.md round 7): SRP bucket
    * sizes are bounded by the corpus GEOMETRY, not by 2^-nBits — every
    * member of a tight cluster projects with the same signs, so extra
    * bits cannot split it (observed: 40k vectors in 10 tight clusters
    * → 20 occupied buckets at nBits=10, max bucket 18k, ~5e8 candidate
    * pairs). On cluster-concentrated corpora use [[ivfTopK]] (the
    * quantizer subdivides clusters; its plant-scaled law measures
    * ~2x at 10x where SRP measures 20-80x). Pass `metrics` to observe
    * the candidate-pair count — the same raise-the-alarm signal as
    * [[ivfSelfTopK]].
    */
  def lshTopK(corpus: DataFrame, probes: DataFrame,
      k: Int, nBits: Int = 8, multiProbe: Int = 0,
      maxBroadcastProbes: Long = MaxBroadcastProbes,
      metrics: Option[Observation] = None): DataFrame = {
    // corpus bucketing through the native codegen srp_sig expression —
    // the UDF formulation boxed every embedding into a Seq[Float] on
    // the one pass that touches EVERY corpus vector; multi-probe stays
    // a UDF (probe-side only, bounded probe sets, returns an array)
    val sig = GraftFunctions.column("srp_sig", col("embedding"), lit(nBits))
    val probeUdf = udf((v: Seq[Float]) => srpProbeBuckets(v, nBits, multiProbe))
    // spread only the one-bucket (nBits == 0, exhaustive) mode: its
    // scoring volume is probes x corpus, so the scan-parallelism floor
    // pays for its exchange; bucketed modes score ~2^-nBits of that
    // per probe and the extra exchange would cost more than it spreads
    // at the bucketed volume (measured r8: +0.4 s on sub-second
    // queries, -4 s on the exhaustive twin)
    val cbBase = if (nBits == 0) Scans.spread(corpus, col("vec_id")) else corpus
    val pb =
      if (multiProbe <= 0) keyed(probes, "bucket", sig)
      else withEmbedding(probes)
        .withColumn("bucket", explode(probeUdf(col("embedding"))))
    // same guarded broadcast as the IVF core: the bucket equi-key
    // means an over-cap probe set degrades to a shuffle join, not OOM
    scoreTopK(keyed(cbBase, "bucket", sig), pb, Seq("bucket"), k,
      boundedCount(probes, maxBroadcastProbes) <= maxBroadcastProbes,
      dedup = multiProbe > 0, metrics)
  }
}
