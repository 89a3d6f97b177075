package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.functions.{GraftFunctions, MinhashSig}

/** Training-data ops: planted-duplicate recall for MinHash-LSH and
  * SimHash, LSH-ANN recall vs brute force, multimodal plumbing
  * determinism, native fingerprint expression.
  */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  // the sf0.001 tables committed with the benchmark; forked test JVMs
  // run in the repository root
  val sf = "kgbench/data/sf0.001"

  def documents = spark.read.parquet(s"$sf/documents.parquet")
  def embeddings = spark.read.parquet(s"$sf/embeddings.parquet")

  test("minhash-lsh finds planted near-duplicates (high recall)") {
    val d = documents.select("doc_id", "text")
    val planted = d.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" tail")).as("text"))
    val pairs = Dedup.minhashLshPairs(d.unionByName(planted),
        minJaccard = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nDocs = d.count()
    val found = (0L until nDocs).count(i => pairs.contains((i, i + 1000000)))
    info(s"planted recall: $found/$nDocs")
    assert(found >= (nDocs * 0.95).toInt)
    // verified pairs really are similar
    assert(pairs.nonEmpty)
  }

  test("minhash-lsh never reports pairs below the jaccard threshold") {
    val d = documents.select("doc_id", "text")
    val verified = Dedup.minhashLshPairs(d, minJaccard = 0.7)
    assert(verified.filter(col("jaccard") < 0.7).count() == 0)
  }

  test("simhash: identical text -> hamming 0; planted dups mostly close") {
    assert(Dedup.simhash("a b c") == Dedup.simhash("a b c"))
    val d = documents.select("doc_id", "text").limit(100)
    val planted = d.select((col("doc_id") + 1000000).as("doc_id"),
      col("text")) // exact copies
    val pairs = Dedup.simhashPairs(d.unionByName(planted), maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = (0L until 100L).count(i => pairs.contains((i, i + 1000000)))
    assert(found == 100, s"exact copies must collide: $found/100")
  }

  test("probe-broadcast guard: over-cap probes shuffle (lsh/ivf) or fail fast (brute)") {
    val e = embeddings.select("vec_id", "embedding")
    // bucketed paths: identical results either side of the cap, and the
    // over-cap plan carries NO broadcast exchange on the probe side
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bc = Similarity.lshTopK(e, e, k = 3, nBits = 4)
    // with the auto-broadcast threshold OFF, only the forced hint can
    // broadcast: the under-cap path must still carry it, the over-cap
    // path must run the equi-key join as a shuffle — and agree. (With
    // the threshold at its default, AQE is free to re-broadcast a
    // measured-small probe side even without the hint — that is the
    // point of dropping the hint rather than forbidding broadcast.)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sh = Similarity.lshTopK(e, e, k = 3, nBits = 4,
        maxBroadcastProbes = 2)
      assert(rows(bc) == rows(sh), "broadcast and shuffle joins must agree")
      sh.collect() // AQE finalizes only after execution
      val shPlan = sh.queryExecution.executedPlan.toString
      assert(!shPlan.contains("BroadcastExchange"),
        s"over-cap probe set must not broadcast:\n$shPlan")
      val forced = Similarity.lshTopK(e, e, k = 3, nBits = 4)
      forced.collect()
      assert(forced.queryExecution.executedPlan.toString
        .contains("BroadcastExchange"),
        "under-cap probe set must keep the broadcast hint")
      val ivfSh = Similarity.ivfTopK(spark, e, e, k = 3, nlist = 4,
        nprobe = 2, maxBroadcastProbes = 2)
      assert(rows(ivfSh) ==
        rows(Similarity.ivfTopK(spark, e, e, k = 3, nlist = 4, nprobe = 2)))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // brute force has no equi-key fallback: fail fast, never OOM
    val err = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(e, e, 1, maxBroadcastProbes = 2)
    }
    assert(err.getMessage.contains("probe set exceeds"))
  }

  test("lsh ann recall vs brute force") {
    val e = embeddings.select("vec_id", "embedding")
    val n = e.count()
    val brute = Similarity.bruteForceTopK(e, e, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall is judged against the fraction of the corpus actually
    // searched (the candidate_pairs Observation), like the IVF test —
    // an absolute threshold was only attainable while the broken
    // pre-finalizer planes collapsed the corpus into ~20 giant buckets
    // (searching half the corpus per probe); with real 2^-nBits
    // occupancy the bucketed search must beat CHANCE, not a constant
    val obs = new org.apache.spark.sql.Observation
    val lsh = Similarity.lshTopK(e, e, k = 5, nBits = 4,
        metrics = Some(obs))
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val frac = obs.get("candidate_pairs").asInstanceOf[Long].toDouble /
      (n.toDouble * (n - 1))
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    info(f"ann recall@5 (4-bit SRP): $recall%.3f searched-fraction $frac%.3f")
    assert(recall > 2 * frac,
      f"recall $recall%.3f no better than the $frac%.3f chance line")
    assert(recall > 0.05, f"recall $recall%.3f unusably low")
    // every LSH result is a true dot-product neighbor within its bucket
    assert(lsh.nonEmpty)

    // multi-probe (flip the 2 lowest-margin bits per probe) widens the
    // candidate set along the most-likely-wrong hyperplanes: recall
    // must dominate single-probe, with candidates still bucket-bounded
    val mp = Similarity.lshTopK(e, e, k = 5, nBits = 4, multiProbe = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mpRecall = mp.intersect(brute).size.toDouble / brute.size
    info(f"ann recall@5 (4-bit SRP, multi-probe 2): $mpRecall%.3f")
    assert(mpRecall > recall + 0.05,
      f"multi-probe recall $mpRecall%.3f did not materially improve on $recall%.3f")

    // the probed bucket set always LEADS with the base bucket (the
    // single-probe candidates stay in the candidate set) and flips
    // exactly `extra` distinct bits of it
    embeddings.select("embedding").collect().take(50).foreach { r =>
      val v = r.getAs[scala.collection.Seq[Float]](0).toSeq
      val bs = Similarity.srpProbeBuckets(v, 4, 2)
      assert(bs(0) == Similarity.srpSignature(v, 4))
      assert(bs.distinct.length == 3)
      bs.tail.foreach(b => assert(java.lang.Integer.bitCount(b ^ bs(0)) == 1))
    }
  }

  test("multi-table lsh: recall dominates one table; pairs dedup across tables") {
    val e = embeddings.select("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(e, e, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(s: Set[(Long, Long)]) =
      s.intersect(brute).size.toDouble / brute.size
    val one = Similarity.lshTopK(e, e, k = 5, nBits = 6)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Similarity.lshTopKTables(e, e, k = 5, nBits = 6,
        nTables = 4)
      .select("query_id", "neighbor_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val multiSet = multi.map(t => (t._1, t._2)).toSet
    info(f"recall@5: one 6-bit table ${recallOf(one)}%.3f, " +
      f"4 tables ${recallOf(multiSet)}%.3f")
    // a miss must split in EVERY table: L tables strictly widen the
    // candidate set, so recall can only improve
    assert(recallOf(multiSet) >= recallOf(one))
    assert(recallOf(multiSet) > recallOf(one) + 0.05,
      "4 tables should materially beat 1 on this corpus")
    // cross-table collisions dedup: ranks are unique 1..k per query
    multi.groupBy(_._1).foreach { case (q, rows) =>
      val rks = rows.map(_._3).sorted.toList
      assert(rks == (1 to rks.size).toList, s"query $q ranks $rks")
    }
  }

  test("ivf ann recall vs brute force beats the cell fraction searched") {
    val e = embeddings.select("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(e, e, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(spark, e, e, k = 5, nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    info(f"ann recall@5 (ivf 8 cells, 3 probes): $recall%.3f")
    // searching 3/8 of the corpus at random would give ~0.375; the
    // quantizer must do materially better than chance
    assert(recall > 0.5, f"recall $recall%.3f no better than chance")
    assert(ivf.nonEmpty)
  }

  test("lloyd quantizer: bit-identical across partition counts, usable recall") {
    val e = embeddings.select("vec_id", "embedding")
    // decimal-exact centroid updates + fixed lowest-id init: the fit
    // must be EXACTLY reproducible at any parallelism (the property
    // that makes the ann_ivf_topk oracle replayable in SQL)
    val f1 = Similarity.fitQuantizerLloyd(spark, e.repartition(1),
      nlist = 8, iters = 2).value
    val f7 = Similarity.fitQuantizerLloyd(spark, e.repartition(7),
      nlist = 8, iters = 2).value
    assert(f1.map(_.toSeq).toSeq === f7.map(_.toSeq).toSeq)
    // so every IVF entry point built on it (default fit) gives the
    // same output at any parallelism
    def selfRows(df: org.apache.spark.sql.DataFrame) =
      Similarity.ivfSelfTopK(spark, df, k = 5, nlist = 8, nprobe = 3)
        .select("query_id", "neighbor_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(selfRows(e.repartition(1)) === selfRows(e.repartition(7)))
    def keepers(df: org.apache.spark.sql.DataFrame) =
      Similarity.semanticDedup(spark, df, tau = 0.3, nlist = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val k1 = keepers(e.repartition(1))
    assert(k1 === keepers(e.repartition(7)))
    assert(k1.exists { case (id, keeper) => id != keeper },
      "tau must connect some pairs, or the keeper comparison is vacuous")
    // and the search through it is a real quantizer, not a degenerate
    // single cell: recall beats the chance line
    val brute = Similarity.bruteForceTopK(e, e, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(spark, e, e, k = 5, nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    info(f"ann recall@5 (ivf lloyd-2 fit, 8 cells, 3 probes): $recall%.3f")
    assert(recall > 0.5, f"lloyd-quantizer recall $recall%.3f no better than chance")
    // every cell is argmin-assigned: nprobe = nlist searches everything
    val all = Similarity.ivfTopK(spark, e, e, k = 5, nlist = 8, nprobe = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all === brute)
  }

  test("ivf self k-NN join matches probes-as-corpus ivfTopK, decent recall") {
    val e = embeddings.select("vec_id", "embedding")
    // the self join with every vector as probe must equal ivfTopK with
    // the corpus passed as the probe set (same quantizer fit, same
    // ranking) — the only difference is the join strategy (shuffle vs
    // broadcast), which may not change results
    val self = Similarity.ivfSelfTopK(spark, e, k = 5, nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaProbes = Similarity.ivfTopK(spark, e, e, k = 5, nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(self == viaProbes)
    val brute = Similarity.bruteForceTopK(e, e, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = self.map(t => (t._1, t._2)).intersect(brute).size.toDouble /
      brute.size
    info(f"self k-NN recall@5 (ivf 8 cells, 3 probes): $recall%.3f")
    assert(recall > 0.5, f"recall $recall%.3f no better than chance")
  }

  test("ivf default fit covers planted clusters") {
    import spark.implicits._
    // 2000 vectors in 8 well-separated clusters, cluster cycling with
    // the row index; a quantizer that missed a cluster would send its
    // probes to the wrong cells.
    val n = 2000L
    val vecs = spark.range(n).map { i =>
      val c = (i % 8).toInt
      val emb = Array.tabulate(16)(d =>
        (if (d == c * 2) 10.0f else 0.0f) + ((i * 31 + d) % 7) * 0.01f)
      (i, emb)
    }.toDF("vec_id", "embedding")
    val probes = vecs.filter(col("vec_id") < 64)
    val brute = Similarity.bruteForceTopK(vecs, probes, 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(spark, vecs, probes, k = 3, nlist = 8,
        nprobe = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    info(f"ann recall@3 (ivf, 8 planted clusters): $recall%.3f")
    assert(recall > 0.5, f"quantizer missed planted clusters: $recall%.3f")
  }

  test("embedding-cosine near-dup finds planted duplicate vectors") {
    val e = embeddings.select("vec_id", "embedding")
    // plant exact copies with shifted ids: cosine 1.0, same SRP bucket
    val planted = e.select((col("vec_id") + 1000000).as("vec_id"),
      col("embedding"))
    val pairs = Dedup.embeddingCosinePairs(e.unionByName(planted),
        minCosine = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = e.count()
    val found = (0L until n).count(i => pairs.contains((i, i + 1000000)))
    assert(found == n, s"exact-copy vectors must all pair: $found/$n")
    // random distinct vectors at 64 dims essentially never reach 0.999
    assert(pairs.size.toLong == n)
  }

  /** Union-find connectivity over pairs. */
  private def componentsOf(ids: Seq[Long], pairs: Set[(Long, Long)]): Int = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      if (parent.contains(a) && parent.contains(b)) parent(find(a)) = find(b)
    }
    ids.map(find).distinct.size
  }

  test("line dedup: doc-frequency threshold, order kept, all-boilerplate doc surfaces") {
    import spark.implicits._
    // "nav" in 3 docs (== minDocs -> removed), "twice" in 2 (< 3 ->
    // kept), unique lines kept in original order; doc 4 is ONLY
    // boilerplate and must surface with empty text, not vanish
    val docs = Seq(
      (1L, "nav\nalpha\ntwice\nbeta"),
      (2L, "twice\nnav\ngamma"),
      (3L, "delta\nnav"),
      (4L, "nav")).toDF("doc_id", "text")
    val got = Dedup.removeBoilerplateLines(docs, minDocs = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> (("alpha\ntwice\nbeta", 1L)),
      2L -> (("twice\ngamma", 1L)),
      3L -> (("delta", 1L)),
      4L -> (("", 1L))))
    // custom separator: same semantics over e.g. sentence-split docs
    val dot = Seq((1L, "a.x.b"), (2L, "x.c"), (3L, "x")).toDF("doc_id", "text")
    val got2 = Dedup.removeBoilerplateLines(dot, minDocs = 3, sep = ".")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2 == Map(1L -> "a.b", 2L -> "c", 3L -> ""))
    // NULL-text docs surface (empty clean text, 0 removed) — they must
    // not vanish from the per-doc output
    val withNull = Seq((1L, "x\ny"), (2L, "x"), (3L, "x"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got3 = Dedup.removeBoilerplateLines(withNull, minDocs = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got3 == Map(1L -> (("y", 1L)), 2L -> (("", 1L)),
      3L -> (("", 1L)), 4L -> (("", 0L))))
  }

  test("minhash-lsh hot bucket: bounded chain pairs, connected, counted") {
    val n = 3000
    val hot = spark.range(n).select(col("id").as("doc_id"),
      lit("the same boilerplate navigation footer text on every page").as("text"))
    val obs = new org.apache.spark.sql.Observation("lsh_hot")
    val pairs = Dedup.minhashLshPairs(hot, minJaccard = 0.7,
        maxBucket = 100, hotChain = 4, metrics = Some(obs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // bounded: chain pairing caps at ~n*hotChain (not n^2/2 = 4.5M)
    assert(pairs.size <= n * 5, s"hot bucket exploded: ${pairs.size} pairs")
    assert(pairs.size >= n - 1, "hot bucket lost connectivity pairs")
    // connectivity: transitive dedup still collapses the whole bucket
    assert(componentsOf(0L until n.toLong, pairs) == 1)
    // the metric reports the hot bucket instead of silently degrading
    val m = obs.get
    assert(m("hot_buckets").asInstanceOf[Long] >= 1L)
    assert(m("max_bucket").asInstanceOf[Long] == n)
  }

  test("degenerate key at 1e5 identical docs: bounded, complete exact recall") {
    // 100k byte-identical documents: every band of every doc lands in
    // ONE bucket. The old formulation collected the whole bucket into a
    // single aggregation row; the bounded path must stream it (lead()
    // over an external sort), report the hot bucket via the
    // Observation, and still chain every exact copy into one component.
    val n = 100000
    val hot = spark.range(n).select(col("id").as("doc_id"),
      lit("boilerplate nav footer copyright terms privacy contact").as("text"))
    val obs = new org.apache.spark.sql.Observation("lsh_degenerate")
    val pairs = Dedup.minhashLshPairs(hot, minJaccard = 0.7,
        maxBucket = 1000, hotChain = 4, metrics = Some(obs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.size <= n.toLong * 5,
      s"degenerate bucket exploded: ${pairs.size} pairs")
    assert(componentsOf(0L until n.toLong, pairs) == 1,
      "chain pairing must keep all exact copies in one component")
    val m = obs.get
    assert(m("max_bucket").asInstanceOf[Long] == n)
    assert(m("hot_buckets").asInstanceOf[Long] >= 1L)
  }

  test("simhash hot bucket: degenerate key is bounded, not quadratic") {
    val n = 2500
    val hot = spark.range(n).select(col("id").as("doc_id"),
      lit("identical template page").as("text"))
    val obs = new org.apache.spark.sql.Observation("simhash_hot")
    val pairs = Dedup.simhashPairs(hot, maxHamming = 3,
        maxBucket = 100, hotChain = 4, metrics = Some(obs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.size <= n * 5, s"degenerate simhash key exploded: ${pairs.size}")
    assert(componentsOf(0L until n.toLong, pairs) == 1)
    assert(obs.get("hot_buckets").asInstanceOf[Long] >= 1L)
  }

  test("embedding-cosine hot bucket: exact copies still pair via chain") {
    // 600 copies each of two distinct vectors: both groups blow past
    // maxBucket=100, so the chain path runs; identical embeddings share
    // a content hash and sort adjacent, so copy-pairs must survive
    val two = embeddings.select("vec_id", "embedding").limit(2).collect()
    val va = two(0).getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val vb = two(1).getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val df = spark.range(600).select(col("id").as("vec_id"),
        typedlit(va).as("embedding"))
      .unionByName(spark.range(600).select((col("id") + 10000).as("vec_id"),
        typedlit(vb).as("embedding")))
    val obs = new org.apache.spark.sql.Observation("cos_hot")
    val pairs = Dedup.embeddingCosinePairs(df, minCosine = 0.999,
        maxBucket = 100, hotChain = 4, metrics = Some(obs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.size <= 1200 * 5, s"hot cosine bucket exploded: ${pairs.size}")
    assert(componentsOf(0L until 600L, pairs) == 1, "group A not connected")
    assert(componentsOf(10000L until 10600L, pairs) == 1, "group B not connected")
    assert(!pairs.exists { case (a, b) => a < 10000 && b >= 10000 },
      "distinct random vectors must not pair at cosine 0.999")
    assert(obs.get("hot_buckets").asInstanceOf[Long] >= 1L)
  }

  test("multimodal decode: schema, determinism, partition independence") {
    val media = documents.select(col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("media"))
    val d1 = Multimodal.decode(spark, media).collect()
      .sortBy(_.media_id)
    val d2 = Multimodal.decode(spark, media.repartition(13))
      .collect().sortBy(_.media_id)
    assert(d1.length == documents.count())
    assert(d1.zip(d2).forall { case (a, b) =>
      a.media_id == b.media_id && a.width == b.width &&
      a.feature.sameElements(b.feature)
    }, "decode must be deterministic across partitioning")
    assert(d1.forall(_.channels == 3))
    // a null payload decodes as an empty one
    val n = Multimodal.decodeStub(1L, null)
    assert(n.width == 0 && n.height == 0 && n.feature.sameElements(Array(0f, 0f, 0f)))
  }

  test("real box-filter resize: floor-mean blocks, partial blocks dropped, errors surface") {
    // 7x5 gradient image, 2x2 boxes: output 3x2, the 7th column and
    // 5th row never contribute. Expected sums computed directly from
    // the generator formula here, independently of the kernel.
    val seed = 11L
    def px(x: Int, y: Int) = ((seed * 31 + x * 7 + y * 13) % 256).toInt
    var want = 0L
    for (oy <- 0 until 2; ox <- 0 until 3)
      want += (px(2 * ox, 2 * oy) + px(2 * ox + 1, 2 * oy) +
        px(2 * ox, 2 * oy + 1) + px(2 * ox + 1, 2 * oy + 1)) / 4
    val bytes = Multimodal.syntheticImage(seed, 7, 5, "png")
    val got = Multimodal.resizeBoxOne(seed, bytes, 2, 2)
    assert(got == Multimodal.ResizedImage(seed, "ok", 3, 2, want))
    // factor larger than the image: zero output pixels, sum 0
    assert(Multimodal.resizeBoxOne(1L, Multimodal.syntheticImage(1L, 3, 3), 4, 4)
      == Multimodal.ResizedImage(1L, "ok", 0, 0, 0L))
    // undecodable/null payloads: error row, no exception
    assert(Multimodal.resizeBoxOne(2L, "not an image".getBytes, 2, 2).status == "error")
    assert(Multimodal.resizeBoxOne(3L, null, 2, 2).status == "error")
    // distributed wrapper: deterministic across partitioning
    import spark.implicits._
    val media = (0L until 40L).map(i =>
      (i, Multimodal.syntheticImage(i, 6 + (i % 3).toInt, 7, "png")))
      .toDF("media_id", "media")
    val a = Multimodal.resizeImage(spark, media, 2, 2)
      .collect().sortBy(_.media_id).toSeq
    val b = Multimodal.resizeImage(spark, media.repartition(9), 2, 2)
      .collect().sortBy(_.media_id).toSeq
    assert(a == b && a.forall(_.status == "ok"))
  }

  test("ngramSet matches a reference trigram computation") {
    import spark.implicits._
    val cases = Seq("a b c d e", "a b c", "a b", "x", "a a a a",
      "w1 w2 w3 w4 w5 w6 w7")
    def ref(s: String, n: Int): Set[String] = {
      val w = s.split(" ")
      if (w.length < n) Set(s)
      else (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" ")).toSet
    }
    val got = cases.toDF("s")
      .select(col("s"), Dedup.ngramSet(col("s"), 3).as("g"))
      .collect()
      .map(r => r.getString(0) ->
        r.getAs[scala.collection.Seq[String]](1).toSet).toMap
    cases.foreach { c =>
      assert(got(c) == ref(c, 3), s"trigrams differ for '$c'")
    }
  }

  test("simhash64 native expression is bit-identical to Dedup.simhash") {
    import spark.implicits._
    val rng = new scala.util.Random(31337)
    val words = Vector("the", "data", "row", "spark", "Ærø", "x9")
    val cases = Seq("", " ", "  ", "a", "a ", " a", "a  b", "a b ") ++
      (0 until 200).map { _ =>
        val n = rng.nextInt(12)
        (0 until n).map(_ => words(rng.nextInt(words.length)))
          .mkString(" ") + (if (rng.nextBoolean()) " " else "")
      }
    val got = cases.toDF("s")
      .select(GraftFunctions.column("simhash64", col("s")).as("h"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == cases.map(Dedup.simhash),
      "native simhash64 must replicate String.split(\" \") semantics exactly")
  }

  test("minhash_sig native expression is bit-identical to the scala kernel") {
    import spark.implicits._
    val cases = Seq("", "a", "one two", "one two three four five", "a b a b a")
    val got = cases.toDF("s")
      .select(GraftFunctions.column("minhash_sig", col("s"), lit(3), lit(8))
        .as("sig"))
      .collect()
      .map(_.getAs[scala.collection.Seq[Long]](0).toSeq).toSeq
    val want = cases.map(s =>
      MinhashSig.signature(MinhashSig.shingles(s, 3), 8).toSeq)
    assert(got == want)
  }

  test("hot bucket: exact-copy runs beyond hotChain are fully paired") {
    import spark.implicits._
    // one bucket of 500 members: 490 unique content keys + one run of
    // 10 byte-identical members. The bucket is hot (> maxBucket=50),
    // the run is not — all 45 run pairs must survive even though the
    // run spans more than hotChain(=2) positions in the sort.
    val rows = (0 until 490).map(i => (1, (1000 + i).toLong, (9000 + i).toLong)) ++
      (0 until 10).map(j => (1, 42L, (100 + j).toLong))
    val df = rows.toDF("b", "ck", "id")
      .select(col("b"), struct(col("ck"), col("id")).as("m"))
    val pairs = Dedup.boundedBucketPairs(df, Seq("b"), maxBucket = 50,
        hotChain = 2, metrics = None)
      .select(col("m_a.id"), col("m_b.id"))
      .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    val want = (for (a <- 100 until 110; b <- (a + 1) until 110)
      yield (a.toLong, b.toLong)).toSet
    assert(want.subsetOf(pairs), s"missing run pairs: ${want -- pairs}")
    // still bounded: nothing quadratic in the 490 unique members
    assert(pairs.size <= 500 * 3 + want.size)
  }

  test("observation metrics are zero, not null, when no bucket repeats") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i, i.toLong, i.toLong))
      .toDF("b", "ck", "id")
      .select(col("b"), struct(col("ck"), col("id")).as("m"))
    val obs = new org.apache.spark.sql.Observation("empty_buckets")
    val pairs = Dedup.boundedBucketPairs(df, Seq("b"), 10, 2, Some(obs))
    assert(pairs.count() == 0L)
    val m = obs.get
    assert(m("buckets").asInstanceOf[Long] == 0L)
    assert(m("hot_buckets").asInstanceOf[Long] == 0L)
    assert(m("max_bucket").asInstanceOf[Long] == 0L)
  }

  test("unigram LM score: exact closed form incl. OOV floor; empty doc surfaces") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "b c"), (3L, "a"), (4L, ""))
      .toDF("doc_id", "text")
    // counts: a=3, b=2, c=1, total=6; topK=2 keeps {a, b}; c -> 0.5/6
    val rows = TextAnalysis.unigramLogProb(docs, topK = 2).collect()
    val got = rows.map(r => r.getLong(0) ->
      (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    def ln(x: Double) = math.log(x)
    val want = Map(
      1L -> (3L, (2 * ln(3.0 / 6) + ln(2.0 / 6)) / 3),
      2L -> (2L, (ln(2.0 / 6) + ln(0.5 / 6)) / 2),
      3L -> (1L, ln(3.0 / 6)))
    assert(got.keySet == want.keySet + 4L)
    want.foreach { case (id, (n, lp)) =>
      assert(got(id)._1 == n)
      assert(math.abs(got(id)._2.get - lp) < 1e-12,
        s"doc $id: ${got(id)._2} vs $lp")
    }
    // the zero-token doc is the worst-quality input — it must SURFACE
    // (n_tokens = 0, null score), not silently bypass the filter
    assert(got(4L) == ((0L, None)))
  }

  test("native srp_sig expression buckets exactly like the scala function") {
    import spark.implicits._
    // a corpus bucketed by the codegen expression and a probe hashed by
    // the Scala function MUST agree for every vector, or probes land in
    // the wrong buckets silently
    val rnd = new scala.util.Random(13)
    val vecs = (0 until 300).map(i =>
      (i.toLong, Seq.fill(2 + rnd.nextInt(62))(rnd.nextFloat() * 2 - 1)))
    Seq(0, 1, 4, 6, 12).foreach { nBits =>
      val native = vecs.toDF("vec_id", "embedding")
        .select(col("vec_id"),
          GraftFunctions.column("srp_sig", col("embedding"), lit(nBits))
            .as("b"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      vecs.foreach { case (id, v) =>
        assert(native(id) == Similarity.srpSignature(v, nBits),
          s"vec $id nBits $nBits")
      }
    }
  }

  test("ivfSelfTopK reports candidate_pairs skew telemetry") {
    import org.apache.spark.sql.Observation
    val e = embeddings.select("vec_id", "embedding")
    val n = e.count()
    val obs = Observation("self_knn_pairs")
    val out = Similarity.ivfSelfTopK(spark, e, k = 3, nlist = 8, nprobe = 2,
      metrics = Some(obs))
    val rows = out.count()
    val pairs = obs.get("candidate_pairs").asInstanceOf[Long]
    info(s"n=$n candidate_pairs=$pairs result_rows=$rows")
    // the join scanned at least as many candidates as it kept, and the
    // count is the n*nprobe*avg_cell order of magnitude, not quadratic
    assert(pairs >= rows)
    assert(pairs <= n * n, "telemetry present and sane")
    assert(pairs > 0)
  }

  test("ivfSelfTopK: degenerate cell skew-splits under AQE, telemetry dominates") {
    import spark.implicits._
    // one quantizer cell carrying ~half the corpus (800 copies of a
    // single vector): the cell join's hot partition must be split by
    // AQE's skew-join re-plan (`skew=true` in the final plan, same
    // assertion as LinkSpec's hot-alias case) and the candidate_pairs
    // Observation must report the quadratic fan-out of that cell —
    // the raise-nlist signal at production scale.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> scala.util.Try(conf.get(k)).toOption).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val dim = 16
      val rnd = new scala.util.Random(7)
      val base = (0 until 800).map(i =>
        (i.toLong, Seq.fill(dim)(rnd.nextFloat() * 2 - 1)))
      val hotVec = Seq.fill(dim)(0.9f)
      val hot = (0 until 800).map(i => ((10000 + i).toLong, hotVec))
      val e = (base ++ hot).toDF("vec_id", "embedding").repartition(8)
      val obs = new org.apache.spark.sql.Observation("skew_pairs")
      val out = Similarity.ivfSelfTopK(spark, e, k = 2, nlist = 8,
        nprobe = 1, metrics = Some(obs))
      assert(out.collect().nonEmpty)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected an AQE skew-split cell join in the final plan:\n$plan")
      val pairs = obs.get("candidate_pairs").asInstanceOf[Long]
      assert(pairs >= 800L * 799L,
        s"hot cell's quadratic fan-out must dominate candidate_pairs: $pairs")
    } finally {
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }

  test("null embedding rows drop out of every ANN path, never NPE") {
    // one malformed (null-embedding) row in a 10^12-row corpus must
    // not kill the job — including the paths where the null crosses a
    // probe-side UDF: ivfSelfTopK (the corpus IS the probe side),
    // ivfTopK's nprobe-cells UDF, lshTopK's multi-probe UDF, and the
    // quantizer fit itself. The null row contributes no query and no
    // neighbor; everything else is unaffected.
    val e = embeddings.select("vec_id", "embedding").limit(50)
    val withNull = e.unionByName(spark.sql(
      "SELECT CAST(999999 AS BIGINT) vec_id, CAST(NULL AS ARRAY<FLOAT>) embedding"))
    def clean(path: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val rows = df.select("query_id", "neighbor_id", "score").collect()
      val ids = rows.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
      assert(!ids.contains(999999L) && rows.nonEmpty, path)
      assert(rows.forall(!_.isNullAt(2)), s"$path: null score")
    }
    clean("ivfSelfTopK",
      Similarity.ivfSelfTopK(spark, withNull, k = 2, nlist = 4, nprobe = 2))
    clean("ivfTopK", Similarity.ivfTopK(spark, withNull, withNull, k = 2,
      nlist = 4, nprobe = 2))
    clean("lshTopK multi-probe", Similarity.lshTopK(withNull, withNull, k = 2,
      nBits = 4, multiProbe = 2))
    clean("lshTopK", Similarity.lshTopK(withNull, withNull, k = 2, nBits = 4))
    clean("lshTopKTables", Similarity.lshTopKTables(withNull, withNull, k = 2,
      nBits = 4, nTables = 2))
    // brute force scores the null probe's pairs as null dots: k = 1 and
    // k = 3 must not return them as the probe's "neighbours", and k = 60
    // (past the 49 real neighbours) must not rank the null corpus row
    for (k <- Seq(1, 3, 60))
      clean(s"bruteForceTopK k=$k", Similarity.bruteForceTopK(withNull, withNull, k))
  }

  test("every top-k search in exhaustive mode returns brute force's rows, k = 1 and k = 5") {
    // lshTopK with nBits = 0 (one bucket) and the IVF searches with
    // nprobe = nlist (every cell) see every candidate pair, so the one
    // rank rule (`score desc, neighbor_id asc`; the top-1 aggregate at
    // k = 1, the window above it) must give brute force's exact rows,
    // scores and ranks included
    val e = embeddings.select("vec_id", "embedding")
    val n = e.count()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "score", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    for (k <- Seq(1, 5)) {
      val brute = rows(Similarity.bruteForceTopK(e, e, k))
      assert(brute.size == n * k)
      assert(rows(Similarity.lshTopK(e, e, k, nBits = 0)) == brute, s"lshTopK k=$k")
      assert(rows(Similarity.ivfTopK(spark, e, e, k, nlist = 8, nprobe = 8)) == brute,
        s"ivfTopK k=$k")
      assert(rows(Similarity.ivfSelfTopK(spark, e, k, nlist = 8, nprobe = 8)) == brute,
        s"ivfSelfTopK k=$k")
    }
  }

  test("native ivf_cell expression assigns exactly like nearestCells") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val dim = 24
    val centroids = Array.fill(9, dim)(rnd.nextDouble() * 2 - 1)
    val vecs = (0 until 300).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextFloat() * 2 - 1)))
    val native = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), GraftFunctions.column("ivf_cell",
        col("embedding"), typedlit(centroids.map(_.toSeq).toSeq)).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    vecs.foreach { case (id, v) =>
      assert(native(id) == Similarity.nearestCells(centroids, v, 1).head,
        s"vec $id")
    }
  }

  test("srp signature is scale-invariant; probe set consistent with it") {
    // sign(v.p) is invariant under positive scaling of v — the property
    // the cosine-geometry bucketing relies on. Scales are exact powers
    // of two, so the float multiply is exact and the test deterministic
    // (an inexact scale could flip a near-zero projection's sign).
    val rnd = new scala.util.Random(7)
    (0 until 200).foreach { _ =>
      val dim = 2 + rnd.nextInt(96)
      val v = Seq.fill(dim)(rnd.nextFloat() * 2 - 1)
      val sig = Similarity.srpSignature(v, 6)
      Seq(0.25f, 0.5f, 2f, 1024f).foreach { a =>
        assert(Similarity.srpSignature(v.map(_ * a), 6) == sig)
      }
      assert(Similarity.srpProbeBuckets(v, 6, 3)(0) == sig)
    }
  }

  test("fnv1a64 native expression matches the scala implementation") {
    import spark.implicits._
    val df = Seq("hello", "", "Ærøskøbing").toDF("s")
    val got = df.select(TextAnalysis.fingerprint(col("s")).as("h"))
      .collect().map(_.getLong(0)).toSeq
    val want = Seq("hello", "", "Ærøskøbing")
      .map(graft.functions.Fnv1a64.hashString)
    assert(got == want)
  }

  test("assignSplit: deterministic, order-independent, salt-sensitive") {
    val docs = spark.range(0, 1000).toDF("doc_id")
    val a = TextAnalysis.assignSplit(docs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // deterministic across runs and row orders
    val b = TextAnalysis.assignSplit(docs.repartition(7))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    assert(a.values.toSet == Set("train", "val", "test"))
    val trainFrac = a.values.count(_ == "train").toDouble / a.size
    assert(trainFrac > 0.85 && trainFrac < 0.99, s"train frac $trainFrac")
    // a different salt re-deals the minority splits
    val resalted = TextAnalysis.assignSplit(docs, salt = "v2:")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a.exists { case (k, v) => resalted(k) != v })
  }

  test("contamination: shared-gram counts, clean docs surface as zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps"),  // shares "quick brown fox"
      (2L, "totally different words here"),
      (3L, "ab"),                          // short-text fallback: whole text
      (4L, "quick brown fox quick brown fox extra")) // distinct grams only
      .toDF("doc_id", "text")
    val bench = Seq((100L, "a quick brown fox runs"), (101L, "ab"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.contamination(docs, bench, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1: trigrams {the quick brown, quick brown fox, brown fox jumps};
    // bench has {a quick brown, quick brown fox, brown fox runs} -> 1 hit
    assert(out == Map(1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 1L))
  }

  test("contamination: oversized benchmark drops the broadcast hint, same answer") {
    import spark.implicits._
    // an over-cap "benchmark" (the misuse case) must flip to an
    // UNHINTED semi-join — no user-forced BroadcastExchange in the
    // plan, AQE free to choose — and produce identical counts
    val docs = Seq((1L, "the quick brown fox jumps"),
      (2L, "totally different words here")).toDF("doc_id", "text")
    val big = spark.range(5000).select(col("id").as("doc_id"),
      concat(lit("quick brown fox word"), col("id").cast("string"),
        lit(" tail word"), col("id").cast("string")).as("text"))
    val guarded = TextAnalysis.contamination(docs, big, n = 3,
      maxBroadcastGrams = 100)
    // the semi-join on the over-cap side carries no broadcast HINT
    // (ResolvedHint/broadcast) in the analyzed plan
    val analyzed = guarded.queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"),
      s"over-cap benchmark still hinted:\n$analyzed")
    val small = TextAnalysis.contamination(docs, big, n = 3)
    assert(guarded.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      small.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("redactPii: reference-quirk predicates, URL-before-email, counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello x@y.zz visit http://ex.aa/p now"),
      // a URL containing '@' must redact as URL, not half an email
      (2L, "see http://u@ex.aa here"),
      (3L, "plain words only"),
      (4L, ""),
      (5L, "a b "), // trailing space must survive (split limit -1)
      (6L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(spark, docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("hello <EMAIL> visit <URL> now", 1L, 1L)))
    assert(out(2L) == (("see <URL> here", 0L, 1L)))
    assert(out(3L) == (("plain words only", 0L, 0L)))
    assert(out(4L) == (("", 0L, 0L)))
    assert(out(5L) == (("a b ", 0L, 0L)))
    assert(out(6L) == (("", 0L, 0L))) // null-safe, no NPE
  }

  test("redactPii: IPv4 and phone classes, predicate edges") {
    import spark.implicits._
    import TextAnalysis.{isIpv4, isPhone}
    assert(isIpv4("10.20.30.41") && isIpv4("0.0.0.0") && isIpv4("255.255.255.255"))
    assert(!isIpv4("256.1.1.1")) // octet bound
    assert(!isIpv4("1.2.3"))     // three octets
    assert(!isIpv4("1.2.3.4.5")) // five
    assert(!isIpv4("1..2.3"))    // empty octet
    assert(!isIpv4("1.2.3.4a") && !isIpv4("1.2.3.") && !isIpv4(null))
    assert(!isIpv4("١.٢.٣.٤"))   // Unicode digits are NOT digits here
    assert(isPhone("+1-555-0107") && isPhone("5550100123") && isPhone("555-010-0199"))
    assert(!isPhone("12-34"))     // too few digits
    assert(!isPhone("-1234567-")) // must start/end on a digit
    assert(!isPhone("+12345678901234567")) // too long
    assert(!isPhone("123-abc-4567") && !isPhone(null))
    assert(!isPhone("2026-08-17")) // ISO date is not PII
    assert(!isPhone("1990-2026"))  // year range is not PII
    assert(isPhone("+2026-08-17") && isPhone("555-2026-08")) // but near-misses still are
    val docs = Seq(
      (1L, "call +1-555-0107 or ping 10.20.30.41 now"),
      // an IPv4 must not count as a phone (fixed test order)
      (2L, "8.8.8.8"),
      (3L, "year 2026 is short")).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(spark, docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(4), r.getLong(5)))).toMap
    assert(out(1L) == (("call <PHONE> or ping <IP> now", 1L, 1L)))
    assert(out(2L) == (("<IP>", 1L, 0L)))
    assert(out(3L) == (("year 2026 is short", 0L, 0L)))
  }

  test("repetition: dup-word and top-bigram fractions, short-doc edges") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a"),         // 5 words, 2 distinct; "a b" x2 of 4
      (2L, "x y z"),             // no repeats
      (3L, "w"),                 // single word: both fractions 0
      (4L, "q q q q"), // max repetition
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(spark, docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((5L, 1.0 - 2.0 / 5, 2.0 / 4)))
    assert(out(2L) == ((3L, 0.0, 1.0 / 2))) // all bigrams unique: top = 1/2
    assert(out(3L) == ((1L, 0.0, 0.0)))
    assert(out(4L) == ((4L, 1.0 - 1.0 / 4, 1.0)))
    assert(out(5L) == ((0L, 0.0, 0.0))) // null-safe, no NPE
  }

  test("connectedKeepers: transitive merge, min-id election, isolated pairs") {
    import spark.implicits._
    // chain 1-2, 2-3 (no 1-3 pair — only transitive closure merges it),
    // an isolated pair 10-11, and order-reversed edge 21-20
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (21L, 20L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedKeepers(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("exponential chain offsets: one keeper per degenerate bucket at maxIter=20") {
    // ONE hot bucket of 20k members with DISTINCT content keys — the
    // pure-chain worst case (the runs branch contributes nothing).
    // Consecutive offsets 1..hotChain made this a path whose diameter
    // (~n/hotChain) dwarfed connectedKeepers' maxIter=20, splitting the
    // bucket into hundreds of keepers; exponential offsets 2^0..2^19
    // bound the diameter by ~20 hops, so CC must converge to exactly
    // ONE keeper (the min id) — while the pair count stays linear.
    val n = 20000
    val bucket = spark.range(n).select(lit(1).as("b"),
      struct(xxhash64(col("id")).as("ck"), col("id")).as("m"))
    val pairs = Dedup.boundedBucketPairs(bucket, Seq("b"), maxBucket = 50,
        hotChain = 20, metrics = None)
      .select(col("m_a.id").as("id_a"), col("m_b.id").as("id_b"))
      .persist()
    val nPairs = pairs.count()
    assert(nPairs <= n.toLong * 20, s"pair bound broken: $nPairs")
    val keepers = Dedup.connectedKeepers(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    pairs.unpersist()
    assert(keepers.length == n, s"only ${keepers.length} of $n ids labeled")
    assert(keepers.forall(_._2 == 0L),
      s"expected ONE keeper (id 0), got ${keepers.map(_._2).distinct.length}")
  }

  test("boundedCount: exact at/under cap, over-cap detection, empty input") {
    // skewed partition sizes on purpose (repartition by a constant-ish
    // key would degenerate; range + repartition(7) gives uneven splits)
    val df = spark.range(0, 1000).toDF("vec_id").repartition(7)
    assert(Similarity.boundedCount(df, 2000) == 1000L) // under cap: exact
    assert(Similarity.boundedCount(df, 1000) == 1000L) // == cap: exact
    val over = Similarity.boundedCount(df, 10)
    assert(over > 10L, s"over-cap probe must exceed the cap, got $over")
    val empty = spark.range(0, 0).toDF("vec_id").repartition(3)
    assert(Similarity.boundedCount(empty, 5) == 0L)
    // single giant partition: per-partition scan stops at cap+1
    val one = spark.range(0, 100000).toDF("vec_id").coalesce(1)
    val g = Similarity.boundedCount(one, 50)
    assert(g > 50L && g <= 52L, s"partition scan must stop at cap+1, got $g")
  }
}
