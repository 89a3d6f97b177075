package graft

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.spark.Sessions

/** Hot-bucket stress at realistic degenerate scale (BASELINE.md
  * "hot-bucket stress"): the bounded three-branch pairing
  * (`Dedup.boundedBucketPairs`) is specced at n=3,000 in OpsSpec; this
  * main drives it at 10^5-10^6 under a CAPPED heap — the regime the
  * design claims (one template text repeated across a whole shard, so
  * every band/block/SRP key degenerates into ONE bucket of corpus
  * size).
  *
  * Three cases:
  *  - `minhash`:  N byte-identical documents through minhashLshPairs —
  *    every one of the 16 band buckets holds all N members; the chain
  *    branch must keep pairs <= N*hotChain while covering every id and
  *    staying connected (consecutive ids paired).
  *  - `simhash`:  same corpus through simhashPairs (4 rotated blocks,
  *    all degenerate).
  *  - `keeper_cc`: one degenerate bucket of N DISTINCT content keys
  *    (pure chain, no exact-copy runs) paired with exponential offsets
  *    then clustered by `connectedKeepers(maxIter = 20)` — must elect
  *    exactly ONE keeper (the diameter contract behind the offsets).
  *  - `bpe_train`: the incremental BPE trainer over a 200k-word
  *    Zipf-ish vocabulary, 500 merges — driver-side fit cost evidence.
  *  - `line_dedup`: C4-style line removal with ONE boilerplate line in
  *    EVERY document — the hottest doc-frequency key stays bounded.
  *  - `cosine_run`: N random 16-dim embeddings bucketed by a 6-bit SRP
  *    signature (64 buckets => every bucket is hot at maxBucket=500)
  *    with a planted run of 301 identical vectors; the run branch must
  *    recover the COMPLETE C(301,2) exact-copy pair set inside its hot
  *    bucket, not just the chain.
  *
  * Every case asserts its bounds/recall and reports wall seconds, pair
  * counts, id coverage, and the (buckets, hot_buckets, max_bucket)
  * Observation. Run with a capped heap to evidence bounded memory:
  *
  *   sbt -batch package && /opt/spark/bin/spark-submit \
  *     --driver-memory 2g --class graft.StressBench \
  *     target/scala-2.13/neronhtmlspark_2.13-0.1.0.jar
  *
  * Output: one JSON line, mirrored to stress_out.json.
  */
object StressBench {

  private def jnum(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_STRESS_N", "300000").toLong
    val spark = Sessions.session("graft-stress")

    val hotChain = 4
    val template = "the same boilerplate navigation text repeated on " +
      "every page of the template heavy shard corpus"
    val docs = spark.range(n).select(col("id").as("doc_id"), lit(template).as("text"))

    // one degenerate-corpus case through a pairs op: persist the small
    // pair set (<= ~hotChain*N id rows), derive count/coverage/
    // connectivity from ONE materialization
    def degenerate(name: String, f: Observation => DataFrame): String = {
      val obs = Observation(s"stress_$name")
      val t0 = System.nanoTime()
      val pairs = f(obs).select(col("id_a"), col("id_b"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val nPairs = pairs.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val coverage = pairs.select(explode(array(col("id_a"), col("id_b"))).as("id"))
        .distinct().count()
      // chain connectivity: every consecutive (i, i+1) pair present
      val consecutive = pairs.filter(col("id_b") === col("id_a") + 1).count()
      pairs.unpersist()
      val m = obs.get
      val maxBucket = m("max_bucket").asInstanceOf[Long]
      val hotBuckets = m("hot_buckets").asInstanceOf[Long]
      assert(nPairs <= n.toLong * hotChain,
        s"$name: pairs $nPairs exceed the N*hotChain bound ${n * hotChain}")
      assert(coverage == n, s"$name: coverage $coverage != $n ids")
      assert(consecutive == n - 1,
        s"$name: chain broken ($consecutive of ${n - 1} consecutive pairs)")
      assert(hotBuckets >= 1 && maxBucket == n,
        s"$name: expected one corpus-sized hot bucket, got " +
          s"hot=$hotBuckets max=$maxBucket")
      s""""$name":{"sec":${jnum(secs)},"n":$n,"pairs":$nPairs,""" +
        s""""coverage":$coverage,"buckets":${m("buckets")},""" +
        s""""hot_buckets":$hotBuckets,"max_bucket":$maxBucket}"""
    }

    // hotChain is passed EXPLICITLY to every op so the N*hotChain bound
    // asserted above cannot silently decouple from the Dedup defaults
    val minhashJson = degenerate("minhash", obs =>
      graft.ops.Dedup.minhashLshPairs(docs, minJaccard = 0.7,
        hotChain = hotChain, metrics = Some(obs)))
    val simhashJson = degenerate("simhash", obs =>
      graft.ops.Dedup.simhashPairs(docs, maxHamming = 3,
        hotChain = hotChain, metrics = Some(obs)))

    // cosine: every SRP bucket hot + a planted exact-copy run of 301
    // (== maxBucket is NOT required; run recall is complete for runs
    // <= maxBucket=500)
    val runSize = 300
    val dim = 16
    // deterministic pseudo-random vector of the row's `seed` column;
    // `seed` is a plain attribute, so referencing it inside the lambda
    // costs one column read per element (not the HOF re-eval trap,
    // which is about expensive derived expressions)
    def vec = expr(
      s"transform(sequence(1, $dim), d -> " +
        "cast(pmod(xxhash64(seed * 16 + d), 2000) / 1000.0 - 1.0 as float))")
    val base = spark.range(n).select(col("id").as("vec_id"), col("id").as("seed"))
      .select(col("vec_id"), vec.as("embedding"))
    // ids n..n+runSize-1 carry id 0's exact vector -> a 301-member run
    val planted = spark.range(runSize)
      .select((col("id") + n).as("vec_id"), lit(0L).as("seed"))
      .select(col("vec_id"), vec.as("embedding"))
    val obs3 = Observation("stress_cosine")
    val t0 = System.nanoTime()
    val cos = graft.ops.Dedup.embeddingCosinePairs(
        base.unionByName(planted), minCosine = 0.999,
        hotChain = hotChain, metrics = Some(obs3))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val nCos = cos.count()
    val cosSecs = (System.nanoTime() - t0) / 1e9
    val isRun = (c: org.apache.spark.sql.Column) =>
      c === 0L || (c >= n && c < n + runSize)
    val runPairs = cos.filter(isRun(col("id_a")) && isRun(col("id_b"))).count()
    cos.unpersist()
    val m3 = obs3.get
    val expectRun = (runSize + 1).toLong * runSize / 2
    assert(runPairs == expectRun,
      s"cosine: run recall $runPairs != complete $expectRun")
    assert(m3("hot_buckets").asInstanceOf[Long] >= 1L)
    val cosineJson =
      s""""cosine_run":{"sec":${jnum(cosSecs)},"n":${n + runSize},""" +
        s""""pairs":$nCos,"run_pairs":$runPairs,"run_expect":$expectRun,""" +
        s""""buckets":${m3("buckets")},"hot_buckets":${m3("hot_buckets")},""" +
        s""""max_bucket":${m3("max_bucket")}}"""

    // keeper convergence: ONE degenerate bucket of n members with
    // DISTINCT content keys — the pure-chain worst case (no exact-copy
    // runs to shortcut connectivity) — through the exponential chain
    // offsets into bounded-iteration CC. Consecutive offsets made this
    // a path of diameter ~n/hotChain, which maxIter=20 split into
    // ~n/(hotChain*20) keepers; exponential offsets bound the diameter
    // by ~hotChain hops, so exactly ONE keeper must come back.
    val tK = System.nanoTime()
    val bucket = spark.range(n).select(lit(1).as("b"),
      struct(xxhash64(col("id")).as("ck"), col("id")).as("m"))
    val chainPairs = graft.ops.Dedup.boundedBucketPairs(bucket, Seq("b"),
        maxBucket = 500, hotChain = 20, metrics = None)
      .select(col("m_a.id").as("id_a"), col("m_b.id").as("id_b"))
    val keepers = graft.ops.Dedup.connectedKeepers(chainPairs)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val nAssigned = keepers.count()
    val nKeepers = keepers.select("keeper").distinct().count()
    val keeperSecs = (System.nanoTime() - tK) / 1e9
    keepers.unpersist()
    assert(nAssigned == n, s"keeper: only $nAssigned of $n ids labeled")
    assert(nKeepers == 1,
      s"keeper: degenerate bucket split into $nKeepers keepers at maxIter=20")
    val keeperJson =
      s""""keeper_cc":{"sec":${jnum(keeperSecs)},"n":$n,""" +
        s""""keepers":$nKeepers,"assigned":$nAssigned}"""

    // BPE trainer at vocabulary scale: 200k distinct 8-hex-char words
    // with a Zipf-ish frequency head, 500 merges. The incremental pair
    // bookkeeping (occurrence index, diff-only updates) makes this
    // seconds on the driver; the naive per-iteration full recount it
    // replaced was O(numMerges * total vocab chars) — minutes at this
    // size, unbounded at the documented maxWords=10^6 cap.
    val tB = System.nanoTime()
    val nWords = 200000
    val bpeDocs = spark.range(nWords).select(
      expr("substr(md5(cast(id as string)), 1, 8)").as("w"),
      expr("cast(1 + least(200, cast(200000 / (id + 1) as int)) as int)").as("f"))
      .select(expr("array_join(array_repeat(w, f), ' ')").as("text"))
    val bpeMerges = graft.ops.Bpe.trainMerges(bpeDocs,
      numMerges = 500, maxWords = nWords)
    val bpeSecs = (System.nanoTime() - tB) / 1e9
    assert(bpeMerges.size == 500,
      s"bpe: expected 500 merges, got ${bpeMerges.size}")
    val bpeJson = s""""bpe_train":{"sec":${jnum(bpeSecs)},""" +
      s""""vocab":$nWords,"merges":${bpeMerges.size}}"""

    // line dedup with ONE line in EVERY document: the boilerplate
    // line's 16-byte digest is the hottest possible doc-frequency key.
    // The count's first stage keys by (digest, doc_id) — n distinct
    // keys, no hot partition — and the second stage map-side-combines
    // to one row per digest, so the degenerate line costs O(n) spread
    // work, never an n-row reducer. Unique lines must survive, the
    // boilerplate must vanish from all n docs.
    val tL = System.nanoTime()
    val lineDocs = spark.range(n).select(col("id").as("doc_id"),
      concat(lit("unique line "), col("id"),
        lit("\nsubscribe to our newsletter")).as("text"))
    val cleaned = graft.ops.Dedup.removeBoilerplateLines(lineDocs,
        minDocs = 3)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val nDocs = cleaned.count()
    val nRemoved = cleaned.agg(sum(col("n_removed"))).collect()(0).getLong(0)
    val cleanOk = cleaned
      .filter(col("text_clean") === concat(lit("unique line "), col("doc_id")))
      .count()
    val lineSecs = (System.nanoTime() - tL) / 1e9
    cleaned.unpersist()
    assert(nDocs == n, s"line_dedup: $nDocs of $n docs surfaced")
    assert(nRemoved == n, s"line_dedup: removed $nRemoved, expected $n")
    assert(cleanOk == n, s"line_dedup: only $cleanOk docs kept their unique line")
    val lineJson = s""""line_dedup":{"sec":${jnum(lineSecs)},"n":$n,""" +
      s""""removed":$nRemoved}"""

    // PageRank under celebrity skew: a ~2n-edge graph where EVERY node
    // links to node n0 (in-degree n — the hot-entity case the north
    // rule calls out) plus one pseudo-random link. Two properties at
    // scale, not just in the unit fixture: (a) the hot node's
    // contributions pre-sum per map task (partial aggregation), so the
    // run completes without an n-row reducer; (b) the decimal-sum
    // determinism contract holds BIT-FOR-BIT across partitionings —
    // the distributed-correctness property behind the N vs 4N
    // identical-output evidence.
    val tP = System.nanoTime()
    val g1 = spark.range(n).select(
      concat(lit("n"), col("id")).as("src"),
      concat(lit("n"), pmod(col("id") * 2654435761L, lit(n))).as("dst"))
    val g2 = spark.range(n).select(
      concat(lit("n"), col("id")).as("src"), lit("n0").as("dst"))
    val pgEdges = g1.unionByName(g2).distinct()
    val prA = graft.kg.GraphOps.pagerank(pgEdges, iters = 3)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val prMass = prA.agg(sum(col("rank"))).collect()(0).getDouble(0)
    val hotRank = prA.filter(col("node") === "n0")
      .collect()(0).getDouble(1)
    val prB = graft.kg.GraphOps.pagerank(pgEdges.repartition(3),
      iters = 3)
    val prDiff = prA.except(prB).count()
    val prSecs = (System.nanoTime() - tP) / 1e9
    prA.unpersist()
    assert(prDiff == 0,
      s"pagerank: $prDiff ranks differ across partitionings — determinism broke")
    assert(math.abs(prMass - 1.0) < 1e-3,
      s"pagerank: rank mass $prMass drifted (no dangling nodes here)")
    assert(hotRank > 0.3,
      s"pagerank: celebrity node rank $hotRank — hot in-degree mass lost")
    val pagerankJson =
      s""""pagerank_skew":{"sec":${jnum(prSecs)},"nodes":$n,""" +
        s""""hot_rank":${jnum(hotRank)},"mass":${jnum(prMass)},""" +
        s""""partitioning_diff":$prDiff}"""

    val heapMax = Runtime.getRuntime.maxMemory()
    val json = s"""{"metric":"hot_bucket_stress","n":$n,""" +
      s""""heap_max_bytes":$heapMax,$minhashJson,$simhashJson,$cosineJson,""" +
      s"""$keeperJson,$bpeJson,$lineJson,$pagerankJson}"""
    println(json)
    val w = new java.io.PrintWriter("stress_out.json")
    try w.println(json) finally w.close()
    spark.stop()
  }
}
