package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Fnv1a64, GraftFunctions}

/** Deduplication family for large-scale training-data pipelines: exact
  * (content-hash groupBy), word-set Jaccard, MinHash+LSH near-dup
  * (shingle -> minhash -> band -> bucket join), and SimHash. Every
  * variant is one or two bounded shuffles; nothing ever builds the full
  * cross product.
  *
  * Hot buckets (boilerplate-heavy corpora concentrate mass in a few
  * band keys) are neither exploded quadratically nor silently dropped:
  * buckets over `maxBucket` switch from all-pairs to CHAIN pairing —
  * members sorted by a content key, each member paired with the
  * members 2^0, 2^1, ..., 2^(hotChain-1) positions ahead (exponential
  * offsets). That bounds the work at O(n*hotChain) per bucket, keeps
  * the bucket CONNECTED for transitive connected-component dedup, AND
  * keeps the component's graph diameter at ~hotChain hops (any
  * position gap is a sum of at most hotChain powers of two), so the
  * downstream bounded-iteration CC ([[connectedKeepers]]) elects ONE
  * keeper per degenerate bucket instead of splitting a long path. Crucially, a hot bucket is NEVER
  * materialized as one row: only in-limit buckets pass through a
  * `collect_list` (bounded by `maxBucket` members, ids + an 8-byte
  * content key each); hot buckets are chain-paired with `lead()` over a
  * sorted window, which streams through Spark's external sort — a
  * degenerate key over 10^7 documents costs one spillable sort, not one
  * 10^7-element aggregation buffer. Recall guarantees inside a hot
  * bucket: BYTE-IDENTICAL documents share the content key and sort
  * adjacent — runs of up to `maxBucket` copies are fully all-paired
  * (complete exact-copy pair recall), larger runs stay chain-connected
  * for transitive closure; merely near-identical
  * pairs sort at unrelated positions (the key is an avalanche hash of
  * the full signature) and are found only when their position gap
  * happens to be one of the hotChain power-of-two offsets — which is why every function reports
  * (buckets, hot_buckets, max_bucket) through an [[Observation]]: a
  * non-zero hot_buckets count is the signal to split the key space
  * (more bands / more bits) rather than trust hot-bucket recall.
  */
object Dedup {

  /** Exact dedup on a content digest: one shuffle on the digest. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_key"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("copies"))

  /** C4-style LINE-level corpus dedup: a line occurring in at least
    * `minDocs` DISTINCT documents is boilerplate (nav bars, cookie
    * banners, "subscribe" footers — the repeated-across-pages mass
    * that document-level dedup can't touch) and is removed from EVERY
    * document; the surviving lines reassemble in original order.
    *
    * Scale shape: two shuffles, both on the line's 16-byte md5 digest
    * (the same collision-negligible content key as [[exact]] — line
    * text itself is never the shuffle key). The doc-frequency count is
    * map-side combinable (its first stage keys by (digest, doc_id), so
    * even a line present in EVERY document never funnels one reducer —
    * stress-evidenced degenerate at n=300k in StressBench `line_dedup`);
    * the boilerplate set joins back hash-to-hash — broadcast while the
    * boilerplate set is small (AQE's call), and when a huge boilerplate
    * set forces a sort-merge join, a corpus-wide line's digest is a
    * skewed key that AQE's skew-join split re-plans at runtime (the
    * same mechanism LinkSpec/OpsSpec assert for the alias and cell
    * joins). Reassembly groups by doc_id with a collect_list bounded
    * by the DOCUMENT's own line count (the same per-doc bound every
    * narrow kernel here has — no corpus-sized aggregation row
    * anywhere).
    *
    * @return (doc_id, text_clean, n_removed) for every document; a doc
    *         whose lines were ALL boilerplate — or whose text is NULL —
    *         keeps an empty text_clean (the row must surface, not
    *         vanish: posexplode_outer keeps the null-text row as one
    *         null line, which the reassembly filters out).
    */
  def removeBoilerplateLines(spark: SparkSession, docs: DataFrame,
      minDocs: Long = 3, sep: String = "\n",
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val lines = docs.select(col(idCol).cast("long").as("doc_id"),
        posexplode_outer(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "line")))
      .withColumn("h", md5(col("line")))
    val hot = lines.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("h"), lit(true).as("bp"))
    lines.join(hot, Seq("h"), "left")
      .withColumn("bp", coalesce(col("bp"), lit(false)))
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(!col("bp") && col("line").isNotNull,
                struct(col("pos"), col("line"))))),
            s => s("line")),
          sep).as("text_clean"),
        sum(when(col("bp"), 1L).otherwise(0L)).as("n_removed"))
  }

  /** Word-set Jaccard similarity between explicit candidate pairs. */
  def jaccard(a: Column, b: Column): Column = {
    val sa = array_distinct(split(a, " "))
    val sb = array_distinct(split(b, " "))
    size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb)).cast("double")
  }

  /** Within-bucket candidate pairs with a bounded memory footprint.
    *
    * Input: a frame with the bucket key columns `keys` and one struct
    * column `m` whose LEADING field is the content sort key (an
    * avalanche hash of the full signature — byte-identical documents
    * share it and therefore sort adjacent). Output: (m_a, m_b) struct
    * pairs, m_a strictly before m_b in the bucket's sort order.
    *
    * Three paths, split by the bucket's size (computed by a window
    * count over the bucket key — same exchange as the pairing itself,
    * no extra shuffle of the banded stream):
    *  - size <= maxBucket: all pairs, via a `collect_list` whose row is
    *    bounded by maxBucket small structs;
    *  - size > maxBucket: chain pairs, via `lead(m, 2^k)` for
    *    k = 0..hotChain-1 over the sorted window (exponential offsets:
    *    linear pair bound, ~log-diameter components — see the inline
    *    comment at the `leads` construction). No aggregation row ever
    *    holds the bucket:
    *    the window sort is Spark's spillable external sort, so one
    *    degenerate key over the whole corpus streams through O(n log n)
    *    with bounded memory instead of building an n-element (or, with
    *    payloads, multi-GB) aggregation buffer;
    *  - additionally, inside hot buckets, every RUN of equal content
    *    keys (byte-identical documents) up to maxBucket members is
    *    all-paired via a second, run-keyed aggregation — so exact-copy
    *    pair recall inside a hot bucket is COMPLETE whenever no single
    *    text has more than maxBucket copies (beyond that the chain
    *    still connects the run). The content key is a 64-BIT hash
    *    (xxhash64) precisely so distinct texts don't merge into one
    *    over-maxBucket run by key collision — with a 32-bit key that
    *    is a birthday-bound certainty at web scale, with 64 bits it
    *    needs ~10^9 distinct texts in ONE bucket. Without this, copies
    *    of one text in a hot bucket would only be chain-connected, and
    *    a pair-level consumer (or oracle) would miss (i, j) pairs whose
    *    sort gap is not a power of two.
    *
    * All branches share the single exchange on `keys` (exchange reuse);
    * the duplicated sort+window above it (once per branch) is a
    * deliberate trade: re-sorting a 32-byte/row id stream twice is
    * cheaper and strictly safer at scale than persisting the banded
    * stream or collecting any unbounded bucket row. The Observation
    * reports exact (buckets, hot_buckets, max_bucket) via first-row
    * markers, coalesced to 0 when no bucket has two members (sum/max
    * over zero rows is NULL, which would unbox as a surprise).
    */
  private[graft] def boundedBucketPairs(df: DataFrame, keys: Seq[String],
      maxBucket: Int, hotChain: Int,
      metrics: Option[Observation]): DataFrame = {
    require(hotChain >= 1 && hotChain <= 30,
      s"hotChain must be in [1, 30] (got $hotChain): offsets are 2^0..2^(hotChain-1)")
    val kcols = keys.map(col)
    val ckField = df.schema("m").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.head
    val wC = Window.partitionBy(kcols: _*).orderBy(col("m"))
    val wAll = wC.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val sized = df
      .withColumn("bsz", count(lit(1)).over(wAll))
      .withColumn("rn", row_number().over(wC))
      .filter(col("bsz") >= 2)
    // the observe node sits below the branch fork; each branch streams
    // the full sized frame through its own copy of the node, so either
    // copy reports the complete, correct metrics
    val flagged = metrics match {
      case None => sized
      case Some(obs) => sized.observe(obs,
        coalesce(sum(when(col("rn") === 1, 1L).otherwise(0L)), lit(0L))
          .as("buckets"),
        coalesce(sum(when(col("rn") === 1 && col("bsz") > maxBucket, 1L)
          .otherwise(0L)), lit(0L)).as("hot_buckets"),
        coalesce(max(col("bsz")), lit(0L)).as("max_bucket"))
    }
    def allPairs(grouped: DataFrame): DataFrame = grouped
      .select(explode(expr(
        """flatten(transform(members, (m, i) ->
          |  transform(slice(members, i + 2, size(members) - i - 1),
          |    o -> struct(m as m_a, o as m_b))))""".stripMargin)).as("p"))
      .select(col("p.m_a"), col("p.m_b"))
    val normal = allPairs(flagged.filter(col("bsz") <= maxBucket)
      .groupBy(kcols: _*)
      .agg(array_sort(collect_list(col("m"))).as("members")))
    val hotRows = flagged.filter(col("bsz") > maxBucket)
    // EXPONENTIAL chain offsets 2^0, 2^1, ..., 2^(hotChain-1) — NOT
    // consecutive 1..hotChain. Same O(n*hotChain) pair bound and the
    // same external-sort streaming, but the hot-bucket component's
    // diameter drops from ~n/hotChain (a path) to <= ~hotChain hops:
    // any sort-position gap d < 2^hotChain decomposes greedily into at
    // most hotChain power-of-two jumps (its binary representation), so
    // connected-components converges for million-member degenerate
    // buckets inside graft.spark.Cc's default maxIter=20 instead of
    // splitting the bucket into ~n/(hotChain*maxIter) keepers. Offset
    // 2^0=1 keeps consecutive members directly paired (connectivity,
    // adjacent exact copies).
    val leads = (0 until hotChain).map(k => lead(col("m"), 1 << k).over(wC))
    val chain = hotRows
      .select(col("m"), array(leads: _*).as("os"))
      .select(col("m").as("m_a"), explode(col("os")).as("m_b"))
      .filter(col("m_b").isNotNull)
    // exact-copy runs inside hot buckets (equal leading struct field);
    // run size bounded by maxBucket keeps the collect_list row small,
    // and hot rows are by definition a vanishing fraction of the input
    val runKeys = kcols :+ col("ck")
    val wRun = Window.partitionBy(runKeys: _*)
    val runs = allPairs(hotRows
      .withColumn("ck", col(s"m.$ckField"))
      .withColumn("rsz", count(lit(1)).over(wRun))
      .filter(col("rsz") >= 2 && col("rsz") <= maxBucket)
      .groupBy(runKeys: _*)
      .agg(array_sort(collect_list(col("m"))).as("members")))
    // chain pairs inside a run duplicate some run pairs; every caller
    // keys pairs by (id_a, id_b) and dropDuplicates afterwards
    normal.unionByName(chain).unionByName(runs)
  }

  /** Distinct word n-grams of a text as a column. Texts shorter than n
    * fall back to the whole text, mirroring
    * [[graft.functions.MinhashSig.shingles]].
    *
    * Built by shift-and-zip — gram i = w(i) ++ w(i+1) ++ ... — NOT by
    * `transform(sequence(...), i -> slice(w, i, n))`: higher-order
    * functions evaluate expressions referenced inside the lambda once
    * PER ELEMENT, so the slice formulation re-split the text ~len
    * times per row (the same trap as the removed aggregate(zip_with)
    * dot product). Here every `w` reference sits outside the lambdas
    * and evaluates once per row; zip_with's null padding marks the
    * truncated tail grams, which are filtered.
    */
  def ngramSet(text: Column, n: Int): Column = {
    val w = split(text, " ")
    val grams = (1 until n).foldLeft(w) { (acc, k) =>
      zip_with(acc, slice(w, lit(k + 1), size(w)),
        (a, b) => concat(a, lit(" "), b))
    }
    when(size(w) < n, array(text))
      .otherwise(array_distinct(filter(grams, g => g.isNotNull)))
  }

  /** Word n-gram Jaccard similarity between explicit candidate pairs —
    * the exact verify metric behind the MinHash estimate.
    */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val sa = ngramSet(a, n)
    val sb = ngramSet(b, n)
    size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb)).cast("double")
  }

  // --- MinHash + LSH ----------------------------------------------------

  /** Near-duplicate candidate pairs via banded MinHash LSH:
    * shingle -> k-minhash -> b bands of r rows -> groupBy band key ->
    * within-bucket pairs -> Jaccard-verified. The shuffle is keyed by
    * (band index, band hash); buckets over `maxBucket` switch to chain
    * pairing on the full-signature hash (byte-identical docs adjacent;
    * see the class doc for what hot-bucket recall does and does not
    * guarantee), so a hot key is bounded AND still connected.
    */
  def minhashLshPairs(spark: SparkSession, docs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      w: Int = 3, bands: Int = 16, rows: Int = 4,
      minJaccard: Double = 0.7, maxBucket: Int = 1000, hotChain: Int = 20,
      metrics: Option[Observation] = None): DataFrame = {
    import spark.implicits._
    val k = bands * rows
    val base = docs.select(col(idCol).cast("long").as("id"),
      col(textCol).as("text"))
    // Texts never enter the band shuffle: the banded stream is
    // (id, sighash, band, bandkey) — 4 numeric columns — so the LSH
    // exchange moves ~32 bytes x bands per document instead of `bands`
    // full copies of every text (the difference between a bounded
    // shuffle and re-shuffling the corpus 16x at 100 TB). Signatures
    // come from the native codegen `minhash_sig` expression: no row
    // deserialization into a typed Dataset for the hash stage.
    // NO scan-parallelism spread here (measured negative result, r8):
    // the codegen minhash kernel is cheap relative to an exchange that
    // would carry every TEXT — alternating same-JVM A/B over 5 samples
    // measured spread slower (median 3.90 vs 3.74 s, min 2.74 vs
    // 2.15 s; doc_dedup_clusters median 6.51 vs 5.18 s). The banding
    // shuffle right below already parallelizes everything downstream,
    // and on real (multi-split) corpora the kernel parallelism comes
    // from the scan itself.
    val sigs = base.select(col("id"),
      GraftFunctions.column("minhash_sig", col("text"), lit(w), lit(k))
        .as("sig"))

    val banded = sigs.select(col("id"), xxhash64(col("sig")).as("sighash"),
      posexplode(expr(s"transform(sequence(0, ${bands - 1}), " +
        s"b -> hash(slice(sig, b * $rows + 1, $rows)))")))
      .toDF("id", "sighash", "band", "bandkey")

    // sort by (sighash, id): in a hot bucket, byte-identical documents
    // share a sighash and sort adjacent, so chain pairing still finds
    // every exact-duplicate pair
    val candidates = boundedBucketPairs(
      banded.select(col("band"), col("bandkey"),
        struct(col("sighash"), col("id")).as("m")),
      Seq("band", "bandkey"), maxBucket, hotChain, metrics)
      .select(least(col("m_a.id"), col("m_b.id")).as("id_a"),
        greatest(col("m_a.id"), col("m_b.id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")

    // Jaccard-verify by joining the candidate ids back to the texts:
    // near-dup candidates are a vanishing fraction of the corpus, so
    // these are two hash joins on an 8-byte key (AQE broadcasts the
    // candidate side when it is small enough).
    candidates
      .join(base.select(col("id").as("id_a"), col("text").as("text_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("text").as("text_b")), "id_b")
      // duplicate ids in `docs` would fan a candidate pair out to one
      // row per (text_a, text_b) combination; keep one representative
      // per id pair like the pre-join formulation did
      .dropDuplicates("id_a", "id_b")
      .withColumn("jaccard", jaccard(col("text_a"), col("text_b")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  // --- embedding-cosine near-dup -----------------------------------------

  /** Near-duplicate pairs by embedding cosine: SRP-LSH buckets bound the
    * candidate set; norms precomputed per row. The bucket stream carries
    * (ekey, id) ONLY — embeddings are joined back by id for the cosine
    * verify (two hash joins on an 8-byte key, the same shape as the
    * MinHash Jaccard verify), so neither the shuffle nor any aggregation
    * row ever holds an embedding vector. Buckets over `maxBucket`
    * chain-pair on the embedding hash (exact copies sort adjacent), so
    * clustered corpora stay bounded without losing exact-duplicate
    * recall — see the class doc.
    *
    * PRECONDITION: `vec_id` must be unique. A duplicated id would fan a
    * candidate pair out in the join-back and the surviving row's cosine
    * would come from whichever representative embedding the
    * `dropDuplicates` kept first — nondeterministic across runs. The
    * dedup below exists to keep the OUTPUT keyed by (id_a, id_b), not
    * to repair duplicate inputs; run `doc_dedup_exact`-style keying
    * upstream if ids can repeat.
    */
  def embeddingCosinePairs(embeddings: DataFrame,
      minCosine: Double, nBits: Int = 6, maxBucket: Int = 500,
      hotChain: Int = 20, metrics: Option[Observation] = None): DataFrame = {
    // native codegen srp_sig: the bucketing pass touches every vector
    // once — no per-row Seq[Float] boxing (same planes/accumulation as
    // Similarity.srpSignature, so buckets are identical). A NULL
    // embedding row null-propagates to a null bucket and drops out of
    // the pair results rather than killing the job — validate upstream
    // if absence must be loud.
    val b = embeddings.select(col("vec_id").cast("long").as("id"),
        col("embedding"))
      .withColumn("bucket",
        GraftFunctions.column("srp_sig", col("embedding"), lit(nBits)))
    val candidates = boundedBucketPairs(
      b.select(col("bucket"),
        struct(xxhash64(col("embedding")).as("ekey"), col("id")).as("m")),
      Seq("bucket"), maxBucket, hotChain, metrics)
      .select(least(col("m_a.id"), col("m_b.id")).as("id_a"),
        greatest(col("m_a.id"), col("m_b.id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // the verify side never needs the SRP bucket: derive it from the
    // input directly so the scan for the join-back carries no UDF
    val side = embeddings.select(col("vec_id").cast("long").as("id"),
        col("embedding"))
      .withColumn("norm", Similarity.normCol(col("embedding")))
    candidates
      .join(side.toDF("id_a", "emb_a", "norm_a"), "id_a")
      .join(side.toDF("id_b", "emb_b", "norm_b"), "id_b")
      // duplicate vec_ids would fan a candidate pair out; keep one
      // representative per id pair like the MinHash verify does
      .dropDuplicates("id_a", "id_b")
      .withColumn("cosine", Similarity.dotCol(col("emb_a"), col("emb_b"))
        / (col("norm_a") * col("norm_b")))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
  }

  // --- near-dup clustering (pairs -> components -> keepers) --------------

  /** Collapse near-duplicate PAIRS into clusters and elect one keeper
    * per cluster — the step that turns any of the pair generators above
    * into an actual corpus dedup ("keep one doc per duplicate group").
    *
    * Connected components over the (id_a, id_b) edges (pair
    * transitivity: A~B and B~C dedup to one group even when the A~C
    * pair was never emitted — exactly why the hot-bucket chain pairing
    * only needs CONNECTIVITY, not all pairs); keeper = min doc id per
    * component, the same election as [[exact]]. Only ids ever enter
    * the graph — 16 bytes per edge regardless of document size.
    *
    * `maxIter` bounds the alternating large-star/small-star rounds of
    * the shared [[graft.spark.Cc]] core (r8: replaced GraphX Pregel),
    * which converges in O(log n) rounds with an early exit — the
    * hot-bucket chain pairing's exponential offsets keep a degenerate
    * bucket's component diameter at ~hotChain hops, well inside the
    * default maxIter=20 — asserted degenerate at n=300k in StressBench
    * and specced in OpsSpec. Components wider than the bound still
    * split into several keepers, never into a wrong merge — same
    * contract as `kg.Canonicalize.components`.
    *
    * NOTE: the CC core checkpoints its pairs, an action, so calling
    * this EXECUTES the upstream pair pipeline immediately (same as
    * `kg_canonicalize`) — it is not a lazily-composable DataFrame
    * transform.
    *
    * @return (doc_id, keeper) for every id that appears in a pair;
    *         docs with no near-dup pair are their own keeper and are
    *         not emitted (left-join the corpus and coalesce for the
    *         full assignment — that keeps this output proportional to
    *         the DUPLICATED subset, a vanishing fraction at scale).
    */
  def connectedKeepers(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // the shared CC core labels each vertex with the smallest vertex
    // id in its component — which IS the min-doc-id keeper election
    graft.spark.Cc.components(
        pairs.select(col("id_a").cast("long").as("a"),
          col("id_b").cast("long").as("b")), maxIter)
      .toDF("doc_id", "keeper")
  }

  // --- SimHash ------------------------------------------------------------

  /** 64-bit SimHash over word hashes (deterministic). */
  def simhash(text: String): Long = {
    val acc = new Array[Int](64)
    text.split(" ").foreach { wrd =>
      val h = Fnv1a64.hashString(wrd)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** SimHash near-dup pairs: bucket by rotated 16-bit prefixes (4
    * rotations cover any hamming distance <= 3 in at least one bucket
    * for 16-bit blocks), verify hamming <= maxHamming. The in-bucket
    * expansion is bounded like the MinHash path: buckets over
    * `maxBucket` chain-pair on the full simhash (nearby hashes sort
    * adjacent), so one degenerate 16-bit key (e.g. a corpus of empty or
    * template-identical texts) costs O(n*hotChain), not O(n^2).
    */
  def simhashPairs(spark: SparkSession, docs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      maxHamming: Int = 3, maxBucket: Int = 1000, hotChain: Int = 20,
      metrics: Option[Observation] = None): DataFrame = {
    import spark.implicits._
    // native codegen simhash: the hash stays inside the whole-stage
    // generated loop over the scan — no row deserialization, no
    // String.split, no per-row array allocations (the Dataset-map
    // formulation paid all three)
    // NO scan-parallelism spread (same measured negative result as
    // minhashLshPairs: same-JVM A/B median 3.38 vs 2.15 s — the 64-bit
    // codegen hash is far cheaper than exchanging the texts)
    val hashed = docs
      .select(col(idCol).cast("long").as("id"), col(textCol))
      .select(col("id"),
        GraftFunctions.column("simhash64", col(textCol)).as("simhash"))
    val blocked = hashed.select(col("id"), col("simhash"),
      explode(expr("transform(sequence(0, 3), b -> " +
        "struct(b as blk, shiftright(simhash, b * 16) & 65535 as key))")).as("e"))
      .select(col("id"), col("simhash"), col("e.blk"), col("e.key"))
    val pairs = boundedBucketPairs(
      blocked.select(col("blk"), col("key"),
        struct(col("simhash"), col("id")).as("m")),
      Seq("blk", "key"), maxBucket, hotChain, metrics)
      .select(least(col("m_a.id"), col("m_b.id")).as("id_a"),
        greatest(col("m_a.id"), col("m_b.id")).as("id_b"),
        col("m_a.simhash").as("sh_a"), col("m_b.simhash").as("sh_b"))
      .dropDuplicates("id_a", "id_b")
    pairs
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}
