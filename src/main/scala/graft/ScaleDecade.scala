package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.spark.Sessions

/** Scale-decade evidence: the full documents/embeddings query registry
  * timed at two corpus sizes a DECADE apart (default 5,000 -> 50,000
  * docs, 2,000 -> 20,000 vectors — the driver's sf0.1 shape and 10x
  * it), over a synthetic corpus generated ON THE EXECUTORS with
  * size-PROPORTIONAL duplicate structure (0.2% exact dups, 0.5%
  * near-dups, 5-lang / 20-source mix, 10-100-token docs; 10
  * Gaussian-ish clusters in 64-dim float embeddings) so a 10x corpus
  * means 10x work, not 10x-denser duplicate clusters (replicating the
  * real table would square pair volumes by construction and measure
  * the input, not the plan).
  *
  * For each query: best-of-2 at 1x (the first pass also JIT-warms the
  * code paths for everything downstream), one timed pass at 10x, and
  * an adaptive SECOND 10x sample for any query whose ratio exceeds the
  * flag threshold — a co-tenant burst must not mint a false
  * super-linear flag (min is taken). Verdict per query:
  * ratio = sec_10x / sec_1x, flagged super-linear above
  * `10 * slack` (slack 1.5 covers partial-agg fan-in and shuffle
  * constants). Output: ONE JSON line + `scale_decade.json`.
  *
  * Exclusions, each documented rather than silently dropped:
  *  - q1-q6 read the driver's TPC-H tables (no 10x source exists);
  *  - the `*_exhaustive_*` ANN twins are BY CONSTRUCTION brute-force
  *    O(probes x corpus) oracle surfaces (their approximate twins are
  *    the scale path and ARE measured);
  *  - `ann_self_top1` pins nlist=8 for its oracle, and per-cell work
  *    is O((n/nlist)^2) — at fixed nlist a 10x corpus is 100x pair
  *    work BY PARAMETERIZATION, so the registry entry is excluded and
  *    the op is measured under its documented scale law instead
  *    (nlist ~ sqrt(n): `ann_self_top1_scaled`), which is how a
  *    production caller sizes it.
  */
object ScaleDecade {

  import graft.corpus.SyntheticCorpus.mix

  private val Vocab: Array[String] = Array(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "customer", "stream", "table", "query", "key", "window", "join",
    "vector", "big", "merge", "data", "the", "a", "index", "page", "cache",
    "read", "write", "plan", "stage", "task", "shuffle", "row", "spill")
  private val Langs = Array("en", "en", "en", "en", "zh", "de", "fr", "es")

  /** Base word-salad text of doc `id` (pure function of id + seed). */
  private def baseText(id: Long, seed: Long): String = {
    val h0 = mix(seed ^ id)
    val len = 10 + (math.abs(h0) % 91).toInt
    val sb = new StringBuilder
    var i = 0
    while (i < len) {
      if (i > 0) sb.append(' ')
      sb.append(Vocab((math.abs(mix(h0 + i)) % Vocab.length).toInt))
      i += 1
    }
    sb.toString
  }

  /** Text with the proportional duplicate structure: every 500th doc is
    * an EXACT copy of the doc 499 before it; every 200th is a NEAR-dup
    * (one appended token) of the doc 199 before it.
    */
  private[graft] def textOf(id: Long, seed: Long): String =
    if (id % 500 == 499 && id >= 499) baseText(id - 499, seed)
    else if (id % 200 == 199 && id >= 199) baseText(id - 199, seed) + " neardup"
    else baseText(id, seed)

  private[graft] def writeDocuments(spark: SparkSession, dir: String,
      n: Long, seed: Long): Unit = {
    import spark.implicits._
    spark.range(n)
      .select(col("id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val text = textOf(id, seed)
        (id, text, Langs((math.abs(mix(seed + id * 31)) % Langs.length).toInt),
          "src" + (id % 20), text.length.toLong)
      })
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private[graft] def writeEmbeddings(spark: SparkSession, dir: String,
      m: Long, seed: Long, dim: Int = 64): Unit = {
    import spark.implicits._
    spark.range(m)
      .select(col("id")).as[Long]
      .mapPartitions(_.map { id =>
        val label = (id % 10).toInt
        val v = Array.tabulate(dim) { d =>
          val center = (math.abs(mix(seed ^ (9000L + label * dim + d)))
            % 1000) / 1000.0f - 0.5f
          val noise = ((math.abs(mix(seed ^ (id * dim + d))) % 1000)
            / 1000.0f - 0.5f) * 0.2f
          center + noise
        }
        (id, v, label)
      })
      .toDF("vec_id", "embedding", "label")
      .withColumn("label", col("label").cast("int"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** SPREAD (uniform) embeddings — the corpus whose SRP bucket
    * occupancy actually follows 2^-nBits, i.e. the precondition of the
    * nBits ~ log2 n LSH scale law. The clustered table above
    * deliberately violates it (every member of a tight cluster
    * projects with the same signs — measured: 40k vectors → 20
    * occupied buckets, max 18k, at ANY nBits), which is the regime the
    * engine routes to IVF; see the `ann_lsh_plant_clustered` exclusion
    * note and BASELINE.md round 7.
    */
  private[graft] def writeEmbeddingsUniform(spark: SparkSession, dir: String,
      m: Long, seed: Long, dim: Int = 64): Unit = {
    import spark.implicits._
    spark.range(m)
      .select(col("id")).as[Long]
      .mapPartitions(_.map { id =>
        val v = Array.tabulate(dim) { d =>
          ((math.abs(mix(seed ^ (id * dim + d))) % 1000)
            / 1000.0f - 0.5f)
        }
        (id, v, 0)
      })
      .toDF("vec_id", "embedding", "label")
      .withColumn("label", col("label").cast("int"))
      .write.mode("overwrite").parquet(s"$dir/uniform/embeddings.parquet")
  }

  private val Excluded: Map[String, String] = Map(
    "q1_agg" -> "tpch_table", "q2_join_broadcast" -> "tpch_table",
    "q3_window_topk" -> "tpch_table", "q4_semi_anti" -> "tpch_table",
    "q5_rollup" -> "tpch_table", "q6_events_session" -> "tpch_table",
    "ann_lsh_exhaustive_topk" -> "by_construction_exhaustive_oracle_twin",
    "ann_ivf_exhaustive_topk" -> "by_construction_exhaustive_oracle_twin",
    "ann_self_exhaustive_topk" -> "by_construction_exhaustive_oracle_twin",
    "ann_self_top1" ->
      "fixed_nlist_oracle_parameterization__measured_as_ann_self_top1_scaled",
    // the plant oracles probe with the WHOLE corpus (a twin per vector)
    // at fixed bucket parameters, so probe count AND bucket size both
    // grow with n — quadratic by parameterization, not by plan; the
    // scaled variants below hold per-probe work flat the way a
    // production caller would (nBits ~ log2 n, nlist ~ n for
    // probes ~ n)
    "ann_lsh_plant_top1" ->
      "probes_scale_with_corpus__measured_as_ann_lsh_plant_scaled",
    "ann_ivf_plant_top1" ->
      "probes_scale_with_corpus__measured_as_ann_ivf_plant_scaled",
    // same O((n/nlist)^2)-per-cell law as ann_self_top1: the registry
    // query pins nlist=16 for its closed-form oracle, so 10x corpus is
    // 100x pair work BY PARAMETERIZATION; measured under nlist ~ n
    // (flat cell size) the way SemDeDup sizes its cluster count
    "dedup_semantic" ->
      "fixed_nlist_oracle_parameterization__measured_as_dedup_semantic_scaled",
    // not a registry query — a documented NON-measurement: SRP-LSH on
    // the cluster-degenerate corpus is input-bound (sign saturation
    // caps occupied buckets at 20 / max-bucket 18k for 40k vectors at
    // ANY nBits; candidate pairs ~ n^2/clusters — measured 20-80x at
    // 10x on r6 AND r7 code, masked in r6 by the min-of-3 statistic).
    // The engine's scale path for clustered corpora is IVF
    // (ann_ivf_plant_scaled: ~2x at 10x on the SAME corpus);
    // ann_lsh_plant_scaled measures the LSH law on the uniform corpus
    // whose occupancy satisfies the law's precondition.
    "ann_lsh_plant_clustered" ->
      "srp_occupancy_is_cluster_bound_on_this_corpus__ivf_is_the_clustered_scale_path__law_measured_on_uniform_corpus_as_ann_lsh_plant_scaled")

  private def time(fn: => DataFrame): (Double, Long) = {
    val t0 = System.nanoTime()
    val df = fn
    val rows = df.queryExecution.toRdd.count()
    ((System.nanoTime() - t0) / 1e9, rows)
  }

  /** Self k-NN under the documented scale law: nlist grows ~sqrt(n) so
    * per-cell work stays flat per corpus row.
    */
  private def selfTopKScaled(s: SparkSession, dir: String): DataFrame = {
    val e = graft.io.Tables.table(s, dir, "embeddings")
      .select("vec_id", "embedding")
    val m = e.count()
    val nlist = math.max(8, math.round(8 * math.sqrt(m / 2000.0)).toInt)
    graft.ops.Similarity.ivfSelfTopK(s, e, k = 1, nlist = nlist, nprobe = 2)
  }

  private def unitEmb(s: SparkSession, dir: String): (DataFrame, Long) = {
    val e = graft.io.Tables.table(s, dir, "embeddings")
      .select("vec_id", "embedding")
    (e, e.count())
  }

  /** Planted-twin LSH with nBits ~ log2(n): expected bucket size stays
    * flat, so probes x bucket stays linear in n. Measured on the
    * SPREAD (uniform) corpus — the occupancy the law presupposes. The
    * CLUSTERED corpus violates it by construction (sign saturation
    * inside tight clusters caps the occupied-bucket count at any
    * nBits; measured 20 buckets / max 18k at 40k vectors → 20-80x
    * pair volume at 10x regardless of plan) — that regime is
    * documented in the `ann_lsh_plant_clustered` exclusion and served
    * by IVF (`ann_ivf_plant_scaled`, whose quantizer subdivides
    * clusters: ~2x at 10x on the SAME clustered corpus). r6's 14.04x
    * "pass" for the clustered variant was a min-of-3 statistic
    * artifact; the symmetric median re-sample exposed it and a
    * standalone A/B on r6 code reproduced 22-57s per 10x pass.
    */
  private def lshPlantScaled(s: SparkSession, dir: String): DataFrame = {
    val e = graft.io.Tables.table(s, s"$dir/uniform", "embeddings")
      .select("vec_id", "embedding")
    val m = e.count()
    val planted = e.select((col("vec_id") + lit(1099511627776L)).as("vec_id"),
      col("embedding"))
    // ceil, not round: rounding 10x down to +3 bits leaves buckets 25%
    // fatter at the larger size, and probes ~ n turns that into a
    // measured ~12.5x — ceil keeps per-bucket occupancy <= the 1x size
    val nBits = 6 + math.max(0,
      math.ceil(math.log(m / 2000.0) / math.log(2)).toInt)
    graft.ops.Similarity.lshTopK(e.unionByName(planted), planted,
      k = 1, nBits = nBits)
  }

  /** Planted-twin IVF with nlist ~ n: cell size stays flat, so
    * probes x (nprobe x cell) stays linear in n.
    */
  private def ivfPlantScaled(s: SparkSession, dir: String): DataFrame = {
    val (e, m) = unitEmb(s, dir)
    val planted = e.select((col("vec_id") + lit(1099511627776L)).as("vec_id"),
      col("embedding"))
    val nlist = math.max(8, math.round(8 * m / 2000.0).toInt)
    graft.ops.Similarity.ivfTopK(s, e.unionByName(planted), planted,
      k = 1, nlist = nlist, nprobe = 2)
  }

  /** Semantic dedup under its scale law: nlist ~ n keeps cell size (and
    * so per-row pair work) flat; planted twins mirror the registry
    * query's duplicate structure at both sizes. tau = 0.995 sits above
    * THIS corpus's natural same-cluster cosine (~0.96 — the synthetic
    * Gaussian clusters are tight by construction) so the measurement
    * tracks the candidate SCAN (the nlist-bounded quadratic stage, the
    * plan's scale law) rather than CC over an input-density-determined
    * edge set; exact twins at cosine 1.0 still connect.
    */
  private def semanticDedupScaled(s: SparkSession, dir: String): DataFrame = {
    val (e, m) = unitEmb(s, dir)
    val planted = e.select((col("vec_id") + lit(1099511627776L)).as("vec_id"),
      col("embedding"))
    val nlist = math.max(8, math.round(8 * m / 2000.0).toInt)
    graft.ops.Similarity.semanticDedup(s, e.unionByName(planted),
      tau = 0.995, nlist = nlist)
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val base = sys.env.getOrElse("SPARK_GRAFT_DECADE_DIR",
      "/root/repo/scale_data")
    val n1 = sys.env.getOrElse("SPARK_GRAFT_DECADE_DOCS", "5000").toLong
    val m1 = sys.env.getOrElse("SPARK_GRAFT_DECADE_VECS", "2000").toLong
    val slack = 1.5
    val seed = 42L
    val spark = Sessions.session("graft-scale-decade")

    val dir1 = s"$base/decade1x"
    val dir10 = s"$base/decade10x"
    writeDocuments(spark, dir1, n1, seed)
    writeDocuments(spark, dir10, n1 * 10, seed)
    writeEmbeddings(spark, dir1, m1, seed)
    writeEmbeddings(spark, dir10, m1 * 10, seed)
    writeEmbeddingsUniform(spark, dir1, m1, seed)
    writeEmbeddingsUniform(spark, dir10, m1 * 10, seed)

    val allTargets: Seq[(String, (SparkSession, String) => DataFrame)] =
      (SparkEntry.queries.view.filterKeys(!Excluded.contains(_)).toSeq ++
        Seq(
          "ann_self_top1_scaled" ->
            ((s: SparkSession, d: String) => selfTopKScaled(s, d)),
          "ann_lsh_plant_scaled" ->
            ((s: SparkSession, d: String) => lshPlantScaled(s, d)),
          "ann_ivf_plant_scaled" ->
            ((s: SparkSession, d: String) => ivfPlantScaled(s, d)),
          "dedup_semantic_scaled" ->
            ((s: SparkSession, d: String) => semanticDedupScaled(s, d))))
        .sortBy(_._1)
    // dev-only single-target adjudication filter (same fail-fast
    // contract as SPARK_GRAFT_ONLY / SPARK_GRAFT_BENCH_ONLY)
    val only = sys.env.get("SPARK_GRAFT_DECADE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names -- allTargets.map(_._1).toSet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_DECADE_ONLY names not in the target set: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    val targets = allTargets.filter { case (n, _) => only.forall(_.contains(n)) }

    val out = new StringBuilder
    var flagged = List.empty[String]
    targets.foreach { case (name, fn) =>
      // best-of-2 at 1x (first pass JIT-warms), one pass at 10x,
      // adaptive second 10x sample before any super-linear flag
      val (a1, _) = time(fn(spark, dir1))
      val (b1, rows1) = time(fn(spark, dir1))
      var s1 = math.min(a1, b1)
      val l10 = Bench.loadAvg()
      var (s10, rows10) = time(fn(spark, dir10))
      var resampled = false
      // the PRE-resample ratio stays in the artifact: a suppressed flag
      // must remain auditable, not vanish into the post-resample number
      val ratioPre = s10 / math.max(s1, 1e-3)
      // a would-be flag re-samples BOTH sides before it sticks: a
      // co-tenant/GC blip can land on the 10x sample, and an
      // anomalously FAST 1x best inflates the ratio just the same
      // (observed: a scan op flagged 17x from a 0.2 s 1x fluke + a
      // 3.5 s 10x pause; its steady-state ratio is ~1.3). The SAME
      // statistic on both sides — median of three — so the re-sample
      // cannot bias toward suppression the way a min-of-3 on the 10x
      // side alone would
      if (ratioPre > 10 * slack) {
        val (r10a, _) = time(fn(spark, dir10))
        val (r10b, _) = time(fn(spark, dir10))
        val (r1, _) = time(fn(spark, dir1))
        s10 = Seq(s10, r10a, r10b).sorted.apply(1) // median of three
        s1 = Seq(a1, b1, r1).sorted.apply(1) // median of three
        resampled = true
      }
      val ratio = s10 / math.max(s1, 1e-3)
      val superlinear = ratio > 10 * slack
      if (superlinear) flagged ::= name
      if (out.nonEmpty) out.append(",")
      out.append(f""""$name":{"sec_1x":$s1%.3f,"sec_10x":$s10%.3f,""" +
        f""""ratio":$ratio%.2f,"ratio_pre":$ratioPre%.2f,""" +
        f""""rows_1x":$rows1,"rows_10x":$rows10,""" +
        f""""load_10x":$l10%.2f,"resampled":$resampled,""" +
        f""""superlinear":$superlinear}""")
      // progress on stderr; stdout stays the single JSON line
      Console.err.println(f"[decade] $name%-28s 1x=$s1%7.3fs 10x=$s10%8.3fs " +
        f"ratio=$ratio%6.2f${if (superlinear) "  ** SUPER-LINEAR **" else ""}")
    }

    // SECOND decade (100x docs) for the heaviest document-table ops:
    // one decade is evidence, two decades is a trend. Skippable
    // (SPARK_GRAFT_DECADE_100X=0) because the 100x corpus write plus
    // three timed passes add minutes; flag threshold scales to
    // 100 * slack with the same both-sides median re-sample.
    val out100 = new StringBuilder
    if (sys.env.getOrElse("SPARK_GRAFT_DECADE_100X", "1") != "0") {
      val dir100 = s"$base/decade100x"
      writeDocuments(spark, dir100, n1 * 100, seed)
      val heavy = Seq("doc_substring_dedup", "kg_pagerank_weighted",
        "doc_bm25")
      heavy.foreach { name =>
        val fn = SparkEntry.queries(name)
        val (a1, _) = time(fn(spark, dir1))
        val (b1, _) = time(fn(spark, dir1))
        var s1 = math.min(a1, b1)
        val l100 = Bench.loadAvg()
        var (s100, rows100) = time(fn(spark, dir100))
        val ratioPre = s100 / math.max(s1, 1e-3)
        var resampled = false
        if (ratioPre > 100 * slack) {
          val (rA, _) = time(fn(spark, dir100))
          val (rB, _) = time(fn(spark, dir100))
          val (r1, _) = time(fn(spark, dir1))
          s100 = Seq(s100, rA, rB).sorted.apply(1)
          s1 = Seq(a1, b1, r1).sorted.apply(1)
          resampled = true
        }
        val ratio = s100 / math.max(s1, 1e-3)
        val superlinear = ratio > 100 * slack
        if (superlinear) flagged ::= s"${name}@100x"
        if (out100.nonEmpty) out100.append(",")
        out100.append(f""""$name":{"sec_1x":$s1%.3f,"sec_100x":$s100%.3f,""" +
          f""""ratio":$ratio%.2f,"ratio_pre":$ratioPre%.2f,""" +
          f""""rows_100x":$rows100,"load_100x":$l100%.2f,""" +
          f""""resampled":$resampled,"superlinear":$superlinear}""")
        Console.err.println(f"[decade] $name%-28s 1x=$s1%7.3fs " +
          f"100x=$s100%8.3fs ratio=$ratio%6.2f" +
          (if (superlinear) "  ** SUPER-LINEAR **" else ""))
      }
    }
    spark.stop()
    val excl = Excluded.map { case (k, v) => s""""$k":"$v"""" }
      .mkString("{", ",", "}")
    val flaggedJson = flagged.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val line =
      s"""{"metric":"scale_decade","docs_1x":$n1,"docs_10x":${n1 * 10},""" +
        s""""vecs_1x":$m1,"vecs_10x":${m1 * 10},"slack":$slack,""" +
        s""""superlinear":$flaggedJson,"excluded":$excl,""" +
        s""""queries":{$out},"queries_100x":{$out100}}"""
    println(line)
    try {
      val w = new java.io.PrintWriter("scale_decade.json")
      try w.println(line) finally w.close()
    } catch { case _: Throwable => () }
  }
}
