package graft

import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression gate: the properties that make the flagship
  * queries scale — column pruning reaching the parquet scan, filter
  * pushdown, broadcast joins where one side is bounded, whole-stage
  * codegen, and no cartesian products — asserted on the ACTUAL plans
  * of the registry queries, so a refactor that silently trades one of
  * them away (a UDF slipping into a hot projection, a lost filter, a
  * broadcast turning into a sort-merge of a tiny side) fails here
  * rather than surfacing as an unexplained bench regression at 100x
  * the data.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("q1_agg: column pruning reaches the lineitem scan") {
    val plan = planOf("q1_agg")
    // the scan must read ONLY the 4 aggregated/grouped columns — an
    // 11-column read for a 4-column agg is exactly the waste the brief
    // calls out at 100 TB
    assert(plan.contains("l_quantity") && plan.contains("l_returnflag"))
    for (dropped <- Seq("l_orderkey", "l_partkey", "l_shipdate", "l_tax"))
      assert(!plan.contains(dropped),
        s"pruned column $dropped leaked into the q1_agg scan:\n$plan")
  }

  test("ann_top1_dot: probe filter pushes down, probes broadcast") {
    val plan = planOf("ann_top1_dot")
    assert(plan.contains("LessThan(vec_id,500)"),
      s"probe filter must reach the parquet scan (PushedFilters):\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"bounded probe set must broadcast, corpus must stream:\n$plan")
  }

  test("q2_join_broadcast: small dimension joins as broadcast hash join") {
    val plan = planOf("q2_join_broadcast")
    assert(plan.contains("BroadcastHashJoin"), s"expected BHJ:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"tiny dim side must never sort-merge:\n$plan")
  }

  test("column-only kernels: codegen spans present, no UDF or python eval") {
    // all three are scalar-expression-only and must sit inside
    // whole-stage codegen spans (the `*(n)` markers in the final
    // adaptive plan) — doc_url_canonical included, now that the
    // native canonical_url expression replaced the interpreted
    // higher-order lambdas in its hot projection
    for (name <- Seq("doc_url_canonical", "doc_split_assign", "doc_quality",
        "doc_sample_stratified")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // finalize the adaptive plan — codegen `*(n)`
      // markers only appear once isFinalPlan=true
      val plan = df.queryExecution.executedPlan.toString
      assert("""\*\(\d+\)""".r.findFirstIn(plan).isDefined,
        s"$name lost whole-stage codegen:\n$plan")
      assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython") &&
        !plan.contains("ArrowEvalPython"),
        s"$name must stay UDF-free:\n$plan")
    }
  }

  test("no cartesian products anywhere in the registry") {
    // every join in every registered query must have an equi-condition
    // (or be a broadcast nested loop over a BOUNDED side, which the
    // registry never needs): a CartesianProduct node is always a bug
    // at corpus scale
    for ((name, fn) <- SparkEntry.queries) {
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$plan")
    }
  }

  test("doc_line_dedup: bounded exchange count (df count + join + regroup)") {
    val plan = planOf("doc_line_dedup")
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 5,
      s"line dedup grew to $exchanges exchanges — the two-shuffle-on-digest shape broke:\n$plan")
  }

  test("doc_bm25: per-term idf stats broadcast; texts never shuffle") {
    val plan = planOf("doc_bm25")
    assert(plan.contains("BroadcastExchange"),
      s"idf side (|terms| rows) must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"every bm25 join side is bounded or pre-aggregated — no SMJ:\n$plan")
    // only (doc_id, term) pairs ride hash exchanges: every shuffle
    // sits above a partial HashAggregate, never above raw text rows
    val shuffleLines = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffleLines.nonEmpty && shuffleLines.forall(!_.contains("text#")),
      s"a hash exchange partitions on raw text in bm25:\n$plan")
  }

  test("kg_pagerank and CC leave no cached tables or persistent RDDs behind") {
    // the graph operators materialize only through eager
    // localCheckpoint, so a long-lived session (this bench suite, a
    // multi-batch driver) gains no cache entry per invocation; the
    // checkpoint blocks of the returned (and here already dropped)
    // frames are cleaned by the ContextCleaner
    spark.sharedState.cacheManager.clearCache()
    SparkEntry.queries("kg_pagerank")(spark, sfDir).collect()
    SparkEntry.queries("doc_dedup_clusters")(spark, sfDir).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "a cached DataFrame leaked past its operator")
  }

  test("graph operators run beside a poisoned caller cache and leave it registered") {
    import spark.implicits._
    // the caller caches a read of a path that does not exist, and its
    // first action fails: an operator that re-plans the session's cache
    // entries (as cache()/unpersist do) would trip over this one
    val missing = java.nio.file.Files.createTempDirectory("graft-poison")
      .resolve("absent").toString
    val poisoned = graft.io.ConllCodec.read(spark, missing).cache()
    try {
      intercept[Exception](poisoned.count())
      val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"))
        .toDF("src", "dst")
      val w = e.withColumn("weight", lit(1L))
      assert(graft.kg.GraphOps.pagerank(e, iters = 2).count() == 4)
      assert(graft.kg.GraphOps.pagerank(e, iters = 2,
        danglingRedistribute = true).count() == 4)
      assert(graft.kg.GraphOps.shortestPaths(spark, w, Seq("a"), iters = 2)
        .count() == 4)
      assert(graft.kg.GraphOps.labelPropagation(e, rounds = 2)
        .count() == 4)
      val names = Seq(("ann", "anne"), ("anne", "annie"))
        .toDF("name_a", "name_b")
      assert(graft.kg.Canonicalize.components(names)
        .select("component").distinct().count() == 1)
      val ids = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
      assert(graft.ops.Dedup.connectedKeepers(ids)
        .select("keeper").distinct().count() == 2)
      assert(poisoned.storageLevel != StorageLevel.NONE,
        "an operator dropped the caller's cache entry")
    } finally poisoned.unpersist()
  }

  test("library ops leave the caller's function registry alone") {
    // graft's native expressions share names with functions a caller
    // may own; library calls build them as Columns and must neither
    // replace those nor add any function to the session
    val s = spark.newSession()
    import s.implicits._
    s.udf.register("canonical_url", (_: String) => "mine")
    s.udf.register("fnv1a64", (_: String) => 7L)
    val registry = s.sessionState.functionRegistry
    val before = registry.listFunction().toSet
    val docs = Seq((1L, "the quick brown fox jumps over"),
      (2L, "the quick brown fox jumps over"), (3L, "an unrelated line"))
      .toDF("doc_id", "text")
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val url = Seq("HTTP://A.com:80").toDF("url")
      .select(graft.ops.Urls.canonicalizeNative(col("url"))).head().getString(0)
    assert(url == "http://a.com/")
    docs.select(graft.ops.TextAnalysis.fingerprint(col("text"))).collect()
    assert(graft.ops.Dedup.minhashLshPairs(docs).count() == 1)
    graft.ops.Similarity.lshTopK(vecs, vecs, k = 1).collect()
    graft.ops.TextAnalysis.bloomContamination(docs, docs.limit(1)).collect()
    val mine = s.sql("SELECT canonical_url('http://b.com'), fnv1a64('x')").head()
    assert(mine.getString(0) == "mine" && mine.getLong(1) == 7L,
      s"a library call replaced the caller's functions: $mine")
    assert(registry.listFunction().toSet == before,
      "a library call changed the session's function registry")
  }

  test("q3_window_topk: top-k pushes down to WindowGroupLimit on both sides of the exchange") {
    // rk <= 3 over row_number lets Spark cut each partition to its top
    // 3 rows per supplier before the shuffle (Partial) and again after
    // it (Final), so the exchange carries at most 3 rows per supplier
    // per map task instead of every lineitem row
    val lines = planOf("q3_window_topk").linesIterator.toIndexedSeq
    def at(p: String => Boolean) = lines.indexWhere(p)
    val fin = at(l => l.contains("WindowGroupLimit") && l.contains("Final"))
    val part = at(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
    val exch = at(l => l.contains("Exchange hashpartitioning(l_suppkey"))
    assert(fin >= 0 && exch > fin && part > exch,
      s"expected Final above, Partial below the l_suppkey exchange:\n${lines.mkString("\n")}")
  }

  test("kg_communities: LPA argmax is an aggregation, not a window sort") {
    // the per-round argmax is min(struct(-cnt, label)) — map-side
    // combinable, so a hub's label votes pre-reduce per map task; a
    // row_number window would sort every vote inside one partition
    val plan = planOf("kg_communities")
    assert(!plan.contains("row_number"),
      s"LPA argmax regressed to a ranking window:\n$plan")
    assert(!plan.contains("Window"),
      s"LPA plan grew a window operator:\n$plan")
  }

  test("doc_bloom_contamination: bloom prefilter sits before the confirm join") {
    val plan = planOf("doc_bloom_contamination")
    // confirm semi-join must be broadcast (benchmark side is bounded)
    assert(plan.contains("BroadcastExchange"),
      s"exact-confirm side must broadcast:\n$plan")
    // the prefilter runs through Spark's native BloomFilterMightContain
    // (codegen), never a Scala UDF
    assert(plan.contains("might_contain"),
      s"bloom prefilter disappeared from the plan:\n$plan")
    assert(!plan.contains("ScalaUDF"),
      s"bloom prefilter regressed to a Scala UDF:\n$plan")
  }
}
