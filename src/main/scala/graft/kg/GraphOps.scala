package graft.kg

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType}

/** Graph analytics over the materialized KG edge tables — the query
  * layer a knowledge-graph construction pipeline feeds (north star:
  * "materializing node/edge Iceberg tables"; these operators consume
  * them). The reference repo stops at triple emission; ranking /
  * degree / reachability over the built graph is the standard next
  * query a KG serves, so it is implemented here as first-class
  * DataFrame operators with explicit shuffle accounting.
  *
  * All three operators take a generic `(src, dst)` edge DataFrame —
  * canonical entity edges from [[Canonicalize.canonicalEdges]], the
  * token co-occurrence graph from [[GraphOps.bigramEdges]] (the
  * TextRank shape, Mihalcea & Tarau 2004), or any edge table.
  *
  * Determinism contract (the same one `SparkEntry.dsum` uses): every
  * floating-point SUM in [[pagerank]] runs through exact DECIMAL
  * aggregation, so partial-aggregation order — which changes with
  * partition count — cannot change the result. PageRank here is
  * bit-reproducible across cluster sizes (the N vs 4N identical-output
  * evidence in BASELINE.md rests on exactly this property).
  */
object GraphOps {

  /** Directed token co-occurrence edges (w_i -> w_{i+1}) with counts.
    * Shift-and-zip (`zip_with(w, slice(w, 2, n))`) builds the pairs
    * without a posexplode self-join; the only shuffle is the final
    * (src, dst) groupBy. zip_with pads the shorter side with NULL, so
    * the trailing (last_token, NULL) pair is filtered before explode —
    * single-token and empty docs contribute no edges.
    */
  def bigramEdges(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val w = split(col(textCol), " ")
    val pairs = filter(
      zip_with(w, slice(w, lit(2), size(w)),
        (a, b) => struct(a.as("src"), b.as("dst"))),
      p => p.getField("dst").isNotNull)
    docs
      .select(explode(pairs).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("weight"))
  }

  /** Per-node out/in degree over the DISTINCT edge set (edges are
    * assumed deduplicated per (src, dst), as [[bigramEdges]] emits).
    * Two map-side-combinable groupBys + one full outer merge on node —
    * no row ever carries more than (node, long), so the shuffle is a
    * few bytes per node regardless of corpus size.
    */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Fixed-iteration PageRank as iterative DataFrame joins:
    *
    *   pr_0(v)   = 1/N
    *   pr_t+1(v) = round((1-d)/N + d * S_t(v), scale)
    *   S_t(v)    = Σ_{u→v} decimal(round(pr_t(u)/outdeg(u), scale))
    *
    * Dangling mass (nodes with no out-edges) is NOT redistributed —
    * total rank leaks by the dangling fraction per iteration. That is
    * a deliberate, documented semantics choice: it keeps each
    * iteration a single contribution join + one aggregation, and the
    * oracle replicates it exactly.
    *
    * Scale shape (per iteration): the edge⋈rank join shuffles only the
    * rank side — `eo` is partitioned on src ONCE and eagerly
    * localCheckpointed, and the checkpoint keeps that HashPartitioning,
    * so Catalyst reuses it across all iterations. The contribution
    * aggregation shuffles (dst, decimal) pairs — map-side combinable,
    * a few bytes per edge partition per reducer. Hot dst nodes
    * (celebrity entities) are exactly the partial-aggregation case:
    * each map task pre-sums its contributions, so a 10^8-in-degree
    * node receives one row per map task, not per edge.
    *
    * Materialization: the operator holds no session cache. Its state
    * (edge⋈outdeg, node set) and its result are eager localCheckpoints,
    * so a call neither reads nor invalidates the caller's cache entries.
    * N is not counted by a job of its own: the node-set checkpoint
    * observes it (an `Observation`, filled by that checkpoint's action).
    *
    * Determinism: contributions are rounded to `scale` decimal places
    * (an IEEE double op, identical everywhere), then summed as
    * DECIMAL(38,15) — exact, order-independent — so the result is
    * bit-identical at any parallelism. DuckDB replicates the same
    * arithmetic; `kg_pagerank` is hash-oracled.
    *
    * `seeds` switches to PERSONALIZED PageRank (topic-sensitive
    * salience — "entities important relative to THESE"): the reset
    * mass (1-d) concentrates uniformly on the seed set instead of
    * spreading 1/N everywhere, and the walk starts from the seeds.
    * Same arithmetic contract; `kg_ppr` is hash-oracled.
    *
    * `weighted = true` splits each node's outgoing rank proportionally
    * to the LONG `weight` edge column instead of uniformly (the
    * TextRank formulation — co-occurrence counts as transition mass):
    * contribution = round(rank * w / Σw_out, scale), with Σw_out an
    * exact long sum. Same determinism; `kg_pagerank_weighted` is
    * hash-oracled.
    *
    * `danglingRedistribute = true` folds the mass parked on
    * out-degree-0 nodes back in each iteration (classic PageRank on a
    * real crawl graph, where 20-30% of nodes are dangling and the
    * leak-by-default semantics shrink total rank per iteration):
    *
    *   pr_t+1(v) = round(base + d * (S_t(v) + DM_t / N), scale)
    *   DM_t      = Σ_{u: outdeg(u)=0} decimal(pr_t(u))
    *
    * DM_t is an exact DECIMAL(38,15) sum over the dangling node set
    * (flagged once, when the node set is built). It runs no job of its
    * own: iteration t's checkpoint action observes DM_t over its rank
    * rows, and iteration t+1 takes DM_t / N as a literal, converted to
    * double and divided exactly as the columns did it.
    * DM_0 sums one constant, so it is the node-set checkpoint's count
    * of dangling nodes (dangling seeds, personalized) times that
    * constant's DECIMAL(38,15) cast, multiplied exactly on the driver.
    * The bit-reproducibility contract holds unchanged. With `seeds`, the
    * dangling mass follows the reset distribution (concentrated on the
    * seed set — the standard topic-sensitive formulation) instead of
    * 1/N.
    * `kg_pagerank_dangling` is hash-oracled with the same
    * unrolled-CTE generator plus one scalar CTE per iteration. The
    * default stays the leak semantics (the oracle mode of the other
    * five pagerank queries).
    */
  def pagerank(edges: DataFrame, iters: Int = 3,
      damping: Double = 0.85, scale: Int = 12,
      seeds: Option[Seq[String]] = None,
      weighted: Boolean = false,
      danglingRedistribute: Boolean = false): DataFrame = {
    // edge ⋈ outdeg in ONE read of `edges` (typically a full derivation
    // such as bigramEdges): the out-degree is a window over the edges
    // hash-partitioned on src, and the checkpoint keeps that
    // partitioning (unless AQE coalesced it, i.e. at small sizes), so
    // each iteration's rank join shuffles the rank side only.
    val bySrc = Window.partitionBy("src")
    val eCols = if (weighted) Seq("src", "dst", "weight") else Seq("src", "dst")
    val eo = edges.select(eCols.map(col): _*)
      .withColumn("outdeg",
        if (weighted) sum(col("weight")).over(bySrc)
        else count(lit(1)).over(bySrc))
      .localCheckpoint(true)
    val seedSet = seeds.map { s =>
      require(s.nonEmpty, "personalized pagerank needs ≥1 seed")
      s.distinct
    }
    val inSeed = seedSet.map(s => col("node").isin(s: _*))
    // the node set off the checkpoint, which holds every edge, flagged
    // with whether the node has out-edges; its checkpoint action also
    // counts N and the dangling nodes that start with rank (all of them
    // unseeded, the dangling seeds personalized)
    val nodeCounts = Observation()
    val nodes = eo.select(col("src").as("node"), lit(true).as("has_out"))
      .union(eo.select(col("dst"), lit(false)))
      .groupBy("node").agg(max(col("has_out")).as("has_out"))
      .observe(nodeCounts, count(lit(1)).as("n"),
        count_if(!col("has_out") && inSeed.getOrElse(lit(true))).as("dangling"))
      .localCheckpoint(true)
    val n = nodeCounts.get("n").asInstanceOf[Long]
    val (base, init) = seedSet match {
      case None =>
        (lit((1.0 - damping) / n), lit(1.0 / n))
      case Some(s) =>
        val nS = s.size
        (when(inSeed.get, lit((1.0 - damping) / nS)).otherwise(lit(0.0)),
          when(inSeed.get, lit(1.0 / nS)).otherwise(lit(0.0)))
    }
    val dec = DecimalType(38, 15)
    // DM_t: the exact DECIMAL(38,15) sum of the ranks without out-edges
    val danglingSum = coalesce(sum(when(!col("has_out"), col("rank").cast(dec))),
      lit(java.math.BigDecimal.ZERO).cast(dec))
    // DM_0 sums one constant, the initial rank of a dangling node that
    // has one, over the `dangling` count: that count times the
    // constant's DECIMAL(38,15) cast, exact on the driver
    val dangling = nodeCounts.get("dangling").asInstanceOf[Long]
    val dm0 =
      if (dangling == 0L) java.math.BigDecimal.ZERO
      else Cast(Literal(seedSet.fold(1.0 / n)(s => 1.0 / s.size)), dec).eval()
        .asInstanceOf[Decimal].toJavaBigDecimal
        .multiply(java.math.BigDecimal.valueOf(dangling))
    def step(pr: DataFrame, dm: java.math.BigDecimal): DataFrame = {
      val share =
        if (weighted) col("rank") * col("weight") / col("outdeg")
        else col("rank") / col("outdeg")
      val contrib = eo.join(pr, eo("src") === pr("node"))
        .select(col("dst"),
          round(share, scale).cast(dec).as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      val recv = coalesce(col("s").cast("double"), lit(0.0))
      // dangling mass follows the RESET distribution: uniform 1/N
      // unseeded; concentrated on the seed set in personalized mode
      // (standard topic-sensitive PageRank — spreading a PPR's
      // dangling mass uniformly would leak rank to nodes the
      // personalization vector excludes). DM_t's `doubleValue` is the
      // conversion Spark's decimal-to-double cast makes, and the division
      // the same IEEE op a column would do.
      val mass =
        if (!danglingRedistribute) recv
        else recv + (seedSet match {
          case None => lit(dm.doubleValue / n)
          case Some(s) =>
            when(inSeed.get, lit(dm.doubleValue / s.size)).otherwise(lit(0.0))
        })
      nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          round(base + lit(damping) * mass, scale).as("rank"), col("has_out"))
    }
    // Dangling mode checkpoints every iteration, because that action
    // observes DM_t for the next step; the final ranks are checkpointed
    // in both modes. Values are unchanged — checkpointing is plan-only.
    var pr = nodes.select(col("node"), init.as("rank"), col("has_out"))
    var dm = dm0
    for (i <- 1 to iters) {
      pr = step(pr, dm)
      if (danglingRedistribute) {
        val dmT = Observation()
        pr = pr.observe(dmT, danglingSum.as("dm")).localCheckpoint(true)
        dm = dmT.get("dm").asInstanceOf[java.math.BigDecimal]
      } else if (i == iters) pr = pr.localCheckpoint(true)
    }
    pr.select("node", "rank")
  }

  /** Triangle count per node over the UNDIRECTED simple graph induced
    * by the edge list (direction and weight dropped, self-loops
    * removed). Classic compact-forward: orient every undirected edge
    * from the lower-(degree, node) endpoint to the higher one — each
    * triangle then has exactly ONE wedge of two out-edges at its
    * lowest vertex, so one wedge self-join + one edge-membership
    * semi-join counts each triangle once. The degree ordering is the
    * scale lever: a hub's edges all point INTO it, so the wedge join
    * fans out on low-degree vertices only — a 10^6-degree celebrity
    * node contributes ZERO wedges instead of 10^12.
    */
  def triangles(spark: SparkSession, edges: DataFrame): DataFrame = {
    // undirected simple edges as canonical (lo, hi) pairs
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient u->v iff (deg, name) of u < (deg, name) of v
    val du = deg.select(col("node").as("u"), col("deg").as("du"))
    val dv = deg.select(col("node").as("v"), col("deg").as("dv"))
    val oriented = und.join(du, "u").join(dv, "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    // wedges at the lowest-ordered vertex; close them against the
    // oriented edge set
    val w1 = oriented.select(col("s"), col("t").as("x"))
    val w2 = oriented.select(col("s"), col("t").as("y"))
    val wedges = w1.join(w2, "s").filter(col("x") < col("y"))
    val closed = wedges.join(
      oriented.select(col("s").as("x"), col("t").as("y"))
        .unionByName(oriented.select(col("t").as("x"), col("s").as("y"))),
      Seq("x", "y"), "left_semi")
    // per-node counts: each closed wedge (s, x, y) is one triangle on
    // all three vertices
    closed.select(explode(array(col("s"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Fixed-iteration single-source shortest paths (Bellman-Ford /
    * min-plus relaxation, the Pregel textbook shape) over weighted
    * edges (src, dst, weight:long). `iters` relaxation rounds bound
    * the path length — distances to nodes further than `iters` hops
    * are not final (documented; run V-1 rounds for the full
    * fixed point).
    *
    * DELTA relaxation (the same frontier/visited split as [[nhop]]):
    * each round joins edges against only the nodes whose distance
    * IMPROVED last round, not the whole dist table — a relaxation out
    * of a non-improved node was already applied the round it improved,
    * so re-relaxing it can only reproduce known bounds. Semantics are
    * identical to full Bellman-Ford at any `iters`; work per round is
    * O(frontier ⋈ edges), which on expander-ish graphs shrinks
    * geometrically once distances stabilize. The dist table is eagerly
    * checkpointed per round (it feeds both the min-merge and the
    * frontier diff, so un-checkpointed lineage would double per
    * round). All-long arithmetic — exact, order-independent, oracled
    * by unrolled SQL.
    */
  def shortestPaths(spark: SparkSession, edges: DataFrame, source: String,
      iters: Int): DataFrame =
    shortestPathsWithFrontier(spark, edges, source, iters, null)

  /** [[shortestPaths]] plus per-round frontier sizes appended to
    * `frontierSizes` (spec instrumentation; the extra count() actions
    * run only when the buffer is non-null).
    */
  private[graft] def shortestPathsWithFrontier(spark: SparkSession,
      edges: DataFrame, source: String, iters: Int,
      frontierSizes: scala.collection.mutable.Buffer[Long]): DataFrame = {
    import spark.implicits._
    // checkpoint the edge table once for the loop: each round's merge
    // is an ACTION (localCheckpoint), so an unmaterialized `edges`
    // argument — often a full derivation like bigramEdges — would re-run
    // its scan + aggregation once per round (measured r8: 4 redundant
    // corpus scans in kg_shortest_path).
    val e = edges.select("src", "dst", "weight").localCheckpoint(true)
    var dist = Seq(source).toDF("node").select(col("node"),
      lit(0L).as("dist"))
      .localCheckpoint(true)
    var frontier = dist
    for (_ <- 1 to iters) {
      if (frontierSizes != null) frontierSizes += frontier.count()
      val relaxed = e.join(frontier, e("src") === frontier("node"))
        .select(col("dst").as("node"),
          (col("dist") + col("weight")).as("dist"))
      val merged = dist.union(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .localCheckpoint(true)
      // next frontier: strictly-improved (or newly reached) nodes only
      frontier = merged.as("m")
        .join(dist.as("o"), col("m.node") === col("o.node"), "left")
        .filter(col("o.dist").isNull || col("m.dist") < col("o.dist"))
        .select(col("m.node").as("node"), col("m.dist").as("dist"))
      dist = merged
    }
    dist
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007, the deterministic variant) over the UNDIRECTED graph:
    * every node starts in its own community (label = own name); each
    * round it adopts the most frequent label among its neighbors,
    * breaking frequency ties by SMALLEST label — the determinism
    * device that makes the synchronous schedule reproducible and
    * SQL-replicable (classic LPA breaks ties randomly; any fixed
    * total order gives the same convergence guarantees).
    *
    * Scale shape per round: one join of the (node, label) table
    * against the undirected edge list (shuffles the label side — the
    * same rank-join shape as [[pagerank]]), one map-side-combinable
    * (node, label) count, then the per-node argmax as a
    * `min(struct(-cnt, label))` hash aggregation — (cnt desc, label
    * asc) by struct ordering — which is itself map-side combinable: a
    * hub node's label votes pre-reduce to one candidate per map task
    * instead of sorting inside a window partition (the same
    * argmax-not-sort upgrade as `langGuess`). All string/long ops —
    * exact at any parallelism; `kg_communities` is hash-oracled via
    * unrolled SQL.
    */
  def labelPropagation(spark: SparkSession, edges: DataFrame,
      rounds: Int): DataFrame = {
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    // every round reads the same neighbour table; the rounds compose
    // into ONE plan, whose identical `und` exchanges Spark reuses, and
    // the result is its one materialization
    val both = und.select(col("u").as("nbr"), col("v").as("node"))
      .unionByName(und.select(col("v").as("nbr"), col("u").as("node")))
    var labels = both.select(col("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      val counts = both.join(labels.withColumnRenamed("node", "nbr"), "nbr")
        .groupBy("node", "label").agg(count(lit(1)).as("cnt"))
      // min over struct(-cnt, label): largest count, ties to the
      // SMALLEST label — the deterministic synchronous-LPA tie-break
      labels = counts.groupBy("node")
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
          .as("b"))
        .select(col("node"), col("b.l").as("label"))
    }
    labels.localCheckpoint(true)
  }

  /** Minimum-distance BFS from `seeds`, out to `hops` edge hops.
    * Returns (node, dist) for every node reachable within `hops`
    * (seeds at dist 0). Frontier-only expansion: iteration h joins
    * edges against ONLY the dist=h-1 frontier (not the whole visited
    * set), then a min-merge collapses revisits — the same
    * frontier/visited split every distributed BFS uses, so work per
    * iteration is O(frontier ⋈ edges), not O(visited ⋈ edges).
    */
  def nhop(spark: SparkSession, edges: DataFrame, seeds: Seq[String],
      hops: Int): DataFrame = {
    import spark.implicits._
    var dist = seeds.toDF("node").distinct()
      .select(col("node"), lit(0).as("dist"))
    for (h <- 1 to hops) {
      val frontier = dist.filter(col("dist") === (h - 1))
      val next = edges.join(frontier, edges("src") === frontier("node"))
        .select(col("dst").as("node"), lit(h).as("dist"))
      dist = dist.union(next)
        .groupBy("node").agg(min(col("dist")).as("dist"))
    }
    dist
  }
}
