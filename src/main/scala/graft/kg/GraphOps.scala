package graft.kg

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

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
  * Determinism contract (the same one `registry.SqlQueries.dsum` uses): every
  * floating-point SUM in [[pagerank]] runs through exact DECIMAL
  * aggregation, so partial-aggregation order — which changes with
  * partition count — cannot change the result. PageRank here is
  * bit-reproducible across cluster sizes (the N vs 4N identical-output
  * evidence in BASELINE.md rests on exactly this property).
  */
object GraphOps {

  /** Directed token co-occurrence edges (w_i -> w_{i+1}) of the `text`
    * column with counts.
    * Shift-and-zip (`zip_with(w, slice(w, 2, n))`) builds the pairs
    * without a posexplode self-join; the only shuffle is the final
    * (src, dst) groupBy. zip_with pads the shorter side with NULL, so
    * the trailing (last_token, NULL) pair is filtered before explode —
    * single-token and empty docs contribute no edges.
    */
  def bigramEdges(docs: DataFrame): DataFrame = {
    val w = split(col("text"), " ")
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

  /** Fixed-iteration PageRank as co-partitioned rounds:
    *
    *   pr_0(v)   = 1/N
    *   pr_t+1(v) = round((1-d)/N + d * S_t(v), 12)
    *   S_t(v)    = Σ_{u→v} decimal(round(pr_t(u)/outdeg(u), 12))
    *
    * with damping d = 0.85.
    *
    * Dangling mass (nodes with no out-edges) is NOT redistributed —
    * total rank leaks by the dangling fraction per iteration. That is
    * a deliberate, documented semantics choice: it keeps each
    * iteration a single contribution join + one aggregation, and the
    * oracle replicates it exactly.
    *
    * Scale shape: the edges (src, dst, weight, outdeg) and the node set
    * are hash-partitioned ONCE, with one `HashPartitioner` of the
    * session's shuffle-partition count, and locally checkpointed; an
    * RDD keeps its partitioner through `localCheckpoint`, whereas a
    * DataFrame checkpoint under AQE reports `UnknownPartitioning`, so a
    * DataFrame loop would re-shuffle the rank side of every join. Per
    * round, partition i of the edges meets partition i of the ranks (a
    * narrow `zipPartitions`: every source of the edge partition is a
    * node of the rank partition), the contributions keyed by `dst` go
    * through the round's one shuffle, a map-side-combined `reduceByKey`
    * of exact decimals, and partition i of the sums meets partition i of
    * the nodes (narrow again). Hot dst nodes (celebrity entities) are
    * exactly the map-side-combine case: each map task pre-sums its
    * contributions, so a 10^8-in-degree node receives one row per map
    * task, not per edge.
    *
    * Jobs: one builds the edge and node checkpoints and counts N (and
    * the dangling nodes); leak mode then runs no job of its own, its
    * rounds running inside the caller's first action on the result. The
    * operator holds no session cache; its state and its result are
    * local checkpoints.
    *
    * Determinism: each per-value step is the arithmetic Spark's
    * expressions make: a contribution is rounded to 12 decimal places
    * (`BigDecimal.valueOf`, HALF_UP, as Spark's `round` on a double),
    * cast to DECIMAL(38,15) and summed exactly, so the order in which
    * partial sums meet (which changes with partition count) cannot
    * change a result; the sum becomes a double as Spark's
    * decimal-to-double cast makes it. The result is bit-identical at any
    * parallelism. DuckDB replicates the same arithmetic; `kg_pagerank`
    * is hash-oracled.
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
    * contribution = round(rank * w / Σw_out, 12), with Σw_out an
    * exact long sum. An unweighted edge weighs 1, and rank * 1.0 is
    * rank exactly, so both modes run one formula. Same determinism;
    * `kg_pagerank_weighted` is hash-oracled.
    *
    * `danglingRedistribute = true` folds the mass parked on
    * out-degree-0 nodes back in each iteration (classic PageRank on a
    * real crawl graph, where 20-30% of nodes are dangling and the
    * leak-by-default semantics shrink total rank per iteration):
    *
    *   pr_t+1(v) = round(base + d * (S_t(v) + DM_t / N), 12)
    *   DM_t      = Σ_{u: outdeg(u)=0} decimal(pr_t(u))
    *
    * DM_t is an exact DECIMAL(38,15) sum over the dangling nodes
    * (flagged once, when the node set is built), and the one job of
    * round t: it materializes round t's ranks and returns their
    * per-partition dangling sums. DM_0 sums one constant, so it is the
    * count of dangling nodes (dangling seeds, personalized) times that
    * constant's DECIMAL(38,15) cast, multiplied exactly on the driver.
    * With `seeds`, the dangling mass follows the reset distribution
    * (concentrated on the seed set — the standard topic-sensitive
    * formulation) instead of 1/N.
    * `kg_pagerank_dangling` is hash-oracled with the same
    * unrolled-CTE generator plus one scalar CTE per iteration. The
    * default stays the leak semantics (the oracle mode of the other
    * five pagerank queries).
    *
    * Nulls follow the join semantics of the SQL replica: a null `src`
    * or `dst` is a node, but an edge with a null end or a null weight
    * carries no rank.
    */
  def pagerank(edges: DataFrame, iters: Int = 3,
      seeds: Option[Seq[String]] = None,
      weighted: Boolean = false,
      danglingRedistribute: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    val damping = 0.85
    val seedSet: Option[Set[Any]] = seeds.map { s =>
      require(s.nonEmpty, "personalized pagerank needs ≥1 seed")
      s.toSet[Any]
    }
    val nodeType = edges.schema("src").dataType
    require(edges.schema("dst").dataType == nodeType,
      s"pagerank: src and dst differ in type ($nodeType, ${edges.schema("dst").dataType})")
    val part = new HashPartitioner(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val weight = if (weighted) col("weight").cast("long") else lit(1L)
    // every edge row, by src, with its source's out-weight
    val eo = edges.select(col("src"), col("dst"), weight).rdd
      .map(r => (r.get(0), (r.get(1), r.get(2).asInstanceOf[java.lang.Long])))
      .partitionBy(part)
      .mapPartitions(withOutWeight, preservesPartitioning = true)
      .localCheckpoint()
    // the node set, flagged with whether the node has out-edges; its
    // job also builds the edge checkpoint and counts N and the dangling
    // nodes that start with rank (all of them unseeded, the dangling
    // seeds personalized)
    val nodes = eo.flatMap(e => Iterator((e.src, true), (e.dst, false)))
      .reduceByKey(part, _ || _)
      .localCheckpoint()
    // the reset distribution, which the initial ranks and the dangling
    // mass follow too: uniform over all N nodes, or over the seed set
    // (spreading a PPR's dangling mass uniformly would leak rank to nodes
    // the personalization vector excludes)
    val inReset: Any => Boolean = v => seedSet.forall(_.contains(v))
    val (n, dangling) = spark.sparkContext.runJob(nodes,
        (it: Iterator[(Any, Boolean)]) => it.foldLeft((0L, 0L)) {
          case ((all, dng), (v, out)) =>
            (all + 1, if (!out && inReset(v)) dng + 1 else dng)
        })
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    val resetSize: Long = seedSet.fold(n)(_.size.toLong)
    val base = (1.0 - damping) / resetSize
    // DM_0: the initial rank of a dangling node that has one, times the
    // `dangling` count, exact on the driver
    var dm =
      if (dangling == 0L) java.math.BigDecimal.ZERO
      else toDecimal(1.0 / resetSize).multiply(java.math.BigDecimal.valueOf(dangling))
    var ranks = nodes.mapPartitions(_.map { case (v, out) =>
      (v, if (inReset(v)) 1.0 / resetSize else 0.0, out)
    }, preservesPartitioning = true)
    for (i <- 1 to iters) {
      // the edge partitions emit dst keys, so the zip must not claim
      // the src partitioner: reduceByKey would then skip its shuffle
      val sums = eo.zipPartitions(ranks, preservesPartitioning = false)(contributions)
        .reduceByKey(part, _ add _)
      val dmShare = dm.doubleValue / resetSize
      ranks = nodes.zipPartitions(sums, preservesPartitioning = true) { (ns, ss) =>
        val s = new java.util.HashMap[Any, java.math.BigDecimal]()
        ss.foreach { case (v, c) => s.put(v, c) }
        ns.map { case (v, out) =>
          val c = s.get(v)
          // Spark's decimal-to-double cast is the exact value's doubleValue
          val recv = if (c == null) 0.0 else c.doubleValue
          val mass =
            if (!danglingRedistribute) recv
            else recv + (if (inReset(v)) dmShare else 0.0)
          (v, round12((if (inReset(v)) base else 0.0) + damping * mass), out)
        }
      }
      // dangling mode materializes every round, whose job returns DM_t;
      // leak mode only the last, in the caller's first action
      if (danglingRedistribute || i == iters) ranks = ranks.localCheckpoint()
      if (danglingRedistribute)
        dm = spark.sparkContext.runJob(ranks,
            (it: Iterator[(Any, Double, Boolean)]) => it.foldLeft(java.math.BigDecimal.ZERO) {
              case (acc, (_, r, out)) => if (out) acc else acc.add(toDecimal(r))
            })
          .foldLeft(java.math.BigDecimal.ZERO)(_ add _)
    }
    spark.createDataFrame(ranks.map { case (v, r, _) => Row(v, r) },
      StructType(Seq(StructField("node", nodeType),
        StructField("rank", DoubleType))))
  }

  /** One edge row of [[pagerank]]: `outWeight` is the exact long sum of
    * the non-null weights of every row from `src`.
    */
  private final case class RankEdge(src: Any, dst: Any,
      weight: java.lang.Long, outWeight: Long)

  /** A src-partitioned edge partition with each row's out-weight: every
    * row of a source is in its partition.
    */
  private def withOutWeight(
      it: Iterator[(Any, (Any, java.lang.Long))]): Iterator[RankEdge] = {
    val rows = it.toArray
    val out = new java.util.HashMap[Any, java.lang.Long]()
    rows.foreach { case (s, (_, w)) =>
      if (w != null) out.merge(s, w, (a: java.lang.Long, b: java.lang.Long) => a + b)
    }
    rows.iterator.map { case (s, (d, w)) =>
      val o = out.get(s)
      RankEdge(s, d, w, if (o == null) 0L else o.longValue)
    }
  }

  /** (dst, decimal(round(rank(src) * weight / outWeight, 12))) for each
    * edge of a partition, against the ranks of the same partition.
    */
  private def contributions(es: Iterator[RankEdge],
      rs: Iterator[(Any, Double, Boolean)]): Iterator[(Any, java.math.BigDecimal)] = {
    val rank = new java.util.HashMap[Any, java.lang.Double]()
    rs.foreach { case (v, r, _) => rank.put(v, r) }
    es.collect { case e if e.src != null && e.dst != null && e.weight != null =>
      (e.dst, toDecimal(round12(rank.get(e.src) * e.weight.doubleValue / e.outWeight)))
    }
  }

  /** Spark's `round(x, 12)` on a double. */
  private def round12(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue

  /** Spark's cast of a double to DECIMAL(38,15). */
  private def toDecimal(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(15, java.math.RoundingMode.HALF_UP)

  /** Entity salience over a canonical edge table (`subj` page,
    * `obj_entity` entity): PageRank over the distinct page→entity
    * edges, 3 iterations. Entity nodes are pure sinks in this bipartite
    * graph, so the dangling mass is redistributed (total rank conserved
    * per iteration — the classic crawl-graph semantics; leak mode would
    * shrink every rank by the entity-mass fraction each round). kg.Main's
    * `entity_rank` stage and the `kg_entity_pagerank` query both rank
    * through here.
    */
  def entityRank(edges: DataFrame): DataFrame =
    pagerank(
      edges.select(col("subj").as("src"), col("obj_entity").as("dst")).distinct(),
      iters = 3, danglingRedistribute = true)

  /** The undirected simple graph of `edges` (direction and weight
    * dropped, self-loops removed) as distinct canonical (u < v) pairs.
    */
  private def undirected(edges: DataFrame): DataFrame =
    edges.select(col("src").as("a"), col("dst").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()

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
  def triangles(edges: DataFrame): DataFrame = {
    val und = undirected(edges)
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

  /** Fixed-iteration multi-source shortest paths (Bellman-Ford /
    * min-plus relaxation, the Pregel textbook shape) over weighted
    * edges (src, dst, weight:long): every node in `sources` starts at
    * distance 0, and each reached node's dist is its distance to the
    * nearest source. `iters` relaxation rounds bound the path length —
    * distances to nodes further than `iters` hops are not final
    * (documented; run V-1 rounds for the full fixed point). With unit
    * weights this is an `iters`-hop BFS from the source set.
    *
    * DELTA relaxation (the frontier/visited split every distributed BFS
    * uses): each round joins edges against only the nodes whose distance
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
  def shortestPaths(spark: SparkSession, edges: DataFrame, sources: Seq[String],
      iters: Int): DataFrame =
    shortestPathsWithFrontier(spark, edges, sources, iters, null)

  /** [[shortestPaths]] plus per-round frontier sizes appended to
    * `frontierSizes` (spec instrumentation; the extra count() actions
    * run only when the buffer is non-null).
    */
  private[graft] def shortestPathsWithFrontier(spark: SparkSession,
      edges: DataFrame, sources: Seq[String], iters: Int,
      frontierSizes: scala.collection.mutable.Buffer[Long]): DataFrame = {
    import spark.implicits._
    // checkpoint the edge table once for the loop: each round's merge
    // is an ACTION (localCheckpoint), so an unmaterialized `edges`
    // argument — often a full derivation like bigramEdges — would re-run
    // its scan + aggregation once per round (measured r8: 4 redundant
    // corpus scans in kg_shortest_path).
    val e = edges.select("src", "dst", "weight").localCheckpoint(true)
    var dist = sources.distinct.toDF("node").select(col("node"),
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
    * against the undirected edge list, one map-side-combinable
    * (node, label) count, then the per-node argmax as a
    * `min(struct(-cnt, label))` hash aggregation — (cnt desc, label
    * asc) by struct ordering — which is itself map-side combinable: a
    * hub node's label votes pre-reduce to one candidate per map task
    * instead of sorting inside a window partition (the same
    * argmax-not-sort upgrade as `langGuess`). All string/long ops —
    * exact at any parallelism; `kg_communities` is hash-oracled via
    * unrolled SQL.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    val und = undirected(edges)
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
}
