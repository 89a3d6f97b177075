package graft.registry

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables.table
import Fixtures.plantedSentences

/** Graph registry queries (`graft.kg.GraphOps`, `graft.kg.Canonicalize`).
  * All but two run on the token co-occurrence graph (the TextRank
  * shape) derived from `documents`, which DuckDB can rebuild exactly —
  * the operators themselves are edge-table generic and serve the
  * canonical entity graph identically; `kg_entity_pagerank` runs on
  * that entity graph and `kg_canonicalize` on the vocabulary.
  */
object GraphQueries {

  /** Token co-occurrence edge CTE `edges` shared by the graph-analytics
    * oracles — DuckDB's list_zip/slice replica of GraphOps.bigramEdges'
    * shift-and-zip — or, with `pred`, only the edges it keeps (the
    * planted dangling-node variant for `kg_pagerank_dangling`).
    */
  private def graphEdgesCte(pred: Option[String] = None): String = {
    val name = if (pred.isEmpty) "edges" else "edges0"
    s"""WITH toks AS (SELECT STRING_SPLIT(text, ' ') AS w FROM documents),
       |pairs AS (SELECT UNNEST(LIST_ZIP(w, w[2:])) AS z FROM toks),
       |$name AS (SELECT z[1] AS src, z[2] AS dst, COUNT(*) AS weight
       |  FROM pairs WHERE z[2] IS NOT NULL GROUP BY 1, 2)""".stripMargin +
      pred.fold("")(p => s",\nedges AS (SELECT * FROM edges0 WHERE $p)")
  }

  /** Closed-form page→entity edge table for `kg_entity_pagerank`: the
    * kg_triples plant (docs with ≥7 tokens mention 'zzjohn zzdoe',
    * ≥21 also 'zzann'). The two names' padded 3-gram sets share only
    * " zz" (Jaccard 1/15, distance ≈ 0.93, far above the 0.3 link
    * threshold), so both are singleton entities and obj_entity is the
    * FNV-1a constant the generator computes — the same closed-form
    * device as the planted ANN oracles.
    */
  private def entityEdgesCte: String = {
    val e1 = f"person:${graft.kg.Canonicalize.nameId("zzjohn zzdoe")}%016x"
    val e2 = f"person:${graft.kg.Canonicalize.nameId("zzann")}%016x"
    s"""WITH d AS (
       |  SELECT doc_id, source, LEN(STRING_SPLIT(text, ' ')) AS n
       |  FROM documents),
       |edges AS (
       |  SELECT 'doc://' || source || '/' || doc_id AS src,
       |    '$e1' AS dst, 1 AS weight FROM d WHERE n >= 7
       |  UNION ALL
       |  SELECT 'doc://' || source || '/' || doc_id AS src,
       |    '$e2' AS dst, 1 AS weight FROM d WHERE n >= 21)""".stripMargin
  }

  /** Unrolled fixed-iteration PageRank replica of GraphOps.pagerank:
    * same per-iteration double ops in the same association, the same
    * round-to-12dp, and the same exact DECIMAL(38,15) contribution sum,
    * so the two engines agree bit-for-bit. (1.0-0.85) is spelled as a
    * SUBTRACTION, not the literal 0.15 — IEEE 1.0-0.85 is NOT the
    * nearest double to 0.15, and the Scala side computes the
    * subtraction.
    */
  private def pagerankOracle(iters: Int,
      seeds: Option[Seq[String]] = None,
      weighted: Boolean = false,
      dangling: Boolean = false,
      edgesCte: String = graphEdgesCte()): String = {
    // the engine folds dangling mass into the SEED distribution when
    // seeds are given (topic-sensitive formulation); recvSql below
    // always redistributes DM/N uniformly — registering a seeded
    // dangling oracle through this generator would silently diverge,
    // so refuse the combination until recvSql is seed-aware
    require(seeds.isEmpty || !dangling,
      "pagerankOracle: seeded dangling mode not replicated (engine " +
        "concentrates DM on the seed set; this SQL redistributes " +
        "uniformly) — make recvSql seed-aware before registering one")
    val odExpr = if (weighted) "SUM(weight)" else "COUNT(*)"
    val shareExpr =
      if (weighted) "p.rank * e.weight/od.outdeg" else "p.rank/od.outdeg"
    // uniform: base = (1-d)/N, init = 1/N; personalized: both
    // concentrate on the seed set — same expression SHAPES the Scala
    // side computes, so the IEEE doubles agree bit-for-bit
    val (baseSql, initSql) = seeds match {
      case None =>
        ("(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))/nn.n",
          "CAST(1.0 AS DOUBLE)/(SELECT n FROM nn)")
      case Some(s) =>
        val inList = s.distinct.map("'" + _ + "'").mkString(", ")
        val nS = s.distinct.size
        (s"CASE WHEN n.node IN ($inList) THEN " +
          s"(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))/$nS " +
          "ELSE CAST(0.0 AS DOUBLE) END",
          s"CASE WHEN node IN ($inList) THEN CAST(1.0 AS DOUBLE)/$nS " +
            "ELSE CAST(0.0 AS DOUBLE) END")
    }
    // dangling mode: one exact-decimal scalar CTE per iteration (the
    // rank parked on out-degree-0 nodes), folded into the update the
    // same way GraphOps.pagerank's step does: d * (recv + DM/N)
    val recvSql =
      if (dangling)
        "(CAST(COALESCE(s.c, 0) AS DOUBLE) + CAST(dm%d.dm AS DOUBLE)/nn.n)"
      else "CAST(COALESCE(s.c, 0) AS DOUBLE)"
    val its = (1 to iters).map { i =>
      val dmCte = if (dangling)
        s"""dm$i AS (
           |  SELECT COALESCE(SUM(CAST(p.rank AS DECIMAL(38,15))),
           |    CAST(0 AS DECIMAL(38,15))) AS dm
           |  FROM pr${i - 1} p WHERE p.node NOT IN (SELECT src FROM od)),
           |""".stripMargin
      else ""
      val dmJoin = if (dangling) s" CROSS JOIN dm$i" else ""
      s"""${dmCte}pr$i AS (
         |  SELECT n.node,
         |    ROUND($baseSql +
         |      CAST(0.85 AS DOUBLE) * ${recvSql.format(i)}, 12) AS rank
         |  FROM nodes n CROSS JOIN nn$dmJoin
         |  LEFT JOIN (
         |    SELECT e.dst,
         |      SUM(CAST(ROUND($shareExpr, 12) AS DECIMAL(38,15))) AS c
         |    FROM edges e JOIN od USING (src) JOIN pr${i - 1} p ON p.node = e.src
         |    GROUP BY e.dst) s ON s.dst = n.node)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
       |od AS (SELECT src, $odExpr AS outdeg FROM edges GROUP BY src),
       |pr0 AS (SELECT node, $initSql AS rank
       |        FROM nodes),
       |$its
       |SELECT node, ROUND(rank, 10) AS rank FROM pr$iters ORDER BY node""".stripMargin
  }

  /** Unrolled fixed-iteration Bellman-Ford replica of
    * GraphOps.shortestPaths: min-plus over BIGINT weights, one
    * relax-and-merge CTE per round.
    */
  private def bellmanFordOracle(source: String, iters: Int): String = {
    val its = (1 to iters).map { i =>
      s"""d$i AS (SELECT node, MIN(dist) AS dist FROM (
         |  SELECT * FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.dst AS node, p.dist + e.weight AS dist
         |  FROM edges e JOIN d${i - 1} p ON e.src = p.node) GROUP BY node)"""
        .stripMargin
    }.mkString(",\n")
    s"""${graphEdgesCte()},
       |d0 AS (SELECT '$source' AS node, CAST(0 AS BIGINT) AS dist),
       |$its
       |SELECT node, dist FROM d$iters ORDER BY node""".stripMargin
  }

  /** Unrolled synchronous label-propagation replica of
    * GraphOps.labelPropagation: same undirected expansion, the same
    * (count desc, label asc) argmax per round.
    */
  private def lpaOracle(rounds: Int): String = {
    val its = (1 to rounds).map { i =>
      s"""c$i AS (SELECT nb.node, l.label, COUNT(*) AS cnt
         |  FROM nb JOIN l${i - 1} l ON l.node = nb.nbr GROUP BY 1, 2),
         |l$i AS (SELECT node, label FROM (
         |  SELECT node, label, ROW_NUMBER() OVER (
         |    PARTITION BY node ORDER BY cnt DESC, label ASC) AS rk
         |  FROM c$i) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""${graphEdgesCte()},
       |und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
       |        FROM edges WHERE src <> dst),
       |nb AS (SELECT u AS nbr, v AS node FROM und
       |       UNION ALL SELECT v AS nbr, u AS node FROM und),
       |l0 AS (SELECT DISTINCT node, node AS label FROM nb),
       |$its
       |SELECT node, label FROM l$rounds ORDER BY node""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    // Canonicalization oracled (connected components + canonical
    // election): the vocabulary as a names table, links = consecutive
    // same-first-letter tokens in sorted order, so every CC is exactly a
    // first-letter group — closed-form in SQL. Election = max(support,
    // name) per component, aliases and support aggregated by one
    // groupBy on the component.
    Query("kg_canonicalize", (s, dir) => {
      val names = table(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("name"))
        .filter(length(col("name")) > 0)
        .groupBy("name").agg(count(lit(1)).as("support"))
      val w = Window.orderBy("name") // 31-term vocab: tiny single window
      val links = names
        .withColumn("prev", lag(col("name"), 1).over(w))
        .filter(col("prev").isNotNull &&
          substring(col("prev"), 1, 1) === substring(col("name"), 1, 1))
        .select(col("prev").as("name_a"), col("name").as("name_b"))
      val membership = graft.kg.Canonicalize.components(links)
      graft.kg.Canonicalize.entities(names, membership)
        .select(col("canonical_name"),
          size(col("aliases")).cast("long").as("n_aliases"),
          col("support"))
        .orderBy("canonical_name")
    }, """WITH v AS (
        |  SELECT tkn AS name, COUNT(*) AS support FROM (
        |    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tkn FROM documents)
        |  WHERE LENGTH(tkn) > 0 GROUP BY tkn),
        |g AS (SELECT substr(name, 1, 1) AS grp, name, support FROM v),
        |ranked AS (
        |  SELECT grp, name,
        |    ROW_NUMBER() OVER (PARTITION BY grp
        |      ORDER BY support DESC, name DESC) AS rn
        |  FROM g),
        |agg AS (
        |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_aliases,
        |    CAST(SUM(support) AS BIGINT) AS support
        |  FROM g GROUP BY grp)
        |SELECT r.name AS canonical_name, a.n_aliases, a.support
        |FROM ranked r JOIN agg a USING (grp) WHERE r.rn = 1
        |ORDER BY canonical_name""".stripMargin),

    // degree distribution: per-node out/in degree over distinct edges
    Query("kg_degrees", (s, dir) => {
      graft.kg.GraphOps.degrees(
          graft.kg.GraphOps.bigramEdges(table(s, dir, "documents")))
        .orderBy("node")
    }, s"""${graphEdgesCte()},
         |o AS (SELECT src AS node, COUNT(*) AS out_deg FROM edges GROUP BY 1),
         |i AS (SELECT dst AS node, COUNT(*) AS in_deg FROM edges GROUP BY 1)
         |SELECT COALESCE(o.node, i.node) AS node,
         |  CAST(COALESCE(out_deg, 0) AS BIGINT) AS out_deg,
         |  CAST(COALESCE(in_deg, 0) AS BIGINT) AS in_deg
         |FROM o FULL OUTER JOIN i ON o.node = i.node ORDER BY node""".stripMargin),

    // fixed-iteration PageRank, bit-reproducible at any parallelism
    // (decimal-summed contributions; see GraphOps.pagerank scaladoc)
    Query("kg_pagerank", (s, dir) => {
      graft.kg.GraphOps.pagerank(
          graft.kg.GraphOps.bigramEdges(table(s, dir, "documents")),
          iters = 3)
        .select(col("node"), round(col("rank"), 10).as("rank"))
        .orderBy("node")
    }, pagerankOracle(3)),

    // weighted PageRank (TextRank proper): outgoing rank split by
    // bigram co-occurrence count instead of uniformly
    Query("kg_pagerank_weighted", (s, dir) => {
      graft.kg.GraphOps.pagerank(
          graft.kg.GraphOps.bigramEdges(table(s, dir, "documents")),
          iters = 3, weighted = true)
        .select(col("node"), round(col("rank"), 10).as("rank"))
        .orderBy("node")
    }, pagerankOracle(3, weighted = true)),

    // personalized PageRank: reset mass concentrated on two seed
    // tokens — topic-sensitive salience, same decimal-sum determinism
    Query("kg_ppr", (s, dir) => {
      graft.kg.GraphOps.pagerank(
          graft.kg.GraphOps.bigramEdges(table(s, dir, "documents")),
          iters = 3, seeds = Some(Seq("spark", "query")))
        .select(col("node"), round(col("rank"), 10).as("rank"))
        .orderBy("node")
    }, pagerankOracle(3, seeds = Some(Seq("spark", "query")))),

    // per-node triangle counts (compact-forward: degree-ordered
    // orientation bounds wedge fan-out at hub nodes)
    Query("kg_triangles", (s, dir) => {
      graft.kg.GraphOps.triangles(
          graft.kg.GraphOps.bigramEdges(table(s, dir, "documents")))
        .orderBy("node")
    }, s"""${graphEdgesCte()},
         |und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
         |        FROM edges WHERE src <> dst),
         |tri AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v
         |  JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v),
         |n3 AS (SELECT a AS node FROM tri UNION ALL
         |       SELECT b FROM tri UNION ALL SELECT c FROM tri)
         |SELECT node, COUNT(*) AS n_triangles FROM n3
         |GROUP BY node ORDER BY node""".stripMargin),

    // deterministic label-propagation communities (min-label
    // tie-break; 2 synchronous rounds)
    Query("kg_communities", (s, dir) => {
      graft.kg.GraphOps.labelPropagation(
          graft.kg.GraphOps.bigramEdges(table(s, dir, "documents")),
          rounds = 2)
        .orderBy("node")
    }, lpaOracle(2)),

    // fixed-iteration Bellman-Ford from one source over bigram-count
    // weights (all-long min-plus relaxation — exact at any parallelism)
    Query("kg_shortest_path", (s, dir) => {
      graft.kg.GraphOps.shortestPaths(s,
          graft.kg.GraphOps.bigramEdges(table(s, dir, "documents")),
          sources = Seq("spark"), iters = 4)
        .orderBy("node")
    }, bellmanFordOracle("spark", 4)),

    // dangling-mass-redistributing PageRank (classic crawl-graph
    // semantics: rank parked on out-degree-0 nodes folds back each
    // iteration instead of leaking). The token graph has no natural
    // sinks, so a hub's out-edges are removed up front — 'spark'
    // becomes a planted dangling node that receives mass but emits
    // none; the oracle filters the same edge and adds one exact
    // decimal scalar CTE per iteration.
    Query("kg_pagerank_dangling", (s, dir) => {
      graft.kg.GraphOps.pagerank(
          graft.kg.GraphOps.bigramEdges(table(s, dir, "documents"))
            .filter(col("src") =!= "spark"),
          iters = 3, danglingRedistribute = true)
        .select(col("node"), round(col("rank"), 10).as("rank"))
        .orderBy("node")
    }, pagerankOracle(3, dangling = true,
      edgesCte = graphEdgesCte(Some("src <> 'spark'")))),

    // PageRank over the CANONICAL ENTITY graph — the pipeline's
    // `entity_rank` stage shape (Main.scala), end-to-end through the
    // REAL path: planted-mention extraction → gold mentions → triples
    // → name vocab → MinHash linking (Linker.candidatePairs, the links
    // stage's rule) → CC → canonical entities → canonicalEdges →
    // GraphOps.entityRank (dangling-redistributing PageRank over page
    // → obj_entity). The oracle
    // rebuilds the edge table in closed form (the kg_triples plant)
    // with the entity ids as generator-computed FNV constants, then
    // replays the same unrolled dangling PageRank.
    Query("kg_entity_pagerank", (s, dir) => {
      val sents = plantedSentences(s, dir, 31,
        Seq(5 -> "zzjohn", 6 -> "zzdoe", 20 -> "zzann"),
        Seq("zzjohn zzdoe", "zzann"))
      val mentions = graft.kg.Triples.goldMentions(s, sents)
      // materialize triples ONCE (the kg.Main pipeline persists them as
      // a stage): vocab and the canonical-edge join both consume this
      // frame, and without the eager checkpoint each consumer re-runs
      // the whole extraction kernel
      val triples = graft.kg.Triples.fromMentions(s, mentions)
        .localCheckpoint(true)
      val vocab = graft.kg.Linker.nameVocab(triples)
      val links = graft.kg.Linker.candidatePairs(vocab)
      val membership = graft.kg.Canonicalize.components(links)
      val nodes = graft.kg.Canonicalize.entities(vocab, membership)
      graft.kg.GraphOps.entityRank(
          graft.kg.Canonicalize.canonicalEdges(triples, nodes))
        .select(col("node"), round(col("rank"), 10).as("rank"))
        .orderBy("node")
    }, pagerankOracle(3, dangling = true,
      edgesCte = entityEdgesCte)),

    // 2-hop min-distance BFS from seed nodes: shortest paths over unit
    // weights, dist cast back to the INT hop count
    Query("kg_nhop", (s, dir) => {
      graft.kg.GraphOps.shortestPaths(s,
          graft.kg.GraphOps.bigramEdges(table(s, dir, "documents"))
            .withColumn("weight", lit(1L)),
          sources = Seq("spark", "query"), iters = 2)
        .select(col("node"), col("dist").cast("int").as("dist"))
        .orderBy("node")
    }, s"""${graphEdgesCte()},
         |seeds AS (SELECT UNNEST(['spark', 'query']) AS node),
         |d0 AS (SELECT DISTINCT node, 0 AS dist FROM seeds),
         |f1 AS (SELECT e.dst AS node, 1 AS dist FROM edges e
         |       JOIN d0 ON e.src = d0.node WHERE d0.dist = 0),
         |d1 AS (SELECT node, MIN(dist) AS dist FROM
         |       (SELECT * FROM d0 UNION ALL SELECT * FROM f1) GROUP BY node),
         |f2 AS (SELECT e.dst AS node, 2 AS dist FROM edges e
         |       JOIN d1 ON e.src = d1.node WHERE d1.dist = 1),
         |d2 AS (SELECT node, MIN(dist) AS dist FROM
         |       (SELECT * FROM d1 UNION ALL SELECT * FROM f2) GROUP BY node)
         |SELECT node, dist FROM d2 ORDER BY node""".stripMargin)
  )
}
