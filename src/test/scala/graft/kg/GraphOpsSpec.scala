package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Graph analytics over KG edge tables: bigram edge derivation, degree
  * accounting, PageRank against a hand-computed fixed point, BFS
  * min-distance semantics, and — the distributed-correctness property
  * the decimal-sum contract buys — bit-identical PageRank across
  * partition counts.
  */
class GraphOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def docs(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  def edges(es: (String, String)*) = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  test("bigramEdges: consecutive pairs with counts; no trailing-null or short-doc edges") {
    val e = GraphOps.bigramEdges(docs("a b a b c", "a", "", "b c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(e === Set(("a", "b", 2L), ("b", "a", 1L), ("b", "c", 2L)))
  }

  test("degrees: out/in over distinct edges, zero-filled on the missing side") {
    val d = GraphOps.degrees(edges(("a", "b"), ("a", "c"), ("b", "c")))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(d("a") === ((2L, 0L)))
    assert(d("b") === ((1L, 1L)))
    assert(d("c") === ((0L, 2L)))
  }

  test("pagerank: matches the hand-derived closed form on a 3-cycle plus sink") {
    // graph: a->b, b->a, a->c. c is dangling (mass leaks, documented).
    // N=3, pr0 = 1/3 each, d = 0.85.
    // iter1: contrib a = pr(b)/1 = 1/3; b = pr(a)/2; c = pr(a)/2
    //   pr1(a) = .05 + .85/3 ≈ .33333; pr1(b) = pr1(c) = .05 + .85/6
    val pr = GraphOps.pagerank(
        edges(("a", "b"), ("b", "a"), ("a", "c")), iters = 1)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val third = 1.0 / 3
    assert(math.abs(pr("a") - (0.15 / 3 + 0.85 * third)) < 1e-9)
    assert(math.abs(pr("b") - (0.15 / 3 + 0.85 * (third / 2))) < 1e-9)
    assert(pr("b") === pr("c"))
  }

  test("pagerank: rank mass is conserved (no dangling nodes) and hubs outrank leaves") {
    // star into hub h from l1..l4, plus h->l1 so every node has out-edges
    val e = edges(("l1", "h"), ("l2", "h"), ("l3", "h"), ("l4", "h"), ("h", "l1"))
    val pr = GraphOps.pagerank(e, iters = 10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-6)
    assert(pr("h") > pr("l2") * 3)
    assert(pr("l1") > pr("l2")) // l1 receives the hub's mass
  }

  test("pagerank: bit-identical across partition counts (decimal-sum determinism)") {
    val base = docs(
      "a b c a d e b f g a", "c a d b e f", "g a b c d", "f e d c b a")
    val e1 = GraphOps.bigramEdges(base.repartition(1))
    val e7 = GraphOps.bigramEdges(base.repartition(7))
    val r1 = GraphOps.pagerank(e1, iters = 4)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val r7 = GraphOps.pagerank(e7, iters = 4)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(r1 === r7) // exact ==, not tolerance: the decimal-sum contract
  }

  test("weighted pagerank: outgoing rank splits by edge weight, not uniformly") {
    import spark.implicits._
    // a->b w=3, a->c w=1 (3:1 split), b->a w=1, c->a w=1
    val e = Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "a", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "weight")
    val pr = GraphOps.pagerank(e, iters = 1, weighted = true)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val third = 1.0 / 3
    assert(math.abs(pr("a") - (0.15 / 3 + 0.85 * (third + third))) < 1e-9)
    assert(math.abs(pr("b") - (0.15 / 3 + 0.85 * (third * 3 / 4))) < 1e-9)
    assert(math.abs(pr("c") - (0.15 / 3 + 0.85 * (third * 1 / 4))) < 1e-9)
    assert(pr("b") > pr("c")) // the heavier edge carries more mass
  }

  test("personalized pagerank: reset mass stays near the seed; distant nodes get zero") {
    // chain a->b->c->d->a (cycle). Seeded at a: after 1 iteration only
    // a (reset) and b (a's walk) hold mass; d holds 0.
    val e = edges(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
    val pr1 = GraphOps.pagerank(e, iters = 1, seeds = Some(Seq("a")))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(pr1("a") === 0.15)           // pure reset mass
    assert(math.abs(pr1("b") - 0.85) < 1e-9) // the whole walk mass
    assert(pr1("c") === 0.0 && pr1("d") === 0.0)
    // more iterations: mass propagates around the cycle, total stays 1
    val pr3 = GraphOps.pagerank(e, iters = 3, seeds = Some(Seq("a")))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(math.abs(pr3.values.sum - 1.0) < 1e-9)
    assert(pr3("a") > pr3("c"))
  }

  test("dangling redistribution: mass conserved; closed form on the 3-cycle plus sink") {
    // a->b, b->a, a->c: c is dangling. DM_0 = pr0(c) = 1/3, so each
    // node's receive gains DM/N = 1/9 on top of the leak-mode closed
    // form — and total rank stays exactly 1 per iteration.
    val e = edges(("a", "b"), ("b", "a"), ("a", "c"))
    val third = 1.0 / 3
    val pr = GraphOps.pagerank(e, iters = 1,
        danglingRedistribute = true)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(math.abs(pr("a") - (0.15 / 3 + 0.85 * (third + third / 3))) < 1e-9)
    assert(math.abs(pr("b") - (0.15 / 3 + 0.85 * (third / 2 + third / 3))) < 1e-9)
    assert(pr("b") === pr("c"))
    val pr5 = GraphOps.pagerank(e, iters = 5,
        danglingRedistribute = true)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(math.abs(pr5.values.sum - 1.0) < 1e-9,
      s"dangling mode must conserve rank mass, got ${pr5.values.sum}")
    // leak mode (the oracle default) keeps shrinking on the same graph
    val leak = GraphOps.pagerank(e, iters = 5)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(leak.values.sum < 0.9)
  }

  test("personalized + dangling: mass conserved ON the seed support, not leaked uniformly") {
    // a->b->c, c dangling; seeded at a. Leak-mode PPR loses c's mass
    // every round; dangling mode folds it back into the SEED (a), so
    // total mass stays 1 and a non-walk node like a fresh 'd' (only
    // reachable via d->a edge's source side) never receives reset mass.
    val e = edges(("a", "b"), ("b", "c"), ("d", "a"))
    val pr = GraphOps.pagerank(e, iters = 6,
        seeds = Some(Seq("a")), danglingRedistribute = true)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-8,
      s"seeded dangling mode must conserve mass, got ${pr.values.sum}")
    // d: not the seed, no in-edges -> rank exactly 0 at every iteration
    assert(pr("d") === 0.0)
    // leak mode on the same graph keeps shrinking
    val leak = GraphOps.pagerank(e, iters = 6,
        seeds = Some(Seq("a")))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(leak.values.sum < 0.9)
  }

  test("dangling redistribution: bit-identical across partition counts") {
    val base = docs(
      "a b c a d e b f g a", "c a d b e f", "g a b c d", "f e d c b a")
    def run(parts: Int) = GraphOps.pagerank(
        GraphOps.bigramEdges(base.repartition(parts))
          .filter(col("src") =!= "a"), // planted dangling hub
        iters = 3, danglingRedistribute = true)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(run(1) === run(7))
  }

  test("pagerank over an empty edge set returns no rows in every mode") {
    val none = edges()
    for (dangling <- Seq(false, true); seeds <- Seq(None, Some(Seq("a"))))
      assert(GraphOps.pagerank(none, seeds = seeds,
        danglingRedistribute = dangling).isEmpty)
  }

  test("dangling pagerank reads N and each DM_t off its own checkpoints") {
    val e = edges(("a", "b"), ("b", "a"), ("a", "c"), ("b", "d"), ("d", "c"))
    var pr = spark.emptyDataFrame
    val jobs = TestSpark.jobsIn {
      pr = GraphOps.pagerank(e, iters = 3, danglingRedistribute = true)
    }
    // edge x outdeg, node set and three iterations: each a checkpoint of
    // its shuffles, with no count and no per-iteration DM aggregate
    assert(jobs == 17)
    assert(math.abs(pr.agg(sum("rank")).head().getDouble(0) - 1.0) < 1e-9)
  }

  test("triangles: counts per node on K4 minus an edge; hub orientation safe") {
    // K4 on {a,b,c,d} minus edge (c,d): triangles abc and abd only.
    // a and b sit on 2 each; c and d on 1 each. Edges given DIRECTED
    // and with a duplicate + self-loop to exercise normalization.
    val e = edges(("a", "b"), ("b", "a"), ("a", "c"), ("c", "b"),
      ("a", "d"), ("d", "b"), ("a", "a"))
    val t = GraphOps.triangles(spark, e)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(t === Map("a" -> 2L, "b" -> 2L, "c" -> 1L, "d" -> 1L))
  }

  test("triangles: triangle-free graph returns no rows") {
    val e = edges(("a", "b"), ("b", "c"), ("c", "d")) // path: no triangles
    assert(GraphOps.triangles(spark, e).count() === 0L)
  }

  test("shortestPaths: min-plus relaxation takes the cheaper 2-hop route") {
    import spark.implicits._
    // s->a (10), s->b (1), b->a (2): dist(a)=3 via b, not 10 direct
    val e = Seq(("s", "a", 10L), ("s", "b", 1L), ("b", "a", 2L))
      .toDF("src", "dst", "weight")
    val d = GraphOps.shortestPaths(spark, e, "s", iters = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(d === Map("s" -> 0L, "a" -> 3L, "b" -> 1L))
    // one round only: the 2-hop relaxation hasn't propagated yet
    val d1 = GraphOps.shortestPaths(spark, e, "s", iters = 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(d1("a") === 10L)
  }

  test("shortestPaths: delta relaxation joins only the improved frontier per round") {
    import spark.implicits._
    // chain s->n1->n2->...->n6 plus a dense already-settled blob around
    // s: after round h the frontier is exactly the one new chain node,
    // NOT the whole visited set
    val chain = (0 until 6).map(i =>
      (if (i == 0) "s" else s"n$i", s"n${i + 1}", 1L))
    val blob = Seq(("s", "b1", 1L), ("s", "b2", 1L), ("s", "b3", 1L))
    val e = (chain ++ blob).toDF("src", "dst", "weight")
    val sizes = scala.collection.mutable.ArrayBuffer[Long]()
    val d = GraphOps.shortestPathsWithFrontier(spark, e, "s", 5, sizes)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(d("n5") === 5L && d("b2") === 1L)
    // round 1 relaxes {s}; round 2 relaxes the 4 newly-reached nodes;
    // every later round relaxes exactly ONE node (the chain tip) —
    // the visited set (4 + round) never re-enters the join
    assert(sizes.toSeq === Seq(1L, 4L, 1L, 1L, 1L))
  }

  test("labelPropagation: two cliques bridged by one edge settle into two communities") {
    // triangle {a1,a2,a3} + triangle {b1,b2,b3} + bridge a3-b1
    val e = edges(("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
      ("b1", "b2"), ("b2", "b3"), ("b1", "b3"), ("a3", "b1"))
    val l = GraphOps.labelPropagation(spark, e, rounds = 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    // min-label tie-break pulls each clique to its smallest member
    assert(Set("a1", "a2", "a3").map(l) === Set("a1"))
    assert(l("b2") === l("b3"))
    // community count: the a-clique and the b-clique never merge (the
    // bridge is outvoted by each side's two clique neighbors)
    assert(l.values.toSet.size >= 2)
  }

  test("labelPropagation: deterministic across partition counts") {
    val base = docs(
      "a b c a d e b f g a", "c a d b e f", "g a b c d", "f e d c b a")
    val l1 = GraphOps.labelPropagation(spark,
        GraphOps.bigramEdges(base.repartition(1)), rounds = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val l7 = GraphOps.labelPropagation(spark,
        GraphOps.bigramEdges(base.repartition(7)), rounds = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(l1 === l7)
  }

  test("nhop: min-distance BFS; unreachable nodes absent; seeds at 0") {
    // chain a->b->c->d plus shortcut a->c
    val e = edges(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"))
    val d = GraphOps.nhop(spark, e, Seq("a"), hops = 2)
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(d === Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2))
    // isolated seed still reported at dist 0
    val d2 = GraphOps.nhop(spark, e, Seq("zz"), hops = 2)
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(d2 === Map("zz" -> 0))
  }
}
