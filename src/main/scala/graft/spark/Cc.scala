package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one connected-components core shared by
  * `kg.Canonicalize.components` (entity canonicalization) and
  * `ops.Dedup.connectedKeepers` (near-dup clustering). Both consumers
  * previously inlined the same CC sequence; a single core keeps their
  * skew and convergence assumptions from drifting apart — in
  * particular the pairing-diameter contract: `Dedup.boundedBucketPairs`'
  * exponential chain offsets guarantee hot-bucket component diameter
  * <= ~log2(n), which is what makes the default `maxIter` here
  * sufficient for ONE label per degenerate bucket. Changing either
  * side means revisiting the other.
  *
  * Implementation (r8): DataFrame-native ALTERNATING large-star /
  * small-star (Kiveris et al. 2014, "Connected Components in MapReduce
  * and Beyond") replacing the GraphX Pregel core. Same fixpoint — each
  * vertex labeled with the smallest vertex id in its component — but:
  *
  *  - each round is two (groupBy-min + join + distinct) passes whose
  *    min aggregations are MAP-SIDE COMBINABLE, so a 10^6-degree hub's
  *    neighborhood min pre-reduces per map task (the Pregel core paid
  *    EdgePartition2D + full message shuffles per superstep instead);
  *  - convergence is O(log n) rounds on star-heavy graphs (near-dup
  *    clusters, entity alias groups ARE star-heavy) vs O(diameter)
  *    Pregel supersteps;
  *  - the plan runs under AQE: shuffle partitioning right-sizes to the
  *    live edge volume at every scale instead of a fixed RDD
  *    parallelism (guide §2.2/§2.4 — fewer, right-sized exchanges);
  *  - skew in the emit join (a hot node fanning its edges back out) is
  *    AQE skew-join territory, the DataFrame analog of the old
  *    EdgePartition2D policy.
  *
  * Measured (r8, sf0.1 suite): kg_canonicalize 9.0 s -> ~2 s,
  * doc_dedup_clusters 13.1 s -> ~5 s, with bit-identical output; the
  * n=10^6 one-keeper stress drops from 124.8 s (Pregel) likewise — see
  * OPTIMIZATION_r08.md.
  *
  * NOTE: the convergence loop runs its own actions — calling this
  * EXECUTES the upstream pipeline that produced `edges` immediately;
  * it is not a lazily-composable DataFrame transform (unchanged
  * contract).
  */
object Cc {

  /** Connected components over undirected edge pairs, a DataFrame with
    * long columns `a` and `b`.
    *
    * @param maxIter round bound — each round is one large-star +
    *   small-star pass (a handful of small Spark jobs); the loop exits
    *   EARLY as soon as the star forest stops changing, so this is a
    *   worst-case bound, not a cost. Components still unconverged at
    *   maxIter SPLIT (several labels, each a member of the component —
    *   never a wrong merge), exactly the old Pregel-bound contract.
    * @return (id, component) — component is the smallest vertex id in
    *   the component, i.e. the min-id election both consumers want.
    */
  def components(spark: SparkSession, edges: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // checkpoint the canonical (u <= v) distinct pairs ONCE: the
    // upstream pipeline that produced `edges` (e.g. the whole MinHash-LSH
    // pass) executes exactly one time, and both the node set and the
    // edge set below derive lazily from this one table
    val pairs = edges
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint(true)
    // node set: vertices that appear ONLY in self-loops must still be
    // emitted, labeled with themselves
    val nodes = pairs.select(col("u").as("id"))
      .union(pairs.select(col("v")))
      .distinct()
    // canonical undirected simple edges (u < v)
    var e = pairs.filter(col("u") =!= col("v"))
    // --- one alternating round, lazily composed -----------------------
    // large-star: every node connects its LARGER neighbors to the min
    // of its closed neighborhood (groupBy-min is map-side combinable;
    // the emit join fans the neighborhood back out). The emitted edge
    // (y, m) always has m < y (m <= x < y), so it is already canonical;
    // duplicates across emitting nodes are bounded by 2|E| and collapse
    // in small-star's aggregation — no distinct pass needed here.
    def largeStar(in: DataFrame): DataFrame = {
      val nbrs = in.select(col("u").as("x"), col("v").as("y"))
        .union(in.select(col("v").as("x"), col("u").as("y")))
      val lmin = nbrs.groupBy("x").agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m"))
      nbrs.join(lmin, "x")
        .filter(col("y") > col("x"))
        .select(col("m").as("u"), col("y").as("v")) // u < v by construction
    }
    // small-star: orient each edge large -> small; every node connects
    // its SMALLER neighbors (and itself) to their min. Emits canonical
    // (m, y) / (m, x) with m <= y < x; the (y == m) self-pair drops.
    def smallStar(in: DataFrame): DataFrame = {
      val ori = in.select(col("v").as("x"), col("u").as("y")) // x > y
      val smin = ori.groupBy("x").agg(min(col("y")).as("m"))
      ori.join(smin, "x")
        .filter(col("m") =!= col("y"))
        .select(col("m").as("u"), col("y").as("v"))
        .union(smin.select(col("m").as("u"), col("x").as("v")))
        .distinct()
    }
    var converged = e.isEmpty
    var round = 0
    // BATCHED rounds: two alternating rounds compose lazily into one
    // checkpointed job, then ONE set-equality action decides the exit —
    // halving the per-round action count (each action is a scheduled
    // job; on small graphs the fixed job cost dominates). Equality
    // across a batch still implies the true fixpoint: the alternating
    // algorithm converges from ANY reachable edge set (Kiveris et al.
    // Thm 1), so a period-2 cycle e_t -> e_{t+1} -> e_t with
    // e_{t+1} != e_t is impossible — e_{t+2} == e_t forces
    // e_{t+1} == e_t.
    // NOTE (measured r8): materializing each round with persist() and
    // letting the convergence check populate the cache looks like it
    // saves one job, but the compare join's probe side then CONTAINS
    // the cached plan as a subtree — the self-referential plan defeats
    // cache substitution and AQE reuse and blew the next round up
    // 30-50x. The eager localCheckpoint gives each round an opaque,
    // flat base; its extra job is small and scale-safe.
    while (!converged && round < maxIter) {
      val ss = smallStar(largeStar(e)).localCheckpoint(true)
      // Fixpoint test: `ss` is converged exactly when it is a STAR
      // FOREST — (a) no vertex appears on both the root (u) and member
      // (v) side, and (b) every member appears exactly ONCE on the v
      // side (a member with two roots — reachable mid-run, e.g. SS of
      // {(1,5),(2,6),(5,6)} = {(1,5),(2,5),(2,6)} — passes (a) alone
      // but is not yet collapsed). A star forest is a fixpoint of both
      // stars, and its labels are exactly the min-id election. This
      // violation-emptiness check is cheaper than whole-set equality
      // AND fires on the round convergence is reached instead of
      // needing a confirming no-change round — star-heavy graphs
      // (near-dup clusters, alias groups) finish in ONE round, one
      // action.
      val dupV = ss.groupBy("v").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).select(col("v"))
      val rootAsMember = ss.select(col("v"))
        .join(ss.select(col("u").as("v")), Seq("v"), "left_semi")
      converged = dupV.unionByName(rootAsMember).isEmpty
      e = ss
      round += 1
    }
    // At the fixpoint `e` is a star forest: (root=u, member=v) with
    // u the component min. Unconverged components are part-collapsed
    // stars — a member may point at an intermediate (still in-component)
    // node; min-merging per member keeps the SPLIT-never-wrong-merge
    // contract. Vertices with no surviving edge label themselves.
    val labels = e.select(col("v").as("id"), col("u").as("component"))
      .groupBy("id").agg(min(col("component")).as("component"))
    nodes.join(labels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
      .localCheckpoint(true)
  }
}
