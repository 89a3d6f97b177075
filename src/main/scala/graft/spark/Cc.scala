package graft.spark

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders}
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
  * Implementation: a per-partition contraction, then DataFrame-native
  * ALTERNATING large-star / small-star rounds (Kiveris et al. 2014,
  * "Connected Components in MapReduce and Beyond") over what is left.
  * Each vertex is labeled with the smallest vertex id in its component.
  *
  *  - Contraction: the canonical distinct pairs are checkpointed once,
  *    and the same job runs a union-find over each partition's pairs
  *    (state: one partition's vertices). Each local component becomes
  *    a star `(min, member)`, the min itself included, so a vertex seen
  *    only in self-loops comes out as `(v, v)`. Stars span connected
  *    vertex sets, so connectivity, and with it the min-id labels, is
  *    unchanged.
  *  - One non-empty partition: its stars are already the global star
  *    forest, and the checkpoint IS the labeling. The job that
  *    checkpoints the pairs counts the partitions that emit, so this
  *    case costs no job beyond that one (AQE coalesces every small pair
  *    set to one partition, which is every call in the query suite and
  *    the pipeline benchmark).
  *  - Several partitions: the contracted stars overlap across
  *    partitions, so the star-forest test runs once on them, and then
  *    after every round. A round is one large-star + small-star pass
  *    whose min aggregations are MAP-SIDE COMBINABLE, so a 10^6-degree
  *    hub's neighborhood min pre-reduces per map task; skew in the emit
  *    join (a hot node fanning its edges back out) is AQE skew-join
  *    territory. Convergence takes O(log n) rounds.
  *
  * Job counts under AQE: on one non-empty partition, only the pairs'
  * shuffle and checkpoint jobs (an empty edge set: the checkpoint job at
  * most); otherwise each round adds a checkpoint of its shuffles, each
  * star-forest test an exchange or two and its `isEmpty`, and the
  * labeling one more join and checkpoint.
  *
  * NOTE: the pairs' checkpoint is an action — calling this EXECUTES
  * the upstream pipeline that produced `edges` immediately; it is not a
  * lazily-composable DataFrame transform.
  */
object Cc {

  /** Connected components over undirected edge pairs, a DataFrame with
    * long columns `a` and `b`.
    *
    * @param maxIter round bound — each round is one large-star +
    *   small-star pass (a handful of small Spark jobs); the loop exits
    *   EARLY as soon as the edges form a star forest, so this is a
    *   worst-case bound, not a cost. Components still unconverged at
    *   maxIter SPLIT (several labels, each a member of the component —
    *   never a wrong merge), exactly the old Pregel-bound contract.
    * @return (id, component) — component is the smallest vertex id in
    *   the component, i.e. the min-id election both consumers want.
    */
  def components(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val pairEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val emitting = edges.sparkSession.sparkContext.longAccumulator
    // the canonical (u <= v) distinct pairs, contracted per partition and
    // checkpointed ONCE: the upstream pipeline that produced `edges`
    // (e.g. the whole MinHash-LSH pass) executes exactly one time
    val stars = edges
      .select(least(col("a"), col("b")), greatest(col("a"), col("b")))
      .distinct()
      .as(pairEnc)
      .mapPartitions { it =>
        if (it.hasNext) emitting.add(1L)
        contract(it)
      }(pairEnc)
      .toDF("u", "v")
      .localCheckpoint(true)
    if (emitting.value <= 1L)
      stars.select(col("v").as("id"), col("u").as("component"))
    else {
      // every vertex is a member (v) of at least its own partition's star
      val nodes = stars.select(col("v").as("id")).distinct()
      var e = stars.filter(col("u") =!= col("v"))
      var converged = isStarForest(e)
      var round = 0
      // NOTE (measured r8): materializing each round with persist() and
      // letting the convergence check populate the cache looks like it
      // saves one job, but the compare join's probe side then CONTAINS
      // the cached plan as a subtree — the self-referential plan defeats
      // cache substitution and AQE reuse and blew the next round up
      // 30-50x. The eager localCheckpoint gives each round an opaque,
      // flat base; its extra job is small and scale-safe.
      while (!converged && round < maxIter) {
        e = smallStar(largeStar(e)).localCheckpoint(true)
        converged = isStarForest(e)
        round += 1
      }
      // At the fixpoint `e` is a star forest: (root=u, member=v) with
      // u the component min. Unconverged components are part-collapsed
      // stars — a member may point at an intermediate (still
      // in-component) node; min-merging per member keeps the
      // SPLIT-never-wrong-merge contract. Vertices with no surviving
      // edge label themselves.
      val labels = e.select(col("v").as("id"), col("u").as("component"))
        .groupBy("id").agg(min(col("component")).as("component"))
      nodes.join(labels, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("component"), col("id")).as("component"))
        .localCheckpoint(true)
    }
  }

  /** One partition's pairs as stars: a union-find whose root is always
    * the smaller id, then `(root, member)` for every vertex seen, the
    * root itself included.
    */
  private def contract(pairs: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    for ((u, v) <- pairs) {
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
    }
    parent.keys.toArray.iterator.map(x => (find(x), x))
  }

  /** `s` is converged exactly when it is a STAR FOREST: (a) no vertex
    * appears on both the root (u) and member (v) side, and (b) every
    * member appears exactly ONCE on the v side (a member with two roots
    * — reachable mid-run, e.g. SS of {(1,5),(2,6),(5,6)} =
    * {(1,5),(2,5),(2,6)} — passes (a) alone but is not yet collapsed).
    * A star forest is a fixpoint of both stars, and its labels are
    * exactly the min-id election. An empty `s` is a star forest.
    */
  private def isStarForest(s: DataFrame): Boolean = {
    val dupV = s.groupBy("v").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("v"))
    val rootAsMember = s.select(col("v"))
      .join(s.select(col("u").as("v")), Seq("v"), "left_semi")
    dupV.unionByName(rootAsMember).isEmpty
  }

  // large-star: every node connects its LARGER neighbors to the min of
  // its closed neighborhood (groupBy-min is map-side combinable; the
  // emit join fans the neighborhood back out). The emitted edge (y, m)
  // always has m < y (m <= x < y), so it is already canonical;
  // duplicates across emitting nodes are bounded by 2|E| and collapse in
  // small-star's aggregation — no distinct pass needed here.
  private def largeStar(in: DataFrame): DataFrame = {
    val nbrs = in.select(col("u").as("x"), col("v").as("y"))
      .union(in.select(col("v").as("x"), col("u").as("y")))
    val lmin = nbrs.groupBy("x").agg(min(col("y")).as("mn"))
      .select(col("x"), least(col("x"), col("mn")).as("m"))
    nbrs.join(lmin, "x")
      .filter(col("y") > col("x"))
      .select(col("m").as("u"), col("y").as("v")) // u < v by construction
  }

  // small-star: orient each edge large -> small; every node connects its
  // SMALLER neighbors (and itself) to their min. Emits canonical (m, y) /
  // (m, x) with m <= y < x; the (y == m) self-pair drops.
  private def smallStar(in: DataFrame): DataFrame = {
    val ori = in.select(col("v").as("x"), col("u").as("y")) // x > y
    val smin = ori.groupBy("x").agg(min(col("y")).as("m"))
    ori.join(smin, "x")
      .filter(col("m") =!= col("y"))
      .select(col("m").as("u"), col("y").as("v"))
      .union(smin.select(col("m").as("u"), col("x").as("v")))
      .distinct()
  }
}
