package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dataset-card statistics over a corpus column — the summary every
  * training-data release ships (doc counts, token totals, length
  * quantiles).
  *
  * The quantiles are EXACT, computed distributively in TWO passes over
  * a range-partitioned sort:
  *  1. one (count, sum, min, max) tuple per partition to the driver —
  *     the same prefix-count shape as [[Packing]], and it carries the
  *     card's scalar aggregates for free (no separate scan whose
  *     lineage could diverge from the quantile pass);
  *  2. each requested probability becomes the two neighboring GLOBAL
  *     ranks (`r = p * (n-1)`, the linear-interpolation definition
  *     both Spark's `percentile` and DuckDB's `quantile_cont` use —
  *     which is what makes this oracle-able), and ONLY the partitions
  *     whose global index range contains a wanted rank run the fetch,
  *     each stopping at its last wanted row. At most 2 * |probs|
  *     scalars return.
  * The result is bit-comparable to DuckDB's `quantile_cont` (the
  * registry hash-checks it), and scalable in the sense that no
  * partition ever holds more than its share and the driver never sees
  * data — at the cost of a range-repartition + sort of the value
  * column.
  *
  * Lineage guard: a map-stage recomputation between the two jobs over
  * NONDETERMINISTIC input would shift ranks; the fetch fails fast when
  * a partition exhausts before its expected ranks (the shrink case).
  * A replay that GROWS a partition shifts ranks undetectably — as with
  * [[Packing]], deterministic input lineage is the documented
  * requirement.
  *
  * NOTE: like [[Packing.chunkAssignments]], calling these EXECUTES
  * Spark jobs immediately — not lazily-composable plans. Sums
  * accumulate in Double: integer-exact below 2^53, far above any real
  * token total.
  */
object CorpusStats {

  private final case class Summary(n: Long, sum: Double, min: Double,
      max: Double, quantiles: Map[Double, Double])

  private def summarize(spark: SparkSession, df: DataFrame,
      valueCol: String, probs: Seq[Double]): Summary = {
    import spark.implicits._
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      s"probabilities must be in [0, 1]: $probs")
    // cast FIRST, filter the casted column: a value that casts to null
    // (non-numeric string) must be ignored like any SQL aggregate
    // ignores it, not NPE the typed Dataset downstream
    val sorted = df
      .select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .repartitionByRange(col("v"))
      .sortWithinPartitions("v")
      .as[Double]
    val rdd = sorted.rdd
    // pass 1: Long count (Iterator.size is an Int — wraps at 2^31 rows
    // per partition) + the card scalars, one small tuple per partition
    val partAggs: Array[(Long, Double, Double, Double)] = rdd
      .mapPartitions { it =>
        var c = 0L; var s = 0.0
        var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
        it.foreach { v =>
          c += 1; s += v
          if (v < mn) mn = v
          if (v > mx) mx = v
        }
        Iterator((c, s, mn, mx))
      }
      .collect()
    val counts = partAggs.map(_._1)
    val n = counts.sum
    if (n == 0) return Summary(0L, 0.0, Double.NaN, Double.NaN, Map.empty)
    val starts: Array[Long] = counts.scanLeft(0L)(_ + _).dropRight(1)
    // global ranks whose values interpolation needs, grouped by the
    // partition that holds them (driver-side arithmetic only)
    val wanted: Seq[Long] = probs.flatMap { p =>
      val r = p * (n - 1)
      Seq(math.floor(r).toLong, math.ceil(r).toLong)
    }.distinct.sorted
    val byPart: Map[Int, Seq[Long]] = wanted.groupBy { r =>
      val i = java.util.Arrays.binarySearch(starts, r)
      // binarySearch may land on an EMPTY partition (counts 0 share
      // their successor's start) or an arbitrary duplicate; walk
      // forward to the partition that actually owns rank r
      var j = if (i >= 0) i else -i - 2
      while (r >= starts(j) + counts(j)) j += 1
      j
    }
    val fetchParts = byPart.keys.toArray.sorted
    val fetched: Array[Seq[(Long, Double)]] = spark.sparkContext.runJob(
      rdd,
      (ctx: org.apache.spark.TaskContext, it: Iterator[Double]) => {
        val i = ctx.partitionId()
        val locals = byPart(i).map(_ - starts(i))
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
        var idx = 0L
        var wi = 0
        while (wi < locals.length && it.hasNext) {
          val v = it.next()
          if (idx == locals(wi)) { out += ((starts(i) + idx, v)); wi += 1 }
          idx += 1
        }
        require(wi == locals.length,
          s"CorpusStats: partition $i exhausted before rank " +
            s"${locals(wi)} — input lineage changed between jobs")
        out.toSeq
      },
      scala.collection.immutable.ArraySeq.unsafeWrapArray(fetchParts))
    val hits: Map[Long, Double] = fetched.flatten.toMap
    val qs = probs.map { p =>
      val r = p * (n - 1)
      val lo = hits(math.floor(r).toLong)
      val hi = hits(math.ceil(r).toLong)
      val frac = r - math.floor(r)
      p -> (lo + (hi - lo) * frac)
    }.toMap
    Summary(n, partAggs.map(_._2).sum,
      partAggs.map(_._3).min, partAggs.map(_._4).max, qs)
  }

  /** Exact linear-interpolated quantiles of `valueCol` (NULLs and
    * null-casting values ignored, like any SQL aggregate). Returns
    * prob -> value; empty input yields an empty map.
    */
  def exactQuantiles(spark: SparkSession, df: DataFrame, valueCol: String,
      probs: Seq[Double]): Map[Double, Double] =
    summarize(spark, df, valueCol, probs).quantiles

  /** One-row dataset card over the per-doc `n_tokens` column:
    * (n_docs, total_tokens, min_tokens, p50_tokens, p90_tokens,
    * max_tokens). `n_docs` counts EVERY row (COUNT(*) semantics — a
    * NULL token count still is a document; one metadata-cheap count()
    * job); the other five statistics are over the non-null values and
    * all come from the ONE summarize pass.
    */
  def tokenCard(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val s = summarize(spark, docs, "n_tokens", Seq(0.5, 0.9))
    val nDocs = docs.count()
    Seq((nDocs, s.sum.toLong, s.min.toLong, s.max.toLong,
      s.quantiles.getOrElse(0.5, Double.NaN),
      s.quantiles.getOrElse(0.9, Double.NaN)))
      .toDF("n_docs", "total_tokens", "min_tokens", "max_tokens",
        "p50_tokens", "p90_tokens")
  }
}
