package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String
import graft.extract.Extractor

/** Entity-linking candidate generation (SURVEY §2.3 J4, north star:
  * "MinHash-LSH blocking + broadcast alias-dictionary scoring").
  *
  * Names are normalized with the reference accent-folding, shingled into
  * character 3-grams and MinHash-bucketed by spark.ml `MinHashLSH`'s rule
  * in plain DataFrame code; candidate pairs come from an equi-join on
  * (table, hash) — never the full cross product. Names sharing one
  * normal form link directly through [[exactNormLinks]].
  */
object Linker {

  /** Reference-semantics normalization: lower + strip + accent fold. */
  def normalize(name: String): String = Extractor.removeAccents(name)

  /** Character 3-gram shingles of a normalized name (space-padded). */
  def shingles(norm: String): Seq[String] = {
    val padded = " " + norm + " "
    if (padded.length < 3) Seq(padded)
    else (0 to padded.length - 3).map(i => padded.substring(i, i + 3)).distinct
  }

  /** Distinct names with support counts — the linking working set is the
    * name vocabulary (much smaller than the mention stream).
    */
  def nameVocab(spark: SparkSession, triples: Dataset[graft.spark.Triple]): DataFrame =
    triples.groupBy(col("obj").as("name"))
      .agg(count(lit(1)).as("support"))

  private val normUdf = udf((s: String) => normalize(s))

  /** Distinct 3-gram ids, hashed as `HashingTF(1 << 18)` hashes a term:
    * murmur3 `hashUnsafeBytes2` (seed 42) of the UTF-8 bytes, mod 2^18.
    * SQL `hash()` (`hashUnsafeBytes`) differs on every ASCII 3-gram.
    */
  private val gramIdsUdf = udf((name: String) =>
    shingles(normalize(name)).map { g =>
      val u = UTF8String.fromString(g)
      Math.floorMod(Murmur3_x86_32.hashUnsafeBytes2(
        u.getBaseObject, u.getBaseOffset, u.numBytes, 42), 1 << 18)
    }.distinct)

  /** `MinHashLSH`'s prime and per-table `(a, b)`, drawn as its fit draws them. */
  private val Prime = 2038074743L
  private val TableCoefficients = {
    val rand = new scala.util.Random(42)
    Seq.fill(5)((1 + rand.nextInt(Prime.toInt - 1), rand.nextInt(Prime.toInt - 1)))
  }

  /** MinHash candidate pairs (nameA < nameB) whose Jaccard distance over
    * the gram-id sets is below `maxDistance`: the rows, and bit for bit the
    * `dist`, of spark.ml `MinHashLSH(5 tables, seed 42).approxSimilarityJoin`.
    */
  def candidatePairs(spark: SparkSession, names: DataFrame,
      maxDistance: Double = 0.5): DataFrame = {
    val tableHashes = TableCoefficients.map { case (a, b) =>
      array_min(transform(col("ids"), i => ((i + 1L) * a + b) % Prime))
    }
    val keys = names.select(col("name"), gramIdsUdf(col("name")).as("ids"))
      .select(col("name"), col("ids"),
        posexplode(array(tableHashes: _*)).as(Seq("t", "h")))
    val (l, r) = (keys.as("l"), keys.as("r"))
    l.join(r, col("l.t") === col("r.t") && col("l.h") === col("r.h") &&
        col("l.name") < col("r.name"))
      .select(col("l.name").as("name_a"), col("r.name").as("name_b"),
        (lit(1.0) - size(array_intersect(col("l.ids"), col("r.ids"))) /
          size(array_union(col("l.ids"), col("r.ids")))).as("dist"))
      .filter(col("dist") < maxDistance)
      .distinct()
  }

  /** Exact-normal-form links: names whose normalization collides are the
    * same entity (accent/case variants). Chain-paired via `lead()` over
    * a (norm, name) sort — sorted-adjacent neighbors connect the whole
    * variant group for the downstream connected components exactly like
    * a star pairing would, but with NO `collect_list` row: a degenerate
    * normal form shared by millions of names streams through the
    * spillable external sort (O(n) pairs, O(1) state per row) instead
    * of materializing one unbounded aggregation row. Same discipline as
    * `Dedup.boundedBucketPairs`'s hot-bucket branch.
    */
  def exactNormLinks(spark: SparkSession, names: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("norm").orderBy("name")
    names
      .withColumn("norm", normUdf(col("name")))
      .withColumn("next_name", lead(col("name"), 1).over(w))
      .filter(col("next_name").isNotNull)
      .select(
        least(col("name"), col("next_name")).as("name_a"),
        greatest(col("name"), col("next_name")).as("name_b"),
        lit(0.0).as("dist"))
  }
}
