package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String
import graft.extract.Extractor

/** Entity-linking candidate generation (SURVEY §2.3 J4, north star:
  * "MinHash-LSH blocking + broadcast alias-dictionary scoring").
  *
  * Names are normalized with the reference accent-folding, shingled into
  * character 3-grams and linked by spark.ml `MinHashLSH`'s rule in plain
  * DataFrame code; candidate pairs come from an equi-join on the grams
  * of a prefix filter, then the MinHash collision test — never the full
  * cross product. Names sharing one normal form link directly through
  * [[exactNormLinks]].
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
  def nameVocab(triples: Dataset[graft.spark.Triple]): DataFrame =
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
    * `names` holds one row per name, as [[nameVocab]] gives it.
    *
    * That join returns a pair when (a) the names collide in at least one
    * table and (b) `dist = 1 - J` is below `maxDistance`. Rather than
    * self-joining on every (table, hash) and verifying each colliding
    * pair, this finds the pairs that can pass (b) first, by prefix
    * filtering (Chaudhuri et al., ICDE 2006; Bayardo et al., WWW 2007):
    *  - grams are ordered globally by how many names hold them, rarest
    *    first, ties by id; the order is collected to the driver (at most
    *    2^18 ids) and each name keeps its first `n - ceil(tau * n) + 1`
    *    grams in that order, clamped to `[1, n]`;
    *  - a pair with `J >= tau` shares its rarest common gram within both
    *    prefixes (every gram ranked before it in either name is one the
    *    other lacks, and there are at most `n - ceil(tau * n)` of those),
    *    so the self-join on prefix grams finds it; it is emitted once, at
    *    its first shared prefix gram;
    *  - `tau` is `1 - maxDistance` less 1e-9. The computed `dist` is off
    *    from `1 - J` by a few ulps at most, so a pair whose `dist` passes
    *    has `J` above `tau` by far more than `ceil` can round; a lower
    *    `tau` only lengthens prefixes, which costs candidates, not rows.
    * The pairs left are then held to (a) by comparing the five per-name
    * table hashes. A collision means the names share a gram, since
    * `((i + 1) * a + b) mod p` is injective on ids below 2^18 < p: so
    * a pair that passes (b) sharing no gram, possible only above
    * `maxDistance` 1 (where every gram is a prefix gram), never collides
    * either, and the rule stays exact at any `maxDistance`. `dist` is
    * the join's own expression, so its bits match.
    */
  def candidatePairs(names: DataFrame, maxDistance: Double = 0.5): DataFrame = {
    val tableHashes = TableCoefficients.map { case (a, b) =>
      array_min(transform(col("ids"), i => ((i + 1L) * a + b) % Prime))
    }
    // checkpointed once: the gram-frequency collect and the self-join
    // below would each re-plan `names` (typically a groupBy over a whole
    // table) and the gram-id UDF
    val keys = names.select(col("name"), gramIdsUdf(col("name")).as("ids"))
      .select(col("name"), col("ids"), array(tableHashes: _*).as("hashes"))
      .localCheckpoint(true)
    // rank(id): position in the global order, rarest gram first
    val rank = new Array[Int](1 << 18)
    keys.select(explode(col("ids")).as("id")).groupBy("id").count()
      .collect().map(r => (r.getLong(1), r.getInt(0))).sorted
      .zipWithIndex.foreach { case ((_, id), i) => rank(id) = i }
    val tau = 1.0 - maxDistance - 1e-9
    val prefixUdf = udf { (ids: Seq[Int]) =>
      val n = ids.size
      val len = math.min(n, math.max(1, n - math.ceil(tau * n).toInt + 1))
      ids.sortBy(rank(_)).take(len)
    }
    val byPrefix = keys.withColumn("prefix", prefixUdf(col("ids")))
      .withColumn("g", explode(col("prefix")))
    val (l, r) = (byPrefix.as("l"), byPrefix.as("r"))
    val collides = (0 until TableCoefficients.size)
      .map(t => col("l.hashes")(t) === col("r.hashes")(t)).reduce(_ || _)
    l.join(r, col("l.g") === col("r.g") && col("l.name") < col("r.name"))
      .filter(element_at(array_intersect(col("l.prefix"), col("r.prefix")), 1)
        === col("l.g") && collides)
      .select(col("l.name").as("name_a"), col("r.name").as("name_b"),
        (lit(1.0) - size(array_intersect(col("l.ids"), col("r.ids"))) /
          size(array_union(col("l.ids"), col("r.ids")))).as("dist"))
      .filter(col("dist") < maxDistance)
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
  def exactNormLinks(names: DataFrame): DataFrame = {
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
