package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed-length sequence packing for LLM pretraining — the
  * concat-and-chunk regime every trainer feeds on: the corpus is ONE
  * deterministic token stream (documents concatenated in doc_id
  * order), cut into sequences of exactly `seqLen` tokens; a document
  * crossing a boundary SPLITS across the two sequences. The output
  * maps each document to the sequences it lands in.
  *
  * Scale design: the global cumulative token offset is a DISTRIBUTED
  * PREFIX SUM — range-repartition by doc_id (partition i holds
  * strictly smaller ids than partition i+1), one token-total scalar
  * per partition collected to the driver, exclusive prefix offsets
  * broadcast back, then a narrow second pass emits each doc's chunk
  * rows from its now-known global offset. `Window.orderBy` with no
  * partitionBy — the classic way to write a global cumsum — funnels
  * the whole corpus through ONE task and is exactly what this avoids.
  * Cost: one range shuffle + one O(partitions) driver array.
  *
  * Determinism: output depends only on (doc_id, token count) — not on
  * partitioning, parallelism, or input order (asserted in PackingSpec).
  * The input's LINEAGE must be deterministic too: the two phases are
  * two Spark jobs over the same shuffle output, and a map-stage
  * recomputation between them (executor loss) replays the input — if
  * that replay can produce different rows (unseeded sample(), rand()
  * columns), the broadcast offsets no longer match the partition
  * contents. Phase 2 re-checks each partition's token total against
  * phase 1's and FAILS FAST on a mismatch rather than emitting
  * silently overlapping chunks.
  *
  * NOTE: like `Dedup.connectedKeepers`, calling this EXECUTES Spark
  * jobs immediately (the range-partition sampling pass and the phase-1
  * totals collect) — it is not a lazily-composable plan, and the
  * returned frame's plan is an opaque LogicalRDD.
  *
  * @param docs     (doc_id, n_tokens): rows with <= 0 or NULL
  *                 n_tokens contribute nothing to the stream and emit
  *                 no row; NULL ids are dropped
  * @param seqLen   tokens per training sequence (> 0)
  * @return (doc_id, seq_id, tok_from, tok_to): doc `doc_id`'s tokens
  *         [tok_from, tok_to) (doc-relative, exclusive end) belong to
  *         training sequence `seq_id`. Per doc, the spans partition
  *         [0, n_tokens); per sequence except the last, spans sum to
  *         exactly seqLen.
  */
object Packing {

  def chunkAssignments(spark: SparkSession, docs: DataFrame,
      seqLen: Long): DataFrame = {
    import spark.implicits._
    require(seqLen > 0, s"seqLen must be positive (got $seqLen)")
    val sorted = docs
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id").cast("long").as("id"),
        // NULL-safe: under ANSI configs size(split(NULL)) is NULL, and
        // a NULL in a non-nullable Dataset field would NPE the job —
        // NULL token counts mean "contributes nothing", like <= 0
        coalesce(col("n_tokens").cast("long"), lit(0L)).as("n"))
      .repartitionByRange(col("id"))
      .sortWithinPartitions("id")
      .as[(Long, Long)]
    val rdd = sorted.rdd
    // phase 1: one Long per partition back to the driver — the only
    // non-narrow data movement besides the range shuffle itself
    // (collect() returns results in partition-index order)
    val partTotals: Array[Long] = rdd
      .mapPartitionsWithIndex { (_, it) =>
        var s = 0L
        it.foreach { case (_, n) => if (n > 0) s += n }
        Iterator(s)
      }
      .collect()
    val prefix: Array[Long] = partTotals.scanLeft(0L)(_ + _).dropRight(1)
    val bcPrefix = spark.sparkContext.broadcast(prefix)
    val bcTotals = spark.sparkContext.broadcast(partTotals)
    // phase 2: narrow — each partition starts at its exclusive prefix
    val rows = rdd.mapPartitionsWithIndex { (i, it) =>
      var off = bcPrefix.value(i)
      val emitted = it.flatMap { case (id, n) =>
        if (n <= 0) Iterator.empty
        else {
          val start = off
          off += n
          val first = start / seqLen
          val last = (start + n - 1) / seqLen
          (first to last).iterator.map { s =>
            val cs = math.max(start, s * seqLen)
            val ce = math.min(start + n, (s + 1) * seqLen)
            (id, s, cs - start, ce - start)
          }
        }
      }
      // ++ is by-name: this block runs AFTER the partition drains and
      // fails fast if a between-jobs map-stage recomputation replayed
      // different rows than phase 1 counted (nondeterministic lineage)
      emitted ++ {
        require(off - bcPrefix.value(i) == bcTotals.value(i),
          s"Packing: partition $i token total changed between the " +
            "prefix-sum and emission jobs — input lineage is " +
            "nondeterministic; persist or materialize the input first")
        Iterator.empty
      }
    }
    spark.createDataFrame(rows).toDF("doc_id", "seq_id", "tok_from", "tok_to")
  }
}
