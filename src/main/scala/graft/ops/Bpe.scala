package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Real byte-pair-encoding tokenization — learned merges, not the
  * regex run-count proxy (`TextAnalysis.bpeTokenCount` stays as the
  * cheap per-length statistic; THIS is what a token-count column in a
  * training-data pipeline actually means).
  *
  * Training (Sennrich et al. 2016, arXiv:1508.07909, minus the
  * end-of-word marker — merges never cross word boundaries here, so
  * the marker adds nothing): iteratively merge the most frequent
  * adjacent symbol pair over a word-frequency table. The loop runs on
  * the DRIVER over a BOUNDED word-count table — the same shape as the
  * IVF Lloyd fit: the distributed part is one word-count aggregation
  * (map-side combined, shuffles only distinct words), the top
  * `maxWords` by frequency are collected (tens of MB at the default
  * maxWords=10^6 — the strings plus the per-symbol expansion and the
  * pair-count/occurrence indexes; stress-tested at 200k words under a
  * 2 GiB heap, size the driver accordingly toward the cap; Zipf makes
  * the tail irrelevant to pair counts), and the
  * merge loop maintains pair counts INCREMENTALLY through an
  * occurrence index (each merge touches only the words containing the
  * merged pair — the classic Sennrich-implementation optimization).
  * Merge ties break deterministically (count desc, then lexicographic
  * pair), so the table is reproducible across runs and partitionings.
  *
  * Application is embarrassingly parallel: the ranked merge table
  * broadcasts (numMerges entries, bounded by construction) and a
  * narrow per-partition kernel tokenizes each word greedily by rank —
  * always merging the LOWEST-rank adjacent pair first, the standard
  * apply order, which reproduces the training-time segmentation of
  * every training word. Per-partition word→count memoization exploits
  * the Zipf distribution exactly like the BiLSTM char-repr cache.
  */
object Bpe {

  /** Initial symbol segmentation of a word: one symbol per Unicode
    * CODEPOINT, not per UTF-16 char — an astral-plane character
    * (emoji, rare CJK, math alphanumerics) must enter training and
    * apply as one symbol, never as two unpaired lone surrogates,
    * which would be invalid strings if ever surfaced as tokens and
    * would make token counts on non-BMP text diverge from any
    * codepoint-level BPE reference.
    */
  private[ops] def codepointSyms(word: String): Array[String] = {
    val out = new Array[String](word.codePointCount(0, word.length))
    var i = 0
    var j = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      out(j) = word.substring(i, i + n)
      i += n
      j += 1
    }
    out
  }

  /** Learn `numMerges` merges from the corpus. Returns the ranked
    * merge table (first = learned first = applied first). Stops early
    * when no adjacent pair remains (the word table fully collapsed —
    * every training word one symbol).
    *
    * @param maxWords driver-side bound: top-N words by (count desc,
    *   word asc). Collecting an unbounded distinct-word table would be
    *   a driver OOM at web scale; the Zipf head dominates every pair
    *   count, so the cutoff does not move early merges.
    */
  def trainMerges(docs: DataFrame, numMerges: Int,
      maxWords: Int = 1000000): Seq[(String, String)] = {
    val wordCounts: Array[(Array[String], Long)] = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(maxWords)
      .collect()
      .map(r => (codepointSyms(r.getString(0)), r.getLong(1)))

    val words = wordCounts.map(_._1)
    val counts = wordCounts.map(_._2)

    // INCREMENTAL pair bookkeeping (the classic Sennrich optimization):
    // global pair counts plus an occurrence index pair -> word indices,
    // so each merge touches only the words that actually contain the
    // merged pair. Recounting every pair over the whole word table per
    // iteration would be O(numMerges * total vocab chars) on the
    // driver — minutes at maxWords=10^6 while the cluster idles.
    def pairsOf(w: Array[String]): mutable.HashMap[(String, String), Int] = {
      val m = mutable.HashMap.empty[(String, String), Int]
      var i = 0
      while (i < w.length - 1) {
        val p = (w(i), w(i + 1))
        m.update(p, m.getOrElse(p, 0) + 1)
        i += 1
      }
      m
    }
    val pairCounts = mutable.HashMap.empty[(String, String), Long]
    val occur = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    var wi = 0
    while (wi < words.length) {
      pairsOf(words(wi)).foreach { case (p, c) =>
        pairCounts.update(p, pairCounts.getOrElse(p, 0L) + c.toLong * counts(wi))
        occur.getOrElseUpdate(p, mutable.Set.empty) += wi
      }
      wi += 1
    }

    val merges = mutable.ArrayBuffer.empty[(String, String)]
    while (merges.size < numMerges && pairCounts.nonEmpty) {
      // deterministic argmax: count desc, then lexicographic pair
      val best = pairCounts.minBy { case ((a, b), c) => (-c, a, b) }._1
      merges += best
      val joined = best._1 + best._2
      occur.getOrElse(best, mutable.Set.empty).toArray.foreach { idx =>
        val w = words(idx)
        val before = pairsOf(w)
        // apply the merge left-to-right (the training-time semantics
        // the greedy-by-rank apply reproduces)
        val out = mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < w.length) {
          if (i < w.length - 1 && w(i) == best._1 && w(i + 1) == best._2) {
            out += joined; i += 2
          } else { out += w(i); i += 1 }
        }
        words(idx) = out.toArray
        val after = pairsOf(words(idx))
        // diff this word's pair contribution: count 0 <=> no word
        // contains the pair, so count and index removal stay in sync
        before.foreach { case (p, c) =>
          val d = after.getOrElse(p, 0) - c
          if (d != 0) {
            val nc = pairCounts.getOrElse(p, 0L) + d.toLong * counts(idx)
            if (nc <= 0L) pairCounts.remove(p) else pairCounts.update(p, nc)
          }
          if (!after.contains(p))
            occur.get(p).foreach { s =>
              s -= idx
              if (s.isEmpty) { occur.remove(p); pairCounts.remove(p) }
            }
        }
        after.foreach { case (p, c) =>
          if (!before.contains(p)) {
            pairCounts.update(p, pairCounts.getOrElse(p, 0L) + c.toLong * counts(idx))
            occur.getOrElseUpdate(p, mutable.Set.empty) += idx
          }
        }
      }
      // the merged pair itself is gone from every affected word
      occur.remove(best)
      pairCounts.remove(best)
    }
    merges.toSeq
  }

  /** Tokenize one word with a rank table: repeatedly merge the
    * LOWEST-rank adjacent pair until none applies. Symbols (incl.
    * characters) never seen in training simply stay unmerged — the
    * OOV path is "fall back to characters", never a failure.
    */
  def tokenizeWord(word: String, ranks: Map[(String, String), Int]): Array[String] = {
    var syms = codepointSyms(word)
    var merged = true
    while (merged && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var i = 0
      while (i < syms.length - 1) {
        ranks.get((syms(i), syms(i + 1))) match {
          case Some(r) if r < bestRank => bestRank = r; bestAt = i
          case _ =>
        }
        i += 1
      }
      if (bestAt < 0) merged = false
      else {
        val out = new Array[String](syms.length - 1)
        System.arraycopy(syms, 0, out, 0, bestAt)
        out(bestAt) = syms(bestAt) + syms(bestAt + 1)
        System.arraycopy(syms, bestAt + 2, out, bestAt + 1,
          syms.length - bestAt - 2)
        syms = out
      }
    }
    syms
  }

  /** Per-document BPE token count under a learned merge table. Narrow
    * kernel (no shuffle): ranks broadcast once, per-partition
    * word→count memoization (Zipf reuse — a 100 TB shard re-tokenizes
    * each distinct word once per task, not once per occurrence).
    *
    * @return (doc_id, n_tokens); null/empty text counts 0.
    */
  def tokenCounts(spark: SparkSession, docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      merges.zipWithIndex.map { case (p, i) => p -> i }.toMap)
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ranks = bc.value
        val memo = mutable.HashMap.empty[String, Long]
        it.map { case (id, text) =>
          val safe = if (text == null) "" else text
          var n = 0L
          safe.split(" ", -1).foreach { w =>
            if (w.nonEmpty)
              n += memo.getOrElseUpdate(w, tokenizeWord(w, ranks).length.toLong)
          }
          (id, n)
        }
      }
      .toDF("doc_id", "n_tokens")
  }
}
