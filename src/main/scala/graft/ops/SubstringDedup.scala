package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-document EXACT-SUBSTRING deduplication — the "this 50-token
  * span also appears verbatim in another document" hygiene pass of
  * training-data pipelines (Lee et al. 2022, "Deduplicating Training
  * Data Makes Language Models Better", arXiv:2107.06499 — their
  * single-node suffix-array formulation re-expressed as the
  * distributed k-token-fingerprint equivalent: every duplicated
  * substring of length >= k is exactly a maximal run of duplicated
  * k-grams, so gram-level matching followed by per-document interval
  * union finds the same spans a suffix array would, at the cost of
  * one corpus-wide shuffle on 8-byte fingerprints instead of an
  * unshardable global suffix sort).
  *
  * Pipeline (all declarative, AQE sizes the joins):
  *  1. one narrow pass hashes each token once, then combines k token
  *     hashes per start position into a 64-bit polynomial fingerprint
  *     (no k-token string is ever materialized);
  *  2. the (fingerprint, doc, pos) stream — three 8-byte columns per
  *     token, text never rides the shuffle — aggregates to the set of
  *     fingerprints seen in >= `minDocs` DISTINCT docs (two-phase,
  *     map-side combined; a boilerplate gram present in every doc
  *     keys its first phase by (fingerprint, doc), never one reducer);
  *  3. hit positions join back (AQE broadcasts a small dup set,
  *     sort-merges a boilerplate-heavy one) and union into maximal
  *     per-doc intervals in a bounded per-doc kernel (positions per
  *     doc <= doc token count — the same bound every per-doc kernel
  *     in this engine rides).
  *
  * The gram stream is DELIBERATELY computed twice (once under the
  * dup-set aggregation, once under the hit join) rather than shuffled
  * once and windowed: for real corpora the duplicated-gram set is a
  * small fraction of all grams, so the join side stays NARROW (scan +
  * broadcast probe — the full (gh, doc, pos) stream never rides an
  * exchange), while the agg side exchanges only map-side-partial-
  * distinct (gh, doc) pairs. The single-scan alternative (exchange all
  * grams on gh, dense_rank window for the distinct-doc count) pays a
  * mandatory full-stream shuffle + sort and funnels each boilerplate
  * gram through ONE sort partition — the exact hot-key skew the rest
  * of this engine engineers out. Re-tokenizing is pure narrow CPU and
  * parallelizes with the cluster; a skewed sort does not.
  *
  * Collisions: two different grams sharing a 64-bit fingerprint would
  * count a false duplicate span. At 10^12 grams the expected collision
  * count is ~(10^12)^2 / 2^65 ~ 10^4 spurious PAIRS corpus-wide —
  * noise against the billions of true duplicated spans such a corpus
  * carries, and the standard trade every fingerprint-based dedup
  * (MinHash, SimHash, CCNet paragraph hashes) already makes. Raise to
  * 128-bit by fingerprinting twice with independent seeds if a
  * zero-false-positive guarantee is ever required.
  */
object SubstringDedup {

  /** k-gram fingerprints with start positions: `array<long>` of length
    * n-k+1 (empty when the doc has fewer than k tokens). Token hashes
    * are computed ONCE (xxhash64 per token), then each window folds
    * its k token hashes through the xxhash64 chain
    * `acc = xxhash64(acc, h)` — order-sensitive, avalanche-mixed, and
    * free of the ANSI-mode overflow a raw polynomial multiply trips.
    */
  private def gramFingerprints(toks: Column, k: Int): Column = {
    val th = transform(toks, t => xxhash64(t))
    val starts = sequence(lit(0), size(toks) - k) // callers guard size >= k
    transform(starts, i =>
      aggregate(slice(th, i + 1, lit(k)), lit(0L),
        (acc, h) => xxhash64(acc, h)))
  }

  /** Per-document duplicated-span report: for every doc, the maximal
    * token intervals of length >= k that appear verbatim (as a k-token
    * run) in at least `minDocs` distinct documents, merged over
    * overlaps and adjacency.
    *
    * @return (doc_id, dup_spans, dup_tokens) for EVERY input doc —
    *         0/0 for clean docs (a hygiene filter must surface clean
    *         docs, not drop them). `dup_tokens` is the size of the
    *         union of covered token positions.
    */
  def duplicatedSpans(docs: DataFrame, k: Int = 13,
      minDocs: Int = 2): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // limit -1: trailing empty tokens survive, matching DuckDB's
    // string_split — position arithmetic must agree with the oracle
    val toks = split(col("text"), " ", -1)
    // scan-parallelism floor (graft.spark.Scans): the per-token
    // fingerprint kernel runs twice over this frame (dup-set agg + hit
    // join, the documented two-pass trade) at the parallelism of the
    // docs scan — a single-split corpus would hash every token
    // single-threaded, twice; no-op on well-split inputs
    val grams = graft.spark.Scans.spread(docs, col("doc_id"))
      .filter(col("text").isNotNull && size(toks) >= k)
      .select(col("doc_id"),
        posexplode(gramFingerprints(toks, k)).as(Seq("pos", "gh")))
    val dup = grams.groupBy("gh")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= minDocs)
      .select("gh")
    val hits = grams.join(dup, Seq("gh")).select("doc_id", "pos")
    // union of [pos, pos+k-1] intervals, merged over overlap AND
    // adjacency (contiguous duplicated coverage is one span)
    val spanAgg = udf((ps: Seq[Int]) => {
      var spans = 0L
      var covered = 0L
      var curS = Int.MinValue
      var curE = Int.MinValue
      ps.foreach { s =>
        val e = s + k - 1
        if (s > curE + 1) {
          if (curS != Int.MinValue) { spans += 1; covered += curE - curS + 1 }
          curS = s; curE = e
        } else if (e > curE) curE = e
      }
      if (curS != Int.MinValue) { spans += 1; covered += curE - curS + 1 }
      (spans, covered)
    })
    val perDoc = hits.groupBy("doc_id")
      .agg(spanAgg(sort_array(collect_list(col("pos")))).as("sp"))
      .select(col("doc_id"), col("sp._1").as("dup_spans"),
        col("sp._2").as("dup_tokens"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }
}
