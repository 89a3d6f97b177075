package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-relevance ranking: BM25 scoring of every document against a
  * fixed term set — the retrieval primitive a KG/training-data
  * pipeline uses for query-driven corpus selection ("give me the
  * documents most about X") and weak supervision.
  *
  * Scale shape: the per-(doc, term) term-frequency table is the only
  * corpus-sized shuffle, and it is map-side combinable; the per-term
  * document frequencies and the corpus constants (N, avgdl) are a few
  * scalars broadcast back into the scoring projection. Texts never
  * ride a shuffle — tokens are exploded, filtered to the query terms
  * (a broadcast-sized IN list) BEFORE the exchange, so the shuffle
  * carries (doc_id, term) pairs for matching terms only.
  *
  * Determinism: the over-terms score sum runs through exact DECIMAL
  * aggregation of contributions rounded to 9 dp (IEEE double rounding,
  * identical in Spark and DuckDB), so partial-aggregation order cannot
  * change the result; `doc_bm25` is hash-oracled end-to-end including
  * the Math.log idf (bit-identical to DuckDB's LN on the same doubles,
  * the same equivalence `doc_unigram_lm` already rests on).
  */
object Ranking {

  /** BM25 (Robertson/Sparck-Jones, Lucene's always-positive idf
    * variant) of every document containing at least one query term.
    *
    *   idf(t)  = ln((N - df + 0.5)/(df + 0.5) + 1)
    *   s(d, t) = idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)),
    *             k1 = 1.2, b = 0.75
    *   bm25(d) = round(Σ_t round(s(d, t), 9), 6)
    *
    * @return (doc_id, bm25) for docs with ≥1 query-term occurrence.
    */
  def bm25(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val k1 = 1.2
    val b = 0.75
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    val dl = toks.select(col("doc_id"), size(col("w")).cast("long").as("dl"))

    // corpus constants: two scalars to the driver (one count job)
    val Row2 = dl.agg(count(lit(1)), sum(col("dl"))).head()
    val n = Row2.getLong(0)
    val avgdl = Row2.getLong(1).toDouble / n

    // (doc, term) tf — tokens filtered to the term list pre-shuffle
    val tf = toks
      .select(col("doc_id"), explode(col("w")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("long").as("tf"))

    // per-term df: term cardinality == |terms|, broadcast side
    val df = tf.groupBy("term").agg(count(lit(1)).cast("long").as("df"))
    val idf = df.select(col("term"),
      log((lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5))
        + lit(1.0)).as("idf"))

    val contrib = tf
      .join(broadcast(idf), "term")
      .join(dl, "doc_id")
      .select(col("doc_id"),
        round(col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl") / lit(avgdl))), 9)
          .cast(DecimalType(38, 15)).as("c"))

    contrib.groupBy("doc_id")
      .agg(round(sum(col("c")).cast("double"), 6).as("bm25"))
  }
}
