package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.registry._

/** Driver contract (SURVEY.md §7): the flagship [[entry]] and the query
  * registry.
  *
  * Every registry query is one operator family from SURVEY.md §2
  * exercised over the driver-generated tables in an sf directory, and
  * each carries the DuckDB SQL it is cross-checked against (row count,
  * schema and hash). The records live in `graft.registry`, one file per
  * module; [[queries]] and [[oracleSql]] are maps derived from them.
  */
object SparkEntry {

  /** Flagship: the full KG extraction path on the reference corpus —
    * pages -> parity DOM extract -> labeled mentions -> triples. (The
    * `kg_triples` query runs the same path over planted SynthPages so
    * the driver can oracle its full rows; the reference-corpus variant
    * stays here as the smoke surface, with its triple P/R gate asserted
    * against the reference's own gold labels in PipelineSpec.)
    */
  def entry(spark: SparkSession): DataFrame = {
    val pages = graft.corpus.RefCorpus.pages(spark)
    val names = spark.sparkContext.broadcast(graft.corpus.RefCorpus.targetNameMap())
    val sents = graft.spark.ExtractStage.sentences(spark, pages, Some(names))
    val mentions = graft.kg.Triples.goldMentions(spark, sents)
    graft.kg.Triples.fromMentions(spark, mentions).toDF()
  }

  /** Registry records by name. A name defined twice fails here, where a
    * plain `toMap` would silently keep one of the two.
    */
  private[graft] def byName(all: Seq[Query]): Map[String, Query] = {
    val twice = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty, "registry names defined more than once: " +
      twice.toSeq.sorted.mkString(", "))
    all.map(q => q.name -> q).toMap
  }

  private lazy val registry: Map[String, Query] = byName(Seq(
    SqlQueries.queries, DocQueries.queries, DedupQueries.queries,
    AnnQueries.queries, MediaQueries.queries, ExtractQueries.queries,
    GraphQueries.queries, StreamQueries.queries).flatten)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.run }

  lazy val oracleSql: Map[String, String] =
    registry.map { case (n, q) => n -> q.oracleSql }

  /** [[queries]] narrowed to the comma-separated names in
    * `SPARK_GRAFT_ONLY`, the dev subset filter of Verify and Bench;
    * unset, every query. Unknown names fail fast: a typo that filtered
    * the run to zero queries would exit cleanly and read as a clean pass.
    */
  def selectedQueries: Map[String, (SparkSession, String) => DataFrame] =
    sys.env.get("SPARK_GRAFT_ONLY").fold(queries) { only =>
      val names = only.split(",").map(_.trim).toSet
      val unknown = names -- queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
      queries.filter { case (n, _) => names.contains(n) }
    }
}
