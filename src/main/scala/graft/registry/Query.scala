package graft.registry

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables.table

/** One driver registry query: its `name`, its body `run` over the
  * tables in an sf directory, and the DuckDB SQL that must return the
  * same rows. Column names and aliases match the Spark result exactly
  * (the driver sorts columns by name before hashing). The SQL is built
  * on its first read, so running bodies never builds oracle text.
  */
final class Query(val name: String,
    val run: (SparkSession, String) => DataFrame, sql: => String) {
  lazy val oracleSql: String = sql
}

object Query {
  def apply(name: String, run: (SparkSession, String) => DataFrame,
      sql: => String): Query = new Query(name, run, sql)
}

/** Fixture code that more than one registry module plants. */
private[registry] object Fixtures {

  /** Planted-id offset 2^40: far above any realistic id range, so a
    * planted id can never collide with a real one as SF grows.
    */
  val TwinOffset = 1099511627776L

  /** Exact copies of a two-column `(id, value)` frame with the id
    * shifted by `offset`: the planted twins whose pairing is
    * closed-form in SQL.
    */
  def twins(df: DataFrame, offset: Long = TwinOffset): DataFrame = {
    val Array(id, value) = df.columns
    df.select((col(id) + lit(offset)).as(id), col(value))
  }

  /** The documents table as pages, with `word` planted at every token
    * position `i` where `i % modulus == pos`, for each `(pos, word)` of
    * `plants`. The planted-token oracles rebuild the same positions in
    * closed form.
    */
  def plantedPages(s: SparkSession, dir: String, modulus: Int,
      plants: Seq[(Int, String)]): Dataset[graft.spark.Page] = {
    val cases = plants.map { case (pos, word) =>
      s"WHEN i % $modulus = $pos THEN '$word'"
    }.mkString(" ")
    graft.corpus.SynthPages.fromDocuments(s,
      table(s, dir, "documents").select(col("doc_id"), col("source"), col("lang"),
        expr(s"array_join(transform(split(text, ' '), (t, i) -> " +
          s"CASE $cases ELSE t END), ' ')").as("text")))
  }

  /** [[plantedPages]] extracted with `names` as every page's target names. */
  def plantedSentences(s: SparkSession, dir: String, modulus: Int,
      plants: Seq[(Int, String)], names: Seq[String]) =
    graft.spark.ExtractStage.sentences(s, plantedPages(s, dir, modulus, plants),
      targetNamesFn = Some((_: String) => names))
}
