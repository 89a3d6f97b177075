package graft.kg

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Canonicalization: connected components over the link graph, then
  * per-component canonical-name election.
  *
  * Skew strategy:
  *  - CC runs on [[graft.spark.Cc]]: a per-partition union-find
  *    contraction, then alternating large-star/small-star rounds whose
  *    neighborhood-min aggregations are map-side combinable — a hot
  *    vertex's edges pre-reduce per map task, and AQE splits the
  *    skewed emit join.
  *  - the per-component alias aggregation is one `groupBy` on
  *    component whose `collect_set`/`max`/`sum` combine map-side: a hot
  *    entity's reducer receives one partial per map task, not one row
  *    per alias, so salting the key would bound nothing.
  */
object Canonicalize {

  /** name -> stable 64-bit vertex id: FNV-1a over UTF-8 bytes, the
    * plain-Scala twin of [[nameIdCol]], which the operators below use.
    * Collision-safe enough for vocabulary-sized vertex sets; a
    * production run would carry the name through instead of relying on
    * hash uniqueness.
    */
  def nameId(name: String): Long = graft.functions.Fnv1a64.hashString(name)

  /** [[nameId]] as the native `fnv1a64` expression. */
  private def nameIdCol(name: Column): Column =
    GraftFunctions.column("fnv1a64", name)

  /** Connected components over (name_a, name_b) pairs; returns
    * (name, component) for every name that appears in a link.
    */
  def components(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // Materialize the pair pipeline ONCE: both the id pairs for the
    // shared graft.spark.Cc core and the vertex name table derive from
    // `pairs`, which is typically a full upstream derivation (the linker
    // window chain) — without the checkpoint the vertex branch would
    // execute it a second time. Cc itself then checkpoints only its
    // canonical id pairs.
    val p = pairs.select(col("name_a"), col("name_b")).localCheckpoint(true)
    val edges = p.select(nameIdCol(col("name_a")).as("a"),
      nameIdCol(col("name_b")).as("b"))
    val vertices = p
      .select(explode(array(col("name_a"), col("name_b"))).as("name"))
      .distinct()
      .select(nameIdCol(col("name")).as("id"), col("name"))

    val ccDf = graft.spark.Cc.components(edges, maxIter)
    vertices.join(ccDf, "id").select(col("name"), col("component"))
  }

  /** nodes table: one row per entity (component), canonical name =
    * highest-support member (ties by name), aliases = all members.
    * Singleton names (no links) become their own entities.
    */
  def entities(names: DataFrame, membership: DataFrame): DataFrame = {
    val withComp = names.join(membership, Seq("name"), "left_outer")
      .withColumn("component",
        coalesce(col("component"), nameIdCol(col("name"))))

    // one row per name in; see "Skew strategy" for why one groupBy
    withComp.groupBy("component")
      .agg(
        array_sort(collect_set(col("name"))).as("aliases"),
        max(struct(col("support"), col("name"))).as("best"),
        sum(col("support")).as("support"))
      .select(
        format_string("person:%016x", col("component")).as("entity_id"),
        col("best.name").as("canonical_name"),
        col("aliases"),
        lit("person").as("kind"),
        col("support"))
  }

  /** Lower-cases A–Z only. For the ASCII predicates of [[Relations]]
    * this gives the bytes SQL `lower` gives, without the one-time build
    * of its ICU case-mapping table (over every code point, about 0.6 s
    * in a fresh JVM) that `lower`'s first evaluation pays.
    */
  private def asciiLower(c: Column): Column =
    translate(c, ('A' to 'Z').mkString, ('a' to 'z').mkString)

  /** edges table: triples with obj rewritten to the canonical entity. */
  def canonicalEdges(triples: Dataset[graft.spark.Triple],
      nodes: DataFrame): DataFrame = {
    // No broadcast hint: the exploded alias->entity table grows with
    // the entity vocabulary, which at 10^12 documents outgrows the
    // 8 GB broadcast cap (driver OOM). AQE picks broadcast when the
    // runtime size allows and falls back to a sort-merge/shuffled hash
    // join on `obj` otherwise; skew on a hot alias is handled by AQE
    // skew-join splitting.
    val aliasToEntity = nodes
      .select(col("entity_id"), col("canonical_name"),
        explode(col("aliases")).as("obj"))
    triples.toDF()
      .join(aliasToEntity, Seq("obj"), "left_outer")
      .select(
        col("subj"),
        col("pred"),
        coalesce(col("canonical_name"), col("obj")).as("obj"),
        coalesce(col("entity_id"),
          format_string("person:%016x", nameIdCol(col("obj")))).as("obj_entity"),
        col("url"), col("warc_ts"), col("confidence"))
      .dropDuplicates("subj", "pred", "obj", "url")
  }

  /** Canonicalize relation triples whose SUBJECT is an entity name
    * (hasTitle/hasEmail from [[Relations]]): map subj through the
    * alias table; obj stays a literal (title token, email
    * address), id-tagged by predicate so edges keep a uniform
    * (subj, pred, obj, obj_entity, url, warc_ts, confidence) schema.
    */
  def canonicalSubjectEdges(
      relations: Dataset[graft.spark.Triple], nodes: DataFrame): DataFrame = {
    // Unhinted for the same reason as [[canonicalEdges]]: the alias
    // table scales with the entity vocabulary; AQE chooses the strategy.
    val aliasToEntity = nodes
      .select(col("canonical_name"), explode(col("aliases")).as("subj"))
    relations.toDF()
      .join(aliasToEntity, Seq("subj"), "left_outer")
      .select(
        coalesce(col("canonical_name"), col("subj")).as("subj"),
        col("pred"),
        col("obj"),
        concat(asciiLower(col("pred")), lit(":"), col("obj")).as("obj_entity"),
        col("url"), col("warc_ts"), col("confidence"))
      .dropDuplicates("subj", "pred", "obj", "url")
  }
}
