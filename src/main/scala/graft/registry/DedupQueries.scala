package graft.registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables.table
import Fixtures.{TwinOffset, twins}

/** Dedup registry queries: exact, Jaccard, MinHash-LSH, SimHash,
  * clustering, line, substring, embedding and semantic dedup
  * (`graft.ops.Dedup`, `Similarity.semanticDedup`). The planted-twin
  * queries oracle only the pairs of planted exact copies, whose band,
  * bucket and cell sharing is deterministic.
  */
object DedupQueries {

  /** A candidate pair of a document and its planted twin. */
  private def twinPair = col("id_b") === col("id_a") + lit(TwinOffset)

  /** Each document paired with the next doc_id's, the pair's texts
    * scored by `score` rounded to 6 places as column `name`.
    */
  private def nextDocPairs(s: SparkSession, dir: String, name: String)(
      score: (Column, Column) => Column): DataFrame = {
    val d = table(s, dir, "documents")
    val a = d.select(col("doc_id").as("id_a"), col("text").as("text_a"))
    val b = d.select((col("doc_id") - 1).as("id_a"),
      col("doc_id").as("id_b"), col("text").as("text_b"))
    a.join(b, "id_a")
      .select(col("id_a"), col("id_b"),
        round(score(col("text_a"), col("text_b")), 6).as(name))
      .orderBy("id_a")
  }

  val queries: Seq[Query] = Seq(
    // A9-style exact dedup over documents: md5 content key, min doc id
    // survives (hash-groupBy; at scale this is one shuffle on the digest).
    Query("doc_dedup_exact", (s, dir) => {
      graft.ops.Dedup.exact(table(s, dir, "documents")).orderBy("content_key")
    }, """SELECT MD5(text) AS content_key, MIN(doc_id) AS keeper,
        |COUNT(*) AS copies FROM documents
        |GROUP BY MD5(text) ORDER BY content_key""".stripMargin),

    // Dedup: word-set Jaccard on consecutive-doc candidate pairs
    // (oracle-checked); the shape of the n-gram-Jaccard verify stage.
    Query("dedup_jaccard_pairs", (s, dir) => {
      nextDocPairs(s, dir, "jaccard")(graft.ops.Dedup.jaccard)
    }, """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |ROUND(CAST(LEN(LIST_INTERSECT(LIST_DISTINCT(STRING_SPLIT(a.text,' ')), LIST_DISTINCT(STRING_SPLIT(b.text,' ')))) AS DOUBLE)
        | / LEN(LIST_DISTINCT(LIST_CONCAT(LIST_DISTINCT(STRING_SPLIT(a.text,' ')), LIST_DISTINCT(STRING_SPLIT(b.text,' '))))), 6) AS jaccard
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin),

    // Dedup: MinHash+LSH near-dup candidate pipeline (shingle -> minhash
    // -> band -> bucket join -> verify), oracled on the planted
    // invariant: exact copies at id+2^40 share every
    // band deterministically (identical shingle sets -> identical
    // signatures) and sort adjacent even in chain-paired hot buckets,
    // so selecting the planted id offset yields EXACTLY one jaccard-1.0
    // pair per document — closed-form in DuckDB. Natural near-dup pairs
    // (band survival probabilistic) are exercised by OpsSpec instead.
    Query("dedup_minhash_lsh", (s, dir) => {
      val d = table(s, dir, "documents").select("doc_id", "text")
      graft.ops.Dedup.minhashLshPairs(d.unionByName(twins(d)), minJaccard = 0.7)
        .filter(twinPair)
        .orderBy("id_a", "id_b")
    }, """SELECT doc_id AS id_a, doc_id + 1099511627776 AS id_b,
        |CAST(1.0 AS DOUBLE) AS jaccard
        |FROM documents ORDER BY id_a, id_b""".stripMargin),

    // Dedup: SimHash near-dup pairs (blocked by rotated 16-bit keys),
    // oracled on the same planted exact-copy invariant: identical text
    // -> identical simhash -> every rotated block key shared -> the
    // planted pair always survives blocking and verifies at hamming 0.
    Query("dedup_simhash", (s, dir) => {
      val d = table(s, dir, "documents").select("doc_id", "text")
      graft.ops.Dedup.simhashPairs(d.unionByName(twins(d)), maxHamming = 3)
        .filter(twinPair)
        .orderBy("id_a", "id_b")
    }, """SELECT doc_id AS id_a, doc_id + 1099511627776 AS id_b,
        |CAST(0 AS INTEGER) AS hamming
        |FROM documents ORDER BY id_a, id_b""".stripMargin),

    // Dedup CLUSTERING oracled end-to-end (pairs -> connected
    // components -> min-id keeper election): every document is planted
    // with TWO exact copies (offsets 2^40 and 2^41) and the candidate
    // pairs are filtered to the CHAIN (a, a+2^40) — which for the
    // second copy means (id+2^40, id+2^41), so each cluster reaches CC
    // as a 3-node PATH and only transitive closure can merge it. The
    // keeper assignment (id, id) / (id+2^40, id) / (id+2^41, id) is
    // closed-form. Offset filtering exists because natural near-dup
    // band survival isn't SQL-expressible (same reason as
    // dedup_minhash_lsh). Corpus assumption the closed form relies on
    // (true of the driver tables, asserted by doc_fingerprint's
    // distinct-text invariant): source texts are UNIQUE — a text with
    // >= maxBucket/3 byte-identical source copies would push its
    // tripled run past the run-pairing bound, and chain pairing alone
    // would drop some (id, id+2^40) pairs. The operator itself is
    // generic.
    Query("doc_dedup_clusters", (s, dir) => {
      val d = table(s, dir, "documents").select("doc_id", "text")
      val pairs = graft.ops.Dedup.minhashLshPairs(
          d.unionByName(twins(d)).unionByName(twins(d, 2 * TwinOffset)),
          minJaccard = 0.7)
        .filter(twinPair)
      graft.ops.Dedup.connectedKeepers(pairs)
        .orderBy("doc_id")
    }, """SELECT doc_id, keeper FROM (
        |  SELECT doc_id, doc_id AS keeper FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1099511627776 AS doc_id, doc_id AS keeper
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2199023255552 AS doc_id, doc_id AS keeper
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // Dedup: word-TRIGRAM Jaccard on consecutive-doc pairs (the n-gram
    // variant of the verify metric; oracle-checked against DuckDB's
    // list functions).
    Query("dedup_ngram_jaccard", (s, dir) => {
      nextDocPairs(s, dir, "jaccard3")(graft.ops.Dedup.ngramJaccard(_, _, 3))
    }, """WITH g AS (
        |  SELECT doc_id, text,
        |    CASE WHEN LEN(STRING_SPLIT(text, ' ')) < 3 THEN [text]
        |    ELSE LIST_DISTINCT(list_transform(
        |      generate_series(1, LEN(STRING_SPLIT(text, ' ')) - 2),
        |      i -> array_to_string((STRING_SPLIT(text, ' '))[i:i+2], ' ')))
        |    END AS grams
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CAST(LEN(LIST_INTERSECT(a.grams, b.grams)) AS DOUBLE)
        |    / LEN(LIST_DISTINCT(LIST_CONCAT(a.grams, b.grams))), 6) AS jaccard3
        |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin),

    // C4-style line-level corpus dedup: every doc gets a unique intro
    // line and a unique body line (kept), plus one boilerplate line
    // planted in ALL docs and one in every even doc (both over the
    // minDocs=3 doc-frequency threshold -> removed) — so the cleaned
    // text and the removal counts are closed-form.
    Query("doc_line_dedup", (s, dir) => {
      val varied = table(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("intro "), col("doc_id"), lit("\n"),
          col("doc_id"), lit(":"), col("text"),
          lit("\nsubscribe to our newsletter"),
          when(col("doc_id") % 2 === 0, lit("\nfollow us on social media"))
            .otherwise(lit(""))).as("text"))
      graft.ops.Dedup.removeBoilerplateLines(varied, minDocs = 3)
        .orderBy("doc_id")
    }, """SELECT doc_id,
        |  'intro ' || doc_id || chr(10) || doc_id || ':' || text AS text_clean,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_removed
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Cross-document exact-substring dedup (Lee et al. 2022 semantics,
    // ops.SubstringDedup): maximal token spans of length >= k=13
    // appearing verbatim in >= 2 distinct docs, merged per doc over
    // overlap/adjacency. The synthetic corpus genuinely shares long
    // token runs across docs (small vocab), so the report is
    // non-trivial; the oracle recomputes it gram-by-gram in SQL.
    Query("doc_substring_dedup", (s, dir) => {
      graft.ops.SubstringDedup.duplicatedSpans(table(s, dir, "documents"), k = 13)
        .orderBy("doc_id")
    }, """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |pos AS (
        |  SELECT doc_id, toks, unnest(range(1, len(toks) - 13 + 2)) AS s
        |  FROM d WHERE len(toks) >= 13),
        |grams AS (
        |  SELECT doc_id, s, array_to_string(toks[s : s + 12], ' ') AS gram
        |  FROM pos),
        |dup AS (
        |  SELECT gram FROM grams GROUP BY gram
        |  HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (
        |  SELECT g.doc_id, g.s, g.s + 12 AS e
        |  FROM grams g JOIN dup USING (gram)),
        |isl AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
        |      ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -1) + 1 THEN 1 ELSE 0 END AS ni
        |  FROM hits),
        |grp AS (
        |  SELECT doc_id, s, e,
        |    sum(ni) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS UNBOUNDED PRECEDING) AS grp_id
        |  FROM isl),
        |spans AS (
        |  SELECT doc_id, grp_id, min(s) AS ss, max(e) AS ee
        |  FROM grp GROUP BY doc_id, grp_id),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_spans,
        |    CAST(sum(ee - ss + 1) AS BIGINT) AS dup_tokens
        |  FROM spans GROUP BY doc_id)
        |SELECT d0.doc_id,
        |  CAST(coalesce(a.dup_spans, 0) AS BIGINT) AS dup_spans,
        |  CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens
        |FROM documents d0 LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // Dedup: embedding-cosine near-dup pairs via SRP-LSH buckets.
    // Planted exact copies (shifted ids) make the check oracled, not
    // vacuous: identical vectors always share an SRP bucket and sort
    // adjacent on the content hash even in chain-paired hot buckets, so
    // the output is EXACTLY the planted pairs at cosine 1.0 (random
    // 64-dim vectors never reach 0.75 — a ~6-sigma event), which DuckDB
    // reproduces without replicating the LSH.
    Query("dedup_embed_cosine", (s, dir) => {
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      graft.ops.Dedup.embeddingCosinePairs(e.unionByName(twins(e)),
          minCosine = 0.75)
        .select(col("id_a"), col("id_b"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }, """SELECT vec_id AS id_a, vec_id + 1099511627776 AS id_b,
        |CAST(1.0 AS DOUBLE) AS cosine
        |FROM embeddings ORDER BY id_a, id_b""".stripMargin),

    // SemDeDup semantic dedup, oracled via planted exact twins (cosine
    // 1.0 ≥ tau; exact twins always share an IVF cell). tau=0.75 sits
    // far above the corpus's max natural pairwise cosine (0.51 at
    // sf0.01, 0.60 at sf0.1, measured), so the keeper map is
    // closed-form: every base id keeps itself, every planted id maps
    // to its base.
    Query("dedup_semantic", (s, dir) => {
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      // One Lloyd round: the keeper map is closed-form for ANY cell
      // assignment — exact twins share a cell under every quantizer and
      // tau sits above the corpus's max natural pairwise cosine, so no
      // non-twin pair can connect whatever the cells are.
      graft.ops.Similarity.semanticDedup(s, e.unionByName(twins(e)),
          tau = 0.75, lloydIters = 1)
        .orderBy("id")
    }, """SELECT vec_id AS id, vec_id AS keeper FROM embeddings
        |UNION ALL
        |SELECT vec_id + 1099511627776 AS id, vec_id AS keeper
        |FROM embeddings ORDER BY id""".stripMargin)
  )
}
