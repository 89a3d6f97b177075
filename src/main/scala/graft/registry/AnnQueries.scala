package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables.table
import Fixtures.twins

/** Nearest-neighbour registry queries over `embeddings`: brute force,
  * SRP-LSH (multi-probe, multi-table) and IVF search in approximate,
  * exhaustive and planted-twin modes (`graft.ops.Similarity`). The
  * approximate modes' oracles replay the whole search in DuckDB.
  */
object AnnQueries {

  /** The embeddings table and its bounded probe set, `vec_id < 500`. */
  private def withProbes(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = table(s, dir, "embeddings").select("vec_id", "embedding")
    (e, e.filter(col("vec_id") < 500))
  }

  /** The unit-normalised embeddings and their planted twins. */
  private def withTwins(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = table(s, dir, "embeddings").select(col("vec_id"),
      graft.ops.Similarity.unitCol(col("embedding")).as("embedding"))
    (e, twins(e))
  }

  /** A top-k search's `(query_id, neighbor_id, rk)` rows in rank order. */
  private def ranked(df: DataFrame): DataFrame =
    df.select("query_id", "neighbor_id", "rk").orderBy("query_id", "rk")

  /** A top-1 search's `(query_id, neighbor_id)` rows. */
  private def top1(df: DataFrame): DataFrame =
    df.select(col("query_id"), col("neighbor_id")).orderBy("query_id")

  /** An SRP plane as a DuckDB DOUBLE[] literal. */
  private def arr(row: Array[Double]): String =
    row.map(java.lang.Double.toString).mkString("[", ", ", "]")

  /** The SRP bucket id of `emb` in DuckDB: bit b is set when `emb`'s
    * dot product with plane b is positive.
    */
  private def srpBucket(planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (row, b) =>
      s"(CASE WHEN LIST_DOT_PRODUCT(emb, ${arr(row)}) > 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString("\n      + ")

  /** The `(score desc, neighbor_id asc)` k-cut over the CTE
    * `cand(query_id, neighbor_id, score)`.
    */
  private def candTopK(k: Int): String =
    s"""SELECT query_id, neighbor_id, rk FROM (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id ASC) AS rk
       |  FROM cand)
       |WHERE rk <= $k ORDER BY query_id, rk""".stripMargin

  /** Each vector of the CTE `e` ranked over the centroid CTE `cs` by
    * dot(v,c) - |c|^2/2 with (score desc, cell asc) tie order — the
    * exact first-max semantics of the native ivf_cell expression — and
    * kept where `keep` holds of its rank `rn`.
    */
  private def assigned(cs: String, keep: String): String =
    s"""SELECT vec_id, emb, cell FROM (
       |  SELECT e.vec_id, e.emb, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY LIST_DOT_PRODUCT(e.emb, c.c)
       |               - LIST_DOT_PRODUCT(c.c, c.c)/2 DESC,
       |               c.cell ASC) AS rn
       |  FROM e CROSS JOIN $cs c) WHERE $keep""".stripMargin

  /** Brute-force k=5 ranking (`score desc, neighbor_id asc`) of every
    * vector, or of the `vec_id < 500` probes only: the exhaustive
    * modes' closed form.
    */
  private def exhaustiveOracle(probesOnly: Boolean): String = {
    val where = if (probesOnly) "\n  WHERE a.vec_id < 500" else ""
    s"""SELECT query_id, neighbor_id, rk FROM (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |      ORDER BY LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]),
       |                                CAST(b.embedding AS DOUBLE[])) DESC,
       |               b.vec_id ASC) AS rk
       |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id$where)
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  }

  /** Full DuckDB replica of the SRP-LSH top-k path: the nBits
    * hyperplanes ride in as double literals (algorithm constants — see
    * Similarity.srpPlanes), and the SQL recomputes every signature bit
    * as the sign of LIST_DOT_PRODUCT over DOUBLE[] — bit-identical to
    * the engine's float*double left-to-right accumulation (the same
    * parity the exhaustive ANN oracles already pin) — then the bucket
    * equi-join, the self-exclusion, the dot scores, and the
    * (score desc, neighbor_id asc) k-cut.
    */
  private def lshTopKOracle(k: Int, nBits: Int, dim: Int,
      probePred: String): String = {
    val sigExpr = srpBucket(graft.ops.Similarity.srpPlanes(nBits, dim))
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |           FROM embeddings),
       |sig AS (SELECT vec_id, emb,
       |      $sigExpr AS bucket
       |  FROM e)
       |SELECT query_id, neighbor_id, rk FROM (
       |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |      ORDER BY LIST_DOT_PRODUCT(p.emb, c.emb) DESC,
       |               c.vec_id ASC) AS rk
       |  FROM sig p JOIN sig c
       |    ON p.bucket = c.bucket AND p.vec_id <> c.vec_id
       |  WHERE $probePred)
       |WHERE rk <= $k ORDER BY query_id, rk""".stripMargin
  }

  /** Full DuckDB replica of the MULTI-PROBE SRP-LSH top-k path: base
    * signatures as in [[lshTopKOracle]]; per probe, the margins
    * |v.p_b| / ||p_b|| (plane norms as generator-computed double
    * literals) rank the bits by a stable (margin, bit) struct sort —
    * the exact tie-break of Similarity.srpProbeBuckets — and the
    * `extra` lowest bits flip into additional probed buckets; the
    * candidate union dedups per (query, neighbor) before the k-cut.
    */
  private def lshMultiProbeOracle(k: Int, nBits: Int, dim: Int, extra: Int,
      probePred: String): String = {
    val planes = graft.ops.Similarity.srpPlanes(nBits, dim)
    val norms = graft.ops.Similarity.srpPlaneNorms(nBits, dim)
    val sigExpr = srpBucket(planes)
    val marginStructs = planes.zipWithIndex.map { case (row, b) =>
      s"{'m': ABS(LIST_DOT_PRODUCT(emb, ${arr(row)})) / " +
        s"${java.lang.Double.toString(norms(b))}, 'b': $b}"
    }.mkString(",\n      ")
    val flips = (1 to extra)
      .map(i => s"xor(bucket, 1 << ms[$i].b)").mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |           FROM embeddings),
       |sig AS (SELECT vec_id, emb,
       |      $sigExpr AS bucket,
       |    list_sort([
       |      $marginStructs]) AS ms
       |  FROM e),
       |pb AS (SELECT vec_id, emb,
       |    UNNEST([bucket, $flips]) AS bucket
       |  FROM sig WHERE $probePred),
       |cand AS (SELECT DISTINCT p.vec_id AS query_id,
       |    c.vec_id AS neighbor_id,
       |    LIST_DOT_PRODUCT(p.emb, c.emb) AS score
       |  FROM pb p JOIN sig c
       |    ON p.bucket = c.bucket AND p.vec_id <> c.vec_id)
       |${candTopK(k)}""".stripMargin
  }

  /** Full DuckDB replica of the multi-TABLE SRP-LSH top-k path: the
    * wide (nBits*nTables) plane-literal signature is sliced per table
    * — table t's bucket sums bits t*nBits .. t*nBits+nBits-1 — the
    * candidate union runs one bucket equi-join per table, dedups per
    * (query, neighbor), and k-cuts on (score desc, id asc).
    */
  private def lshMultiTableOracle(k: Int, nBits: Int, nTables: Int,
      dim: Int, probePred: String): String = {
    val planes = graft.ops.Similarity.srpPlanes(nBits * nTables, dim)
    val bucketCols = (0 until nTables).map { tb =>
      s"      ${srpBucket(planes.slice(tb * nBits, (tb + 1) * nBits))} AS b$tb"
    }.mkString(",\n")
    val perTable = (0 until nTables).map { tb =>
      s"""  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    LIST_DOT_PRODUCT(p.emb, c.emb) AS score
         |  FROM sig p JOIN sig c
         |    ON p.b$tb = c.b$tb AND p.vec_id <> c.vec_id
         |  WHERE $probePred""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |           FROM embeddings),
       |sig AS (SELECT vec_id, emb,
       |$bucketCols
       |  FROM e),
       |cand AS (SELECT DISTINCT query_id, neighbor_id, score FROM (
       |$perTable))
       |${candTopK(k)}""".stripMargin
  }

  /** Full DuckDB replica of the deterministic-Lloyd IVF top-k path:
    * unrolled CTEs replay the quantizer fit — init = the nlist
    * lowest-id vectors; per round, assignment = argmax of
    * dot(v,c) - |c|^2/2 with (score desc, cell asc) tie order (the
    * exact first-max semantics of the native ivf_cell expression) and
    * update = per-dimension DECIMAL(38,15)-exact mean rounded to 9
    * decimals (empty cells keep their centroid) — then the search:
    * corpus assigned to 1 cell, probes to their nprobe best cells,
    * cell equi-join, dot scores, (score desc, id asc) k-cut.
    */
  private def ivfLloydOracle(k: Int, nlist: Int, nprobe: Int,
      lloydIters: Int, probePred: String): String = {
    val rounds = (1 to lloydIters).map { i =>
      s"""a$i AS (${assigned(s"c${i - 1}", "rn = 1")}),
         |u$i AS (SELECT cell, pos,
         |    ROUND(CAST(SUM(CAST(v AS DECIMAL(38,15))) AS DOUBLE)
         |      / COUNT(*), 9) AS cv
         |  FROM (SELECT cell, UNNEST(emb) AS v,
         |        UNNEST(generate_series(1, LEN(emb))) AS pos FROM a$i)
         |  GROUP BY cell, pos),
         |c$i AS (SELECT c0.cell, COALESCE(u.c, c0.c) AS c
         |  FROM c${i - 1} c0 LEFT JOIN
         |    (SELECT cell, LIST(cv ORDER BY pos) AS c FROM u$i GROUP BY cell) u
         |  ON u.cell = c0.cell)""".stripMargin
    }.mkString(",\n")
    val cf = s"c$lloydIters"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |           FROM embeddings),
       |c0 AS (SELECT CAST(rn - 1 AS INT) AS cell, c FROM (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn,
       |         CAST(embedding AS DOUBLE[]) AS c
       |  FROM embeddings ORDER BY vec_id LIMIT $nlist)),
       |$rounds,
       |corp AS (${assigned(cf, "rn = 1")}),
       |pr AS (${assigned(cf, s"rn <= $nprobe AND $probePred")})
       |SELECT query_id, neighbor_id, rk FROM (
       |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |      ORDER BY LIST_DOT_PRODUCT(p.emb, c.emb) DESC,
       |               c.vec_id ASC) AS rk
       |  FROM pr p JOIN corp c
       |    ON p.cell = c.cell AND p.vec_id <> c.vec_id)
       |WHERE rk <= $k ORDER BY query_id, rk""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    // ANN: brute-force top-1 neighbor by dot product (exact doubles on
    // both sides -> argmax is oracle-checkable).
    Query("ann_top1_dot", (s, dir) => {
      val (e, probes) = withProbes(s, dir)
      top1(graft.ops.Similarity.bruteForceTopK(e, probes, 1))
    }, """SELECT a.vec_id AS query_id,
        |ARG_MAX(b.vec_id, LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))) AS neighbor_id
        |FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |WHERE a.vec_id < 500
        |GROUP BY a.vec_id ORDER BY query_id""".stripMargin),

    // ANN scale path: SRP-LSH bucketed top-k — the REAL approximate
    // k=5 surface, FULLY hash-oracled: the SRP hyperplanes are
    // algorithm constants (like the 0.85 damping factor), so the
    // oracle embeds them as double literals and independently
    // recomputes every signature bit (sign of a float->double
    // dot product, bit-identical to LIST_DOT_PRODUCT on DOUBLE[]),
    // the bucket equi-join, the dot scores, and the (score desc, id
    // asc) k-cut in DuckDB. Recall vs brute force additionally
    // asserted in OpsSpec.
    Query("ann_lsh_topk", (s, dir) => {
      val (e, probes) = withProbes(s, dir)
      ranked(graft.ops.Similarity.lshTopK(e, probes, k = 5, nBits = 6))
    },
      // the REAL approximate ANN surfaces, fully replayed in SQL —
      // plane-literal SRP signatures / unrolled deterministic-Lloyd IVF
      lshTopKOracle(k = 5, nBits = 6, dim = 64,
        probePred = "p.vec_id < 500")),

    // Multi-probe LSH (the recall lever of the scale path): each probe
    // also searches the buckets reached by flipping its `multiProbe`
    // LOWEST-MARGIN signature bits. Fully hash-oracled: the margins
    // |v·p|/||p|| are the same plane-literal dot products (norms ride
    // as generator-computed constants), the flip choice is a
    // list_sort over (margin, bit) structs — the exact stable
    // tie-break of srpProbeBuckets — and the candidate union dedups
    // before the k-cut exactly like the engine.
    Query("ann_lsh_multiprobe_topk", (s, dir) => {
      val (e, probes) = withProbes(s, dir)
      ranked(graft.ops.Similarity.lshTopK(e, probes, k = 5, nBits = 6,
        multiProbe = 2))
    }, lshMultiProbeOracle(k = 5, nBits = 6,
        dim = 64, extra = 2, probePred = "vec_id < 500")),

    // Multi-TABLE LSH (the other standard recall lever: L independent
    // tables, miss rate p^L): one wide native signature pass,
    // bit-sliced into per-table buckets. Fully hash-oracled — the
    // oracle slices the same wide plane-literal signature per table.
    Query("ann_lsh_multitable_topk", (s, dir) => {
      val (e, probes) = withProbes(s, dir)
      ranked(graft.ops.Similarity.lshTopKTables(e, probes, k = 5, nBits = 6,
        nTables = 4))
    }, lshMultiTableOracle(k = 5, nBits = 6,
        nTables = 4, dim = 64, probePred = "p.vec_id < 500")),

    // ANN scale path 2: IVF with the DETERMINISTIC Lloyd coarse
    // quantizer (fixed lowest-id init, decimal-exact centroid updates
    // — bit-reproducible at any parallelism, the same contract as
    // PageRank), searched at nprobe=2 of nlist=8 cells. FULLY
    // hash-oracled: DuckDB replays both Lloyd rounds (assignment
    // argmax + exact decimal per-dimension means) and the cell-bounded
    // search end-to-end. Recall vs brute force in OpsSpec.
    Query("ann_ivf_topk", (s, dir) => {
      val (e, probes) = withProbes(s, dir)
      ranked(graft.ops.Similarity.ivfTopK(s, e, probes, k = 5, nlist = 8,
        nprobe = 2, lloydIters = 2))
    }, ivfLloydOracle(k = 5, nlist = 8, nprobe = 2,
        lloydIters = 2, probePred = "vec_id < 500")),

    // ANN exhaustive-mode oracles: the approximate paths dialed to
    // their provably-exact settings — lshTopK with nBits = 0 collapses
    // the corpus into ONE bucket, and ivfTopK with nprobe = nlist
    // searches EVERY quantizer cell — so the k=5 output is identical to
    // brute force by construction and DuckDB oracles the full ranking
    // machinery (window, `score desc, neighbor_id asc` tie order, the
    // k cut) by rows+schema+hash. dot_f32 accumulates left-to-right in
    // double, bit-identical to LIST_DOT_PRODUCT(CAST(.. AS DOUBLE[])),
    // so the rank order cannot diverge. The approximate k=5 variants
    // above stay as the honest scale surface (recall vs brute force in
    // OpsSpec).
    Query("ann_lsh_exhaustive_topk", (s, dir) => {
      val (e, probes) = withProbes(s, dir)
      ranked(graft.ops.Similarity.lshTopK(e, probes, k = 5, nBits = 0))
    },
      // exhaustive-mode ANN: approximate path == brute force by
      // construction, so the full k=5 ranking oracles in closed form
      exhaustiveOracle(probesOnly = true)),

    // One Lloyd round: with nprobe = nlist every probe visits EVERY
    // quantizer cell, so the output is brute-force-identical whatever
    // the centroids are — the fit only shapes the join.
    Query("ann_ivf_exhaustive_topk", (s, dir) => {
      val (e, probes) = withProbes(s, dir)
      ranked(graft.ops.Similarity.ivfTopK(s, e, probes, k = 5, nlist = 8,
        nprobe = 8, lloydIters = 1))
    }, exhaustiveOracle(probesOnly = true)),

    // ANN planted-twin oracles: each probe is an exact copy (id+2^40)
    // of a corpus vector. An identical vector deterministically shares
    // its twin's SRP bucket / IVF cell, and by COSINE the twin scores
    // ~1.0 while every other (distinct, non-parallel) vector scores
    // strictly below — so rank 1 per probe is the twin, closed-form in
    // SQL, while the query exercises the REAL approximate path
    // (bucketing / quantizer cells / top-1 cut) end-to-end. The
    // k=5 dot-ranked variants above stay as the honest approximate
    // surface (recall vs brute force asserted in OpsSpec).
    Query("ann_lsh_plant_top1", (s, dir) => {
      val (e, planted) = withTwins(s, dir)
      top1(graft.ops.Similarity.lshTopK(e.unionByName(planted), planted,
        k = 1, nBits = 6))
    },
      // planted-twin ANN invariants: rank-1 by cosine for an exact-copy
      // probe is deterministically its twin (no duplicate vectors exist
      // in the corpus), so the approximate paths oracle in closed form
      """SELECT vec_id + 1099511627776 AS query_id, vec_id AS neighbor_id
        |FROM embeddings ORDER BY query_id""".stripMargin),

    Query("ann_ivf_plant_top1", (s, dir) => {
      val (e, planted) = withTwins(s, dir)
      // One Lloyd round: the rank-1 answer is the planted twin for ANY
      // centroids — an identical vector shares its twin's argmin cell
      // and the probe's first probed cell IS its own assigned cell.
      top1(graft.ops.Similarity.ivfTopK(s, e.unionByName(planted), planted,
        k = 1, nlist = 8, nprobe = 2, lloydIters = 1))
    }, """SELECT vec_id + 1099511627776 AS query_id, vec_id AS neighbor_id
        |FROM embeddings ORDER BY query_id""".stripMargin),

    // Corpus-scale self k-NN join oracled: EVERY vector is a probe
    // (nothing broadcast — the shuffle-join-on-cell shape semantic
    // dedup uses at 100 TB), over the planted-twin corpus where each
    // vector's rank-1 cosine neighbor is deterministically its exact
    // copy — so the WHOLE output (both directions of every twin pair)
    // is closed-form.
    Query("ann_self_top1", (s, dir) => {
      val (e, planted) = withTwins(s, dir)
      // One Lloyd round: same twin-share argument as
      // ann_ivf_plant_top1 — rank 1 is the exact copy under ANY
      // centroid set.
      top1(graft.ops.Similarity.ivfSelfTopK(s, e.unionByName(planted), k = 1,
        nlist = 8, nprobe = 2, lloydIters = 1))
    }, """SELECT query_id, neighbor_id FROM (
        |  SELECT vec_id AS query_id,
        |    vec_id + 1099511627776 AS neighbor_id FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1099511627776 AS query_id,
        |    vec_id AS neighbor_id FROM embeddings)
        |ORDER BY query_id""".stripMargin),

    // Self k-NN in exhaustive mode: nprobe = nlist means every probe
    // vector visits EVERY quantizer cell, and since each corpus vector
    // lives in exactly one cell, each (query, neighbor) pair meets
    // exactly once — the shuffle-join ranking (window over the cell
    // join, `score desc, neighbor_id asc` ties, the k cut, BOTH
    // directions of every pair) equals brute force by construction and
    // DuckDB oracles the full k=5 ranking rows+schema+hash. Complements
    // `ann_self_top1`, which only pins rank 1 through planted twins.
    // One Lloyd round: nprobe = nlist — exhaustive by construction,
    // so the result is centroid-independent (see
    // ann_ivf_exhaustive_topk).
    Query("ann_self_exhaustive_topk", (s, dir) => {
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      ranked(graft.ops.Similarity.ivfSelfTopK(s, e, k = 5, nlist = 8,
        nprobe = 8, lloydIters = 1))
    }, exhaustiveOracle(probesOnly = false))
  )
}
