package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Round-6 pipeline operators: MERGE-style upsert row semantics, BM25
  * scoring against a closed-form fixture, Bloom-prefiltered
  * decontamination equivalence, salted domain rollup equivalence, and
  * stratified-sample determinism.
  */
class MergeRankingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("upsert: delta wins whole-row (NULLs preserved), base carries, inserts append") {
    import spark.implicits._
    val base = Seq((1L, "old1", "en"), (2L, "old2", "de"), (3L, "old3", "fr"))
      .toDF("id", "text", "lang")
    val delta = Seq((2L, null.asInstanceOf[String], "zh"), (4L, "new4", "es"))
      .toDF("id", "text", "lang")
    val out = Merge.upsert(base, delta, Seq("id"))
      .collect().map(r => (r.getLong(0),
        Option(r.getString(1)).getOrElse("<null>"), r.getString(2))).toSet
    assert(out === Set(
      (1L, "old1", "en"),
      (2L, "<null>", "zh"), // row-level delta win: NULL text is KEPT
      (3L, "old3", "fr"),
      (4L, "new4", "es")))
  }

  test("upsert: rejects schema mismatch and empty key") {
    import spark.implicits._
    val a = Seq((1L, "x")).toDF("id", "text")
    val b = Seq((1L, "x")).toDF("id", "other")
    intercept[IllegalArgumentException](Merge.upsert(a, b, Seq("id")))
    intercept[IllegalArgumentException](Merge.upsert(a, a, Seq.empty))
  }

  test("upsert: raises on duplicate delta keys (MERGE multiple-match semantics)") {
    import spark.implicits._
    val base = Seq((1L, "old1"), (2L, "old2")).toDF("id", "text")
    val dup = Seq((2L, "newA"), (2L, "newB"), (3L, "new3"))
      .toDF("id", "text")
    // SQL MERGE INTO errors when a target row matches multiple source
    // rows — a silent full-outer fan-out would duplicate base rows
    val e = intercept[Exception] {
      Merge.upsert(base, dup, Seq("id")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("multiple rows for key")),
      s"expected the duplicate-key guard, got: $e")
    // unique delta keys still pass through the guard untouched
    val ok = Merge.upsert(base,
        Seq((2L, "new2")).toDF("id", "text"), Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ok === Set((1L, "old1"), (2L, "new2")))
  }

  test("upsert: all-key schema keeps the duplicate guard alive (no silent fan-out)") {
    import spark.implicits._
    // key covers every column: the winner projection reads no non-key
    // column, so the guard must survive in the WHERE instead of being
    // pruned with the unreferenced __in_delta
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
    val dup = Seq((2L, "b"), (2L, "b"), (3L, "c")).toDF("id", "tag")
    val e = intercept[Exception] {
      Merge.upsert(base, dup, Seq("id", "tag")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("multiple rows for key")),
      s"expected the duplicate-key guard, got: $e")
    // unique all-key delta: MERGE degenerates to set union on the key
    val ok = Merge.upsert(base, Seq((2L, "b"), (3L, "c")).toDF("id", "tag"),
        Seq("id", "tag"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ok === Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("bm25: matches the closed-form score on a two-doc fixture") {
    import spark.implicits._
    // doc 0: 'x x y' (tf_x=2, dl=3); doc 1: 'y z z z' (dl=4); query = {x}
    // N=2, avgdl=3.5, df_x=1, idf = ln((2-1+.5)/(1+.5)+1) = ln 2
    // s(0,x) = ln2 * 2*2.2 / (2 + 1.2*(.25 + .75*3/3.5))
    val docs = Seq((0L, "x x y"), (1L, "y z z z")).toDF("doc_id", "text")
    val out = Ranking.bm25(docs, Seq("x"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val k1 = 1.2; val b = 0.75
    val idf = math.log(2.0)
    val expected = idf * (2 * (k1 + 1.0)) /
      (2 + k1 * ((1.0 - b) + b * 3 / 3.5))
    assert(out.keySet === Set(0L))
    assert(math.abs(out(0L) - expected) < 1e-6)
  }

  test("bm25: rarer terms score higher at equal tf/dl") {
    import spark.implicits._
    val docs = Seq(
      (0L, "rare common"), (1L, "common pad"), (2L, "common pad"),
      (3L, "pad pad")).toDF("doc_id", "text")
    val out = Ranking.bm25(docs, Seq("rare", "common"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // doc0 holds rare+common, doc1 only common → doc0 strictly higher
    assert(out(0L) > out(1L))
    assert(out(1L) === out(2L))
    assert(!out.contains(3L))
  }

  test("bloomContamination ≡ contamination (exact result; bloom is a prefilter)") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c d e"), (1L, "c d e f g"), (2L, "x y z w q"),
      (3L, "a b"), (4L, "")).toDF("doc_id", "text")
    val bench = Seq((100L, "c d e")).toDF("doc_id", "text")
    val exact = TextAnalysis.contamination(docs, bench, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val bloom = TextAnalysis.bloomContamination(docs, bench, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(bloom === exact)
    assert(exact(0L) === 1L && exact(1L) === 1L && exact(2L) === 0L)
  }

  test("domainStats: salted two-stage rollup equals the plain groupBy") {
    import spark.implicits._
    val docs = (0L until 200L).map(i =>
        (i, ("tok " * (i % 7 + 1).toInt).trim, s"d${i % 3}"))
      .toDF("doc_id", "text", "source")
    val salted = TextAnalysis.domainStats(docs)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    val plain = docs.groupBy(col("source").as("domain"))
      .agg(count(lit(1)), sum(length(col("text")).cast("long")),
        sum(size(split(col("text"), " ")).cast("long")),
        min(length(col("text")).cast("long")),
        max(length(col("text")).cast("long")))
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(salted === plain)
  }

  test("semanticDedup: transitive chain elects one min-id keeper; uniques and nulls keep themselves") {
    import spark.implicits._
    // unit circle: v1 at 25°, v2 at 50° — cos(v0,v1)=cos(v1,v2)=cos25°
    // ≈ .906 ≥ tau, cos(v0,v2)=cos50° ≈ .643 < tau: the 0-1-2 chain is
    // connected only TRANSITIVELY. nlist=2 separates the 50°-arc chain
    // from the unique vector, so cluster assignment cannot split the
    // chain.
    def v(deg: Double) = Seq(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val rows = Seq(
      (0L, v(0)), (1L, v(25)), (2L, v(50)),
      (3L, Seq(0f, -1f)),
      (4L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(spark, rows, tau = 0.8, nlist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 4L))
  }

  test("stratifiedSample: deterministic, per-stratum thresholded, subset of input") {
    import spark.implicits._
    val docs = (0L until 1000L).map(i =>
        (i, s"text $i", if (i % 2 == 0) "en" else "zh"))
      .toDF("doc_id", "text", "lang")
    val s1 = TextAnalysis.stratifiedSample(docs, "lang",
      Seq("en" -> "80"), "10").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val s2 = TextAnalysis.stratifiedSample(docs.repartition(13), "lang",
      Seq("en" -> "80"), "10").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(s1 === s2) // partitioning-independent
    val en = s1.count(_ % 2 == 0).toDouble / 500
    val zh = s1.count(_ % 2 == 1).toDouble / 500
    // 0x80/0x100 = 50%, 0x10/0x100 = 6.25% — wide tolerance, n=500
    assert(en > 0.4 && en < 0.6)
    assert(zh > 0.01 && zh < 0.13)
  }

  test("stratifiedSample: malformed thresholds fail fast") {
    import spark.implicits._
    val docs = Seq((1L, "x", "en")).toDF("doc_id", "text", "lang")
    // uppercase hex sorts between '9' and 'a' in the lexicographic
    // compare; short/long strings shift the keep rate silently — all
    // must be rejected, in rates AND in the default
    for (bad <- Seq("C0", "8", "800", "g0", ""))
      intercept[IllegalArgumentException] {
        TextAnalysis.stratifiedSample(docs, "lang", Seq("en" -> bad), "10")
      }
    intercept[IllegalArgumentException] {
      TextAnalysis.stratifiedSample(docs, "lang", Seq("en" -> "80"), "C0")
    }
  }
}
