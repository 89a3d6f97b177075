package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator family from SURVEY.md §2
  * exercised over the driver-generated tables in `sfDir`; entries with a
  * matching [[oracleSql]] are cross-checked row/schema/hash against DuckDB.
  *
  * Numeric determinism: double sums are computed through exact DECIMAL
  * aggregation and only then cast back to DOUBLE, so Spark's partial
  * aggregation order and DuckDB's single-threaded order give bit-identical
  * results.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** The documents table as pages, with `word` planted at every token
    * position `i` where `i % modulus == pos`, for each `(pos, word)` of
    * `plants`. The planted-token oracles rebuild the same positions in
    * closed form.
    */
  private def plantedPages(s: SparkSession, dir: String, modulus: Int,
      plants: Seq[(Int, String)]): Dataset[graft.spark.Page] = {
    val cases = plants.map { case (pos, word) =>
      s"WHEN i % $modulus = $pos THEN '$word'"
    }.mkString(" ")
    graft.corpus.SynthPages.fromDocuments(s,
      t(s, dir, "documents").select(col("doc_id"), col("source"), col("lang"),
        expr(s"array_join(transform(split(text, ' '), (t, i) -> " +
          s"CASE $cases ELSE t END), ' ')").as("text")))
  }

  /** [[plantedPages]] extracted with `names` as every page's target names. */
  private def plantedSentences(s: SparkSession, dir: String, modulus: Int,
      plants: Seq[(Int, String)], names: Seq[String]) =
    graft.spark.ExtractStage.sentences(s, plantedPages(s, dir, modulus, plants),
      targetNamesFn = Some((_: String) => names))

  /** Exact decimal sum of a double column, returned as double. */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Flagship: the full KG extraction path on the reference corpus —
    * pages -> parity DOM extract -> labeled mentions -> triples. (The
    * `kg_triples` query below runs the same path over planted SynthPages
    * so the driver can oracle its full rows; the reference-corpus
    * variant stays here as the smoke surface, with its triple P/R gate
    * asserted against the reference's own gold labels in PipelineSpec.)
    */
  def entry(spark: SparkSession): DataFrame = {
    val pages = graft.corpus.RefCorpus.pages(spark)
    val names = spark.sparkContext.broadcast(graft.corpus.RefCorpus.targetNameMap())
    val sents = graft.spark.ExtractStage.sentences(spark, pages, Some(names))
    val mentions = graft.kg.Triples.goldMentions(spark, sents)
    graft.kg.Triples.fromMentions(spark, mentions).toDF()
  }

  // ---------------------------------------------------------------------
  // Query registry. Keys are stable; comments cite SURVEY.md §2 ids.
  // ---------------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A1/A3-style multi-agg with exact decimal arithmetic (TPC-H Q1 shape).
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(BigDecimal(1)).cast("decimal(18,2)") -
               col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // J-family relational join: broadcast dims (customer is small), one
    // shuffle on the fact side only. At 100 TB the dim stays broadcast.
    "q2_join_broadcast" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          sum((col("l_extendedprice").cast("decimal(18,2)") *
               (lit(BigDecimal(1)).cast("decimal(18,2)") -
                col("l_discount").cast("decimal(18,2)"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("c_mktsegment")
    }),

    // O/W-family: ranking window, top-3 parts per supplier by price.
    "q3_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
                 col("l_linenumber").asc)
      t(s, dir, "lineitem")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("l_suppkey", "rk", "l_orderkey", "l_linenumber",
                "l_extendedprice")
        .orderBy("l_suppkey", "rk")
    }),

    // J-family semi + anti joins: per segment, customers with vs without
    // at least one urgent order (left_semi / left_anti against the same
    // filtered build side — filter is pushed below the join).
    "q4_semi_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val withU = c.join(urgent, c("c_custkey") === urgent("o_custkey"),
          "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("with_urgent"))
      val withoutU = c.join(urgent, c("c_custkey") === urgent("o_custkey"),
          "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("without_urgent"))
      withU.join(withoutU, Seq("c_mktsegment"), "full_outer")
        .na.fill(0L, Seq("with_urgent", "without_urgent"))
        .orderBy("c_mktsegment")
    }),

    // A2 vocabulary extraction: distinct token + count over documents
    // (the reference's gazetteer count-build, SURVEY §2.4 A1/A2).
    "doc_vocab" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tkn"))
        .filter(length(col("tkn")) > 0)
        .groupBy("tkn").agg(count(lit(1)).as("n"))
        .orderBy("tkn")
    }),

    // Corpus unigram-LM quality score (the standard LM quality filter
    // of web-scale pipelines): topK=20 is deliberately smaller than the
    // documents vocabulary, so BOTH the in-vocab and OOV-floor paths
    // are exercised and oracled. round(3) absorbs summation-order and
    // libm-log ulp differences between Spark and DuckDB: the engines
    // can round apart only AT a grid boundary, and the coarse grid has
    // 1000x fewer boundaries than round(6) while staying a meaningful
    // quality score.
    "doc_unigram_lm" -> ((s, dir) => {
      graft.ops.TextAnalysis.unigramLogProb(t(s, dir, "documents"), topK = 20)
        .select(col("doc_id"), col("n_tokens"),
          round(col("avg_logp"), 3).as("avg_logp"))
        .orderBy("doc_id")
    }),

    // Text analysis: token count + simple quality signals per doc.
    "doc_quality" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("len"),
          (length(col("text")) -
           length(regexp_replace(col("text"), "[aeiou]", "")))
            .cast("long").as("n_vowels"))
        .orderBy("doc_id")
    }),

    // A9-style exact dedup over documents: md5 content key, min doc id
    // survives (hash-groupBy; at scale this is one shuffle on the digest).
    "doc_dedup_exact" -> ((s, dir) => {
      graft.ops.Dedup.exact(t(s, dir, "documents")).orderBy("content_key")
    }),

    // Grouping-sets / rollup with subtotal rows (absent in the
    // reference; standard engine capability). NULL subtotal markers are
    // coalesced to 'ALL' on both sides so ordering is
    // null-position-independent between Spark and DuckDB.
    "q5_rollup" -> ((s, dir) => {
      t(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("sum_price"))
        .orderBy("status", "priority")
    }),

    // W1-analog sessionization over events: session = gap > 30 min,
    // lag + running sum (the reference's block-change segmentation shape).
    "q6_events_session" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
               unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800,
               1L).otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess_id")
        .agg(count(lit(1)).as("n_events"),
             dsum(col("value")).as("sess_value"))
        .orderBy("user_id", "sess_id")
    }),

    // Flagship KG path (S1+P1-P12+J3+triples), FULL rows oracled (was
    // rows-only): planted 2-token + 1-token target names at fixed
    // positions -> DOM extraction -> IOB labeling -> goldMentions ->
    // deduplicated triples. Every column of every (subj, pred, obj,
    // url) row is position-derivable in DuckDB; the reference-corpus
    // variant of the same path is `entry` + PipelineSpec's P/R gate.
    // Corpus assumptions as documented at kg_relations_counts.
    "kg_triples" -> ((s, dir) => {
      val sents = plantedSentences(s, dir, 31,
        Seq(5 -> "zzjohn", 6 -> "zzdoe", 20 -> "zzann"),
        Seq("zzjohn zzdoe", "zzann"))
      val mentions = graft.kg.Triples.goldMentions(s, sents)
      graft.kg.Triples.fromMentions(s, mentions).toDF()
        .select("subj", "pred", "obj", "url")
        .orderBy("url", "obj")
    }),

    // Surface-pattern relation extraction (hasTitle/hasEmail), FULL
    // rows oracled (was rows-only): same planting as
    // kg_relations_counts, but the oracle reproduces every (subj, pred,
    // obj, url) row WITH its multiplicity (goldRelations emits one row
    // per pattern occurrence; occurrences of the same planted pattern
    // in one doc yield identical rows).
    "kg_relations" -> ((s, dir) => {
      val sents = plantedSentences(s, dir, 37,
        Seq(10 -> "dr.zz", 11 -> "zzjohn", 12 -> "zzdoe", 20 -> "zz@zz.aa"),
        Seq("zzjohn zzdoe"))
      graft.kg.Relations.goldRelations(s, sents).toDF()
        .select("subj", "pred", "obj", "url")
        .orderBy("url", "pred", "obj")
    }),

    // Dedup: word-set Jaccard on consecutive-doc candidate pairs
    // (oracle-checked); the shape of the n-gram-Jaccard verify stage.
    "dedup_jaccard_pairs" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val a = d.select(col("doc_id").as("id_a"), col("text").as("text_a"))
      val b = d.select((col("doc_id") - 1).as("id_a"),
        col("doc_id").as("id_b"), col("text").as("text_b"))
      a.join(b, "id_a")
        .select(col("id_a"), col("id_b"),
          round(graft.ops.Dedup.jaccard(col("text_a"), col("text_b")), 6)
            .as("jaccard"))
        .orderBy("id_a")
    }),

    // Dedup: MinHash+LSH near-dup candidate pipeline (shingle -> minhash
    // -> band -> bucket join -> verify), oracled on the planted
    // invariant (was rows-only): exact copies at id+2^40 share every
    // band deterministically (identical shingle sets -> identical
    // signatures) and sort adjacent even in chain-paired hot buckets,
    // so selecting the planted id offset yields EXACTLY one jaccard-1.0
    // pair per document — closed-form in DuckDB. Natural near-dup pairs
    // (band survival probabilistic) are exercised by OpsSpec instead.
    "dedup_minhash_lsh" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val planted = d.select((col("doc_id") + lit(1099511627776L)).as("doc_id"),
        col("text"))
      graft.ops.Dedup.minhashLshPairs(d.select("doc_id", "text")
        .unionByName(planted.select("doc_id", "text")), minJaccard = 0.7)
        .filter(col("id_b") === col("id_a") + lit(1099511627776L))
        .orderBy("id_a", "id_b")
    }),

    // Dedup: SimHash near-dup pairs (blocked by rotated 16-bit keys),
    // oracled on the same planted exact-copy invariant: identical text
    // -> identical simhash -> every rotated block key shared -> the
    // planted pair always survives blocking and verifies at hamming 0.
    "dedup_simhash" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val planted = d.select((col("doc_id") + lit(1099511627776L)).as("doc_id"),
        col("text"))
      graft.ops.Dedup.simhashPairs(d.select("doc_id", "text")
        .unionByName(planted.select("doc_id", "text")), maxHamming = 3)
        .filter(col("id_b") === col("id_a") + lit(1099511627776L))
        .orderBy("id_a", "id_b")
    }),

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
    "doc_dedup_clusters" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val p1 = d.select((col("doc_id") + lit(1099511627776L)).as("doc_id"),
        col("text"))
      val p2 = d.select((col("doc_id") + lit(2199023255552L)).as("doc_id"),
        col("text"))
      val pairs = graft.ops.Dedup.minhashLshPairs(
          d.unionByName(p1).unionByName(p2), minJaccard = 0.7)
        .filter(col("id_b") === col("id_a") + lit(1099511627776L))
      graft.ops.Dedup.connectedKeepers(pairs)
        .orderBy("doc_id")
    }),

    // Dedup: word-TRIGRAM Jaccard on consecutive-doc pairs (the n-gram
    // variant of the verify metric; oracle-checked against DuckDB's
    // list functions).
    "dedup_ngram_jaccard" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val a = d.select(col("doc_id").as("id_a"), col("text").as("text_a"))
      val b = d.select((col("doc_id") - 1).as("id_a"),
        col("doc_id").as("id_b"), col("text").as("text_b"))
      a.join(b, "id_a")
        .select(col("id_a"), col("id_b"),
          round(graft.ops.Dedup.ngramJaccard(col("text_a"), col("text_b"), 3), 6)
            .as("jaccard3"))
        .orderBy("id_a")
    }),

    // PII scrubbing oracled end-to-end: planted email/URL tokens at
    // fixed positions -> the parity-pinned isEmail/isUrl kernels
    // (kg_predicates proves them == the DuckDB formula replicas)
    // redact them to placeholder tags; the rebuilt text and redaction
    // counts are position-derivable. Corpus assumption as documented
    // at kg_relations_counts: unplanted tokens are lowercase
    // punctuation-free words, so only the plants fire.
    "doc_pii_redact" -> ((s, dir) => {
      // plant one of each PII class at fixed token positions (natural
      // corpus text is digit-free words, so nothing else can match any
      // predicate — the oracle knows the redactions by position)
      val varied = t(s, dir, "documents").select(col("doc_id"),
        expr("""array_join(transform(split(text, ' '), (t, i) ->
          CASE WHEN i % 17 = 4 THEN 'x@y.zz'
               WHEN i % 17 = 9 THEN 'http://ex.aa/p'
               WHEN i % 17 = 12 THEN '+1-555-0107'
               WHEN i % 17 = 14 THEN '10.20.30.41'
               ELSE t END), ' ')""").as("text"))
      graft.ops.TextAnalysis.redactPii(s, varied)
        .orderBy("doc_id")
    }),

    // Gopher-style repetition signals oracled DIRECTLY on the natural
    // corpus (no planting needed — dup-word and top-bigram fractions
    // are pure per-doc statistics DuckDB re-derives with list
    // functions; both engines run the same exact-integer ratios
    // through the same IEEE double ops).
    "doc_repetition" -> ((s, dir) => {
      graft.ops.TextAnalysis.repetition(s, t(s, dir, "documents"))
        .orderBy("doc_id")
    }),

    // Benchmark decontamination oracled DIRECTLY on the natural corpus:
    // benchmark = every 50th document, per-doc shared-trigram counts
    // re-derived in DuckDB with the same distinct-gram formulation as
    // the dedup_ngram_jaccard oracle. No planting — the overlap
    // statistic is whatever the corpus naturally contains (benchmark
    // docs at minimum hit their own grams).
    "doc_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.TextAnalysis.contamination(d,
          d.filter(col("doc_id") % 50 === 0), n = 3)
        .orderBy("doc_id")
    }),

    // Deterministic train/val/test assignment oracled exactly: the
    // md5-hex-threshold split is the same pure expression in both
    // engines (Spark and DuckDB md5 hex agree byte-for-byte — the
    // doc_dedup_exact oracle already rests on that).
    "doc_split_assign" -> ((s, dir) => {
      graft.ops.TextAnalysis.assignSplit(
          t(s, dir, "documents").select("doc_id"))
        .orderBy("doc_id")
    }),

    // Quality scoring through the TextAnalysis.quality operator
    // (stopword ratio + mean token span on top of the length stats).
    "doc_quality_ext" -> ((s, dir) => {
      graft.ops.TextAnalysis.quality(t(s, dir, "documents"))
        .orderBy("doc_id")
    }),

    // Fingerprinting via the native codegen Fnv1a64 expression; the
    // oracle checks the collision-free invariant without replicating
    // the hash: distinct fingerprints == distinct texts.
    "doc_fingerprint" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // Distinct-text is counted over a 128-bit md5 digest rather than
      // the raw text, so the multi-distinct Expand shuffles 16 bytes
      // per row instead of whole documents (md5 collisions are not a
      // practical concern below ~2^60 docs; equal texts always digest
      // equally, so the count can only be exact).
      d.select(graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"),
          unhex(md5(col("text"))).as("text_digest"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_distinct_fp"),
          countDistinct(col("text_digest")).as("n_distinct_text"))
    }),

    // Language-ID heuristic (marker-word argmax), oracle-checked.
    "doc_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.TextAnalysis.langGuess(col("text")).as("lang_guess"))
        .orderBy("doc_id")
    }),

    // BPE-ish regex token count, oracle-checked.
    "doc_bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"))
        .orderBy("doc_id")
    }),

    // Dataset-card stats (ops.CorpusStats): one summary row with EXACT
    // distributed quantiles — rank fetch over a range partition via the
    // same prefix-sum shape as packing, linear interpolation at
    // r = p*(n-1), the definition DuckDB's quantile_cont shares (which
    // is what lets the oracle cross-check a quantile at all;
    // approx_percentile's t-digest could never hash-match).
    "doc_corpus_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        size(filter(split(col("text"), " "), w => length(w) > 0))
          .cast("long").as("n_tokens"))
      graft.ops.CorpusStats.tokenCard(s, d)
        .select("n_docs", "total_tokens", "min_tokens", "max_tokens",
          "p50_tokens", "p90_tokens")
    }),

    // Sequence packing (concat-and-chunk, ops.Packing): docs in doc_id
    // order form one token stream cut into 512-token training
    // sequences, docs splitting across boundaries. Token count = word
    // count (closed-form both sides); the distributed prefix sum must
    // equal DuckDB's sequential window cumsum exactly, row for row.
    "doc_pack_chunks" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        size(filter(split(col("text"), " "), w => length(w) > 0))
          .as("n_tokens"))
      graft.ops.Packing.chunkAssignments(s, docs, seqLen = 512)
        .orderBy("doc_id", "seq_id")
    }),

    // C4-style line-level corpus dedup: every doc gets a unique intro
    // line and a unique body line (kept), plus one boilerplate line
    // planted in ALL docs and one in every even doc (both over the
    // minDocs=3 doc-frequency threshold -> removed) — so the cleaned
    // text and the removal counts are closed-form.
    "doc_line_dedup" -> ((s, dir) => {
      val varied = t(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("intro "), col("doc_id"), lit("\n"),
          col("doc_id"), lit(":"), col("text"),
          lit("\nsubscribe to our newsletter"),
          when(col("doc_id") % 2 === 0, lit("\nfollow us on social media"))
            .otherwise(lit(""))).as("text"))
      graft.ops.Dedup.removeBoilerplateLines(varied, minDocs = 3)
        .orderBy("doc_id")
    }),

    // Cross-document exact-substring dedup (Lee et al. 2022 semantics,
    // ops.SubstringDedup): maximal token spans of length >= k=13
    // appearing verbatim in >= 2 distinct docs, merged per doc over
    // overlap/adjacency. The synthetic corpus genuinely shares long
    // token runs across docs (small vocab), so the report is
    // non-trivial; the oracle recomputes it gram-by-gram in SQL.
    "doc_substring_dedup" -> ((s, dir) => {
      graft.ops.SubstringDedup.duplicatedSpans(t(s, dir, "documents"), k = 13)
        .orderBy("doc_id")
    }),

    // URL canonicalization (ops.Urls — pure codegen column kernel, the
    // crawl-side dedup key): five planted variant shapes per doc_id
    // (case/port/userinfo/tracking-params/fragment noise, plus a
    // schemeless malformed row) whose canonical forms are closed-form
    // strings — the oracle needs no URL library, it writes the
    // expected output directly, like the multimodal oracles.
    "doc_url_canonical" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select(col("doc_id"),
        expr("""CASE CAST(doc_id % 5 AS INT)
          WHEN 0 THEN concat('HTTPS://WWW.Example', doc_id % 7,
            '.COM:443/a/', doc_id, '?utm_source=x&b=2&a=1#frag')
          WHEN 1 THEN concat('http://user:pw@ex', doc_id % 7,
            '.org:8080/p/', doc_id, '/?z=9&fbclid=abc')
          WHEN 2 THEN concat('http://EX', doc_id % 7, '.com:80')
          WHEN 3 THEN concat('https://ex', doc_id % 7,
            '.net/path?gclid=1&utm_medium=m')
          ELSE concat('not a url ', doc_id) END""").as("url"))
      // the NATIVE one-pass expression runs here, so the oracle covers
      // the hot-path kernel; UrlsSpec separately pins it byte-equal to
      // the column-composition reference
      urls.select(col("doc_id"),
        graft.ops.Urls.canonicalizeNative(col("url")).as("url_canonical"),
        graft.ops.Urls.host(col("url")).as("host"),
        graft.ops.Urls.scheme(col("url")).as("scheme"))
        .orderBy("doc_id")
    }),

    // REAL learned-merge BPE (train + apply, ops.Bpe) oracled at its
    // training FIXED POINT: the corpus vocabulary is finite (31
    // words), so 200 merges collapse every training word to ONE token
    // — n_tokens = per-doc word count — while a planted all-OOV word
    // ("zxzx": 'z'/'x' never occur in the corpus, so no learned merge
    // can touch any of its pairs) falls back to characters and adds
    // exactly 4. Training determinism + mid-training merge order +
    // greedy lowest-rank apply are pinned exactly by the hand-computed
    // Sennrich-example golden in BpeSpec; this query oracles the
    // distributed train->broadcast->apply pipeline end-to-end.
    "doc_bpe_real" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.ops.Bpe.trainMerges(docs, numMerges = 200)
      val withOov = docs.select(col("doc_id"),
        concat(col("text"), lit(" zxzx")).as("text"))
      graft.ops.Bpe.tokenCounts(s, withOov, merges).orderBy("doc_id")
    }),

    // ANN: brute-force top-1 neighbor by dot product (exact doubles on
    // both sides -> argmax is oracle-checkable).
    "ann_top1_dot" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val probes = e.filter(col("vec_id") < 500) // bounded probe set
      graft.ops.Similarity.bruteForceTopK(e, probes, 1)
        .select(col("query_id"), col("neighbor_id"))
        .orderBy("query_id")
    }),

    // ANN scale path: SRP-LSH bucketed top-k — the REAL approximate
    // k=5 surface, now FULLY hash-oracled: the SRP hyperplanes are
    // algorithm constants (like the 0.85 damping factor), so the
    // oracle embeds them as double literals and independently
    // recomputes every signature bit (sign of a float->double
    // dot product, bit-identical to LIST_DOT_PRODUCT on DOUBLE[]),
    // the bucket equi-join, the dot scores, and the (score desc, id
    // asc) k-cut in DuckDB. Recall vs brute force additionally
    // asserted in OpsSpec.
    "ann_lsh_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val probes = e.filter(col("vec_id") < 500)
      graft.ops.Similarity.lshTopK(e, probes, k = 5, nBits = 6)
        .select("query_id", "neighbor_id", "rk")
        .orderBy("query_id", "rk")
    }),

    // Multi-probe LSH (the recall lever of the scale path): each probe
    // also searches the buckets reached by flipping its `multiProbe`
    // LOWEST-MARGIN signature bits. Fully hash-oracled: the margins
    // |v·p|/||p|| are the same plane-literal dot products (norms ride
    // as generator-computed constants), the flip choice is a
    // list_sort over (margin, bit) structs — the exact stable
    // tie-break of srpProbeBuckets — and the candidate union dedups
    // before the k-cut exactly like the engine.
    "ann_lsh_multiprobe_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val probes = e.filter(col("vec_id") < 500)
      graft.ops.Similarity.lshTopK(e, probes, k = 5, nBits = 6,
          multiProbe = 2)
        .select("query_id", "neighbor_id", "rk")
        .orderBy("query_id", "rk")
    }),

    // Multi-TABLE LSH (the other standard recall lever: L independent
    // tables, miss rate p^L): one wide native signature pass,
    // bit-sliced into per-table buckets. Fully hash-oracled — the
    // oracle slices the same wide plane-literal signature per table.
    "ann_lsh_multitable_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val probes = e.filter(col("vec_id") < 500)
      graft.ops.Similarity.lshTopKTables(e, probes, k = 5, nBits = 6,
          nTables = 4)
        .select("query_id", "neighbor_id", "rk")
        .orderBy("query_id", "rk")
    }),

    // ANN scale path 2: IVF with the DETERMINISTIC Lloyd coarse
    // quantizer (fixed lowest-id init, decimal-exact centroid updates
    // — bit-reproducible at any parallelism, the same contract as
    // PageRank), searched at nprobe=2 of nlist=8 cells. FULLY
    // hash-oracled: DuckDB replays both Lloyd rounds (assignment
    // argmax + exact decimal per-dimension means) and the cell-bounded
    // search end-to-end. Recall vs brute force in OpsSpec.
    "ann_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val probes = e.filter(col("vec_id") < 500)
      graft.ops.Similarity.ivfTopK(s, e, probes, k = 5, nlist = 8, nprobe = 2,
          lloydIters = 2)
        .select("query_id", "neighbor_id", "rk")
        .orderBy("query_id", "rk")
    }),

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
    "ann_lsh_exhaustive_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val probes = e.filter(col("vec_id") < 500)
      graft.ops.Similarity.lshTopK(e, probes, k = 5, nBits = 0)
        .select("query_id", "neighbor_id", "rk")
        .orderBy("query_id", "rk")
    }),
    // One Lloyd round: with nprobe = nlist every probe visits EVERY
    // quantizer cell, so the output is brute-force-identical whatever
    // the centroids are — the fit only shapes the join.
    "ann_ivf_exhaustive_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val probes = e.filter(col("vec_id") < 500)
      graft.ops.Similarity.ivfTopK(s, e, probes, k = 5, nlist = 8, nprobe = 8,
          lloydIters = 1)
        .select("query_id", "neighbor_id", "rk")
        .orderBy("query_id", "rk")
    }),

    // ANN planted-twin oracles: each probe is an exact copy (id+2^40)
    // of a corpus vector. An identical vector deterministically shares
    // its twin's SRP bucket / IVF cell, and by COSINE the twin scores
    // ~1.0 while every other (distinct, non-parallel) vector scores
    // strictly below — so rank 1 per probe is the twin, closed-form in
    // SQL, while the query exercises the REAL approximate path
    // (bucketing / quantizer cells / top-1 cut) end-to-end. The
    // k=5 dot-ranked variants above stay as the honest approximate
    // surface (recall vs brute force asserted in OpsSpec).
    "ann_lsh_plant_top1" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        graft.ops.Similarity.unitCol(col("embedding")).as("embedding"))
      val planted = e.select((col("vec_id") + lit(1099511627776L)).as("vec_id"),
        col("embedding"))
      graft.ops.Similarity.lshTopK(e.unionByName(planted), planted,
          k = 1, nBits = 6)
        .select(col("query_id"), col("neighbor_id"))
        .orderBy("query_id")
    }),
    "ann_ivf_plant_top1" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        graft.ops.Similarity.unitCol(col("embedding")).as("embedding"))
      val planted = e.select((col("vec_id") + lit(1099511627776L)).as("vec_id"),
        col("embedding"))
      // One Lloyd round: the rank-1 answer is the planted twin for ANY
      // centroids — an identical vector shares its twin's argmin cell
      // and the probe's first probed cell IS its own assigned cell.
      graft.ops.Similarity.ivfTopK(s, e.unionByName(planted), planted,
          k = 1, nlist = 8, nprobe = 2, lloydIters = 1)
        .select(col("query_id"), col("neighbor_id"))
        .orderBy("query_id")
    }),

    // Corpus-scale self k-NN join oracled: EVERY vector is a probe
    // (nothing broadcast — the shuffle-join-on-cell shape semantic
    // dedup uses at 100 TB), over the planted-twin corpus where each
    // vector's rank-1 cosine neighbor is deterministically its exact
    // copy — so the WHOLE output (both directions of every twin pair)
    // is closed-form.
    "ann_self_top1" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        graft.ops.Similarity.unitCol(col("embedding")).as("embedding"))
      val planted = e.select((col("vec_id") + lit(1099511627776L)).as("vec_id"),
        col("embedding"))
      // One Lloyd round: same twin-share argument as
      // ann_ivf_plant_top1 — rank 1 is the exact copy under ANY
      // centroid set.
      graft.ops.Similarity.ivfSelfTopK(s, e.unionByName(planted), k = 1,
          nlist = 8, nprobe = 2, lloydIters = 1)
        .select(col("query_id"), col("neighbor_id"))
        .orderBy("query_id")
    }),

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
    "ann_self_exhaustive_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      graft.ops.Similarity.ivfSelfTopK(s, e, k = 5, nlist = 8, nprobe = 8,
          lloydIters = 1)
        .select("query_id", "neighbor_id", "rk")
        .orderBy("query_id", "rk")
    }),

    // Dedup: embedding-cosine near-dup pairs via SRP-LSH buckets.
    // Planted exact copies (shifted ids) make the check oracled, not
    // vacuous: identical vectors always share an SRP bucket and sort
    // adjacent on the content hash even in chain-paired hot buckets, so
    // the output is EXACTLY the planted pairs at cosine 1.0 (random
    // 64-dim vectors never reach 0.75 — a ~6-sigma event), which DuckDB
    // reproduces without replicating the LSH.
    "dedup_embed_cosine" -> ((s, dir) => {
      // planted-id offset 2^40: far above any realistic vec_id range,
      // so planted ids can never collide with real ones as SF grows
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.select((col("vec_id") + lit(1099511627776L)).as("vec_id"),
        col("embedding"))
      graft.ops.Dedup.embeddingCosinePairs(e.unionByName(planted),
          minCosine = 0.75)
        .select(col("id_a"), col("id_b"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    // Multimodal: binary media column + stubbed decode kernel; metadata
    // arithmetic is oracle-checkable from the text length.
    "mm_decode" -> ((s, dir) => {
      val media = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("media"))
      graft.ops.Multimodal.decode(s, media).toDF()
        .select(col("media_id").as("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
        .orderBy("doc_id")
    }),

    // Multimodal REAL decode oracled end-to-end: deterministic grayscale
    // PNGs are generated per document (pixel (x,y) = (doc_id*31 + x*7 +
    // y*13) mod 256, dims from doc_id/text length), encoded with the
    // JDK's PNG writer, then decoded back through the javax.imageio
    // reader path — width/height/band-count/pixel-sum are all
    // closed-form from the generator parameters, so DuckDB reproduces
    // every column without any image library. PNG is lossless: the
    // decoded samples are the written samples exactly.
    "mm_decode_real" -> ((s, dir) => {
      import s.implicits._
      val media = graft.spark.Scans.spread(t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("len")), col("doc_id"))
        .as[(Long, Int)]
        .map { case (id, len) =>
          val w = 3 + (id % 13).toInt
          val h = 2 + len % 11
          (id, graft.ops.Multimodal.syntheticImage(id, w, h, "png"))
        }.toDF("media_id", "media")
      graft.ops.Multimodal.decodeImage(s, media).toDF()
        .select(col("media_id").as("doc_id"), col("status"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("bands").cast("long").as("bands"), col("pixel_sum"))
        .orderBy("doc_id")
    }),

    // Multimodal REAL resample oracled end-to-end: deterministic
    // grayscale PNGs decoded then box-filtered 2x2 (output sample =
    // floor(mean of its block), partial blocks dropped) — output dims
    // and the resampled pixel sum are closed-form from the generator
    // parameters, so DuckDB reproduces the full decode->area-average
    // path without any image library.
    "mm_resize_real" -> ((s, dir) => {
      import s.implicits._
      val media = graft.spark.Scans.spread(t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("len")), col("doc_id"))
        .as[(Long, Int)]
        .map { case (id, len) =>
          val w = 6 + (id % 7).toInt
          val h = 6 + len % 5
          (id, graft.ops.Multimodal.syntheticImage(id, w, h, "png"))
        }.toDF("media_id", "media")
      graft.ops.Multimodal.resizeImage(s, media, fx = 2, fy = 2).toDF()
        .select(col("media_id").as("doc_id"), col("status"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("pixel_sum"))
        .orderBy("doc_id")
    }),

    // Multimodal REAL multi-frame decode oracled end-to-end (the
    // "video" seam made real for JDK containers): deterministic
    // multi-page grayscale TIFFs (frame f pixel (x,y) = (doc_id*31 +
    // f*19 + x*7 + y*13) mod 256) written with the JDK's TIFF sequence
    // writer, decoded back frame-by-frame through getNumImages/read —
    // one output row per frame, all columns closed-form.
    "mm_frames_real" -> ((s, dir) => {
      import s.implicits._
      val media = graft.spark.Scans.spread(t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("len")), col("doc_id"))
        .as[(Long, Int)]
        .map { case (id, len) =>
          val nf = 1 + (id % 4).toInt
          val w = 3 + (id % 5).toInt
          val h = 2 + len % 7
          (id, graft.ops.Multimodal.syntheticTiffFrames(id, w, h, nf))
        }.toDF("media_id", "media")
      graft.ops.Multimodal.decodeFrames(s, media).toDF()
        .select(col("media_id").as("doc_id"),
          col("frame_id").cast("long").as("frame_id"), col("status"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("pixel_sum"))
        .orderBy("doc_id", "frame_id")
    }),

    // Multimodal REAL audio decode oracled end-to-end, the audio twin
    // of mm_decode_real: deterministic 8-bit unsigned PCM mono WAVs
    // (sample i = (doc_id*31 + i*7) mod 256) framed by the JDK's WAVE
    // writer, decoded back through javax.sound.sampled — format header
    // fields and the exact sample sum are closed-form.
    "mm_audio_real" -> ((s, dir) => {
      import s.implicits._
      // NOT spread (r8, measured): javax.sound's AudioSystem provider
      // registry serializes concurrent decodes on a global lock, so
      // fanning the trivial WAV kernel across 32 tasks REGRESSED 1.7 s
      // -> 2.7 s (lock contention + an exchange for ~µs/row work); the
      // ImageIO paths don't share that lock and stay spread.
      val media = t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("len"))
        .as[(Long, Int)]
        .map { case (id, len) =>
          (id, graft.ops.Multimodal.syntheticWav(id, 50 + len % 97))
        }.toDF("media_id", "media")
      graft.ops.Multimodal.decodeAudio(s, media).toDF()
        .select(col("media_id").as("doc_id"), col("status"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("bits").cast("long").as("bits"),
          col("frames"), col("sample_sum"))
        .orderBy("doc_id")
    }),

    // P4-P11 oracled END-TO-END through the real DOM kernel: documents
    // tokens are deterministically varied (initcap / punct / title /
    // email / digit / accent shapes), wrapped in the SynthPages skeleton,
    // run through parse+tokenize+features, and every per-token feature
    // column must equal DuckDB's SQL re-derivation of the reference
    // semantics (util/html_segmenter.py:10-99).
    "kg_token_features" -> ((s, dir) => {
      val varied = t(s, dir, "documents").select(
        col("doc_id"), col("source"), col("lang"),
        expr("""array_join(transform(split(text, ' '), (t, i) -> CASE i % 8
          WHEN 0 THEN concat(upper(substring(t, 1, 1)), substring(t, 2))
          WHEN 1 THEN ';'
          WHEN 2 THEN concat('dr.', t)
          WHEN 3 THEN concat(t, '@', t, '.com')
          WHEN 4 THEN concat(t, '9')
          WHEN 5 THEN concat('é', t)
          ELSE t END), ' ')""").as("text"))
      val pages = graft.corpus.SynthPages.fromDocuments(s, varied)
      val sents = graft.spark.ExtractStage.sentences(s, pages)
      graft.spark.ExtractStage.tokens(s, sents).toDF()
        .filter(col("html_ctx") === "div.body")
        .select(
          expr("CAST(substring_index(url, '/', -1) AS BIGINT)").as("doc_id"),
          col("tok_id").cast("long").as("tok_id"),
          col("tkn"),
          col("unaccented"),
          col("email").cast("int").as("email"),
          col("number").cast("int").as("number"),
          col("title").cast("int").as("title"),
          col("url_f").cast("int").as("url_flag"),
          col("capitalized").cast("int").as("capitalized"),
          col("punct").cast("int").as("punct"),
          col("css_class"))
        .orderBy("doc_id", "tok_id")
    }),

    // P6/P7/P10/P4 predicate quirks at function level (the tokenizer
    // splits ':' so no URL survives it — the url/email/title prefix
    // quirks need direct strings): crafted variants over the distinct
    // vocabulary, kernel predicates vs DuckDB formula replicas.
    "kg_predicates" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("t")).distinct()
        .select(explode(expr("""array(
          concat('http://', t, '.com/x'),
          concat('https://', t),
          concat('http', t),
          concat('ftp://', t),
          concat(t, '@', t),
          concat(t, '@.a'),
          concat('x@', t, '.co'),
          concat('@', t, '.co'),
          concat('dr', t),
          concat('DR', t),
          concat('d.r', t),
          concat('Mrs.', t),
          concat('profX', t),
          concat('é', t, 'À'))""")).as("s"))
        .as[String]
        .map(x => (x,
          if (graft.extract.Extractor.isEmail(x)) 1 else 0,
          if (graft.extract.Extractor.isUrl(x)) 1 else 0,
          if (graft.extract.Extractor.isTitle(x)) 1 else 0,
          graft.extract.Extractor.removeAccents(x)))
        .toDF("s", "email", "url_flag", "title", "unaccented")
        .orderBy("s")
    }),

    // W1/W2 oracled: two classed <div> blocks (W1 block segmentation,
    // never structEq) with every 10th token '.'-suffixed and the next
    // initcap'd (W2 50-token re-split points); per-doc sentence count
    // must equal the closed-form DuckDB formula.
    "kg_segmentation" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select(col("doc_id"),
        expr("""transform(split(text, ' '), (t, i) ->
          CASE WHEN i % 10 = 9 THEN concat(t, '.')
               WHEN i % 10 = 0 THEN concat(upper(substring(t, 1, 1)), substring(t, 2))
               ELSE t END)""").as("arr"))
        .select(col("doc_id"),
          expr("array_join(slice(arr, 1, least(size(arr), 80)), ' ')").as("b1"),
          expr("CASE WHEN size(arr) > 80 THEN " +
            "array_join(slice(arr, 81, size(arr) - 80), ' ') ELSE '' END").as("b2"))
      val pages = d.as[(Long, String, String)].map { case (id, b1, b2) =>
        graft.spark.Page(
          url = "doc://seg/" + id,
          warc_ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
          html = ("<html><head><title>doc " + id + "</title></head><body>" +
            "<div class=\"b1\">" + b1 + "</div>" +
            "<div class=\"b2\">" + b2 + "</div></body></html>")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8),
          text = b1, lang = "en")
      }
      val sents = graft.spark.ExtractStage.sentences(s, pages)
      sents.filter(sr => sr.feats.nonEmpty && sr.feats.head(11) == "body.html")
        .map(sr => sr.url.substring(sr.url.lastIndexOf('/') + 1).toLong)
        .toDF("doc_id")
        .groupBy("doc_id").agg(count(lit(1)).as("n_sentences"))
        .orderBy("doc_id")
    }),

    // J1/J2 oracled: planted dictionary tokens -> exact-window flag,
    // partial flag, and the round(log(count)) name/word gazetteer
    // weights (banker's rounding avoided by count choice) re-derived in
    // SQL per token.
    "kg_gazetteer" -> ((s, dir) => {
      val pages = plantedPages(s, dir, 23, Seq(3 -> "zzalpha", 4 -> "zzbeta"))
      val gaz = s.sparkContext.broadcast(graft.extract.Gazetteers(
        exact = Map("zzalpha zzbeta" -> 1),
        partial = Map("zzalpha" -> 2, "zzbeta" -> 7),
        word = Map("zzbeta" -> 7)))
      val sents = graft.spark.ExtractStage.sentences(s, pages, gaz = Some(gaz),
        annotateGazetteer = true)
      graft.spark.ExtractStage.tokens(s, sents).toDF()
        .filter(col("html_ctx") === "div.body")
        .select(
          expr("CAST(substring_index(url, '/', -1) AS BIGINT)").as("doc_id"),
          col("tok_id").cast("long").as("tok_id"),
          col("tkn"),
          col("exact").cast("int").as("exact"),
          col("partial").cast("int").as("partial"),
          col("name_log").cast("int").as("name_log"),
          col("word_log").cast("int").as("word_log"))
        .orderBy("doc_id", "tok_id")
    }),

    // A6 oracled: span P/R/F1 through the real SpanMetrics Aggregator
    // over planted single-token spans (gold at i%7==2, pred at i%5==2);
    // the whole Result row is integer-derived, so DuckDB reproduces the
    // doubles bit-exactly.
    "kg_span_metrics" -> ((s, dir) => {
      import s.implicits._
      val pairs = t(s, dir, "documents")
        .select(size(split(col("text"), " ")).as("n")).as[Int]
        .map { n =>
          val gold: Seq[String] =
            (0 until n).map(i => if (i % 7 == 2) "I-PER" else "O")
          val pred: Seq[String] =
            (0 until n).map(i => if (i % 5 == 2) "I-PER" else "O")
          (pred, gold)
        }
      // typed select: Dataset[Result] whose schema is Result's fields
      pairs.select(graft.metrics.SpanMetrics.agg.toColumn).toDF()
    }),

    // J3 + mention projection oracled: planted 2-token target name ->
    // IOB labeling -> goldMentions spans; per-doc mention count equals
    // the closed-form position formula.
    "kg_mention_counts" -> ((s, dir) => {
      val sents = plantedSentences(s, dir, 31, Seq(5 -> "zzjohn", 6 -> "zzdoe"),
        Seq("zzjohn zzdoe"))
      graft.kg.Triples.goldMentions(s, sents).toDF()
        .select(expr("CAST(substring_index(url, '/', -1) AS BIGINT)").as("doc_id"),
          col("name"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_mentions"),
          countDistinct(col("name")).as("n_names"))
        .orderBy("doc_id")
    }),

    // Pattern-relation extraction oracled (was rows-only): planted
    // title token + 2-token name + email token at fixed positions ->
    // hasTitle fires once per complete adjacent (title, span) pair and
    // hasEmail once per email token when a span exists; both counts
    // equal closed-form position formulas.
    // Corpus assumptions the closed form relies on (true of the
    // driver-generated documents tables, all-lowercase punctuation-free
    // word streams; shared by every planted-token query here): the
    // unplanted text contributes no sentence-split points ('.'-final
    // token followed by an uppercase-initial one), no natural email/
    // honorific tokens, and no 'zz*' words — so every doc stays ONE
    // sentence and only the planted anchors fire.
    "kg_relations_counts" -> ((s, dir) => {
      val sents = plantedSentences(s, dir, 37,
        Seq(10 -> "dr.zz", 11 -> "zzjohn", 12 -> "zzdoe", 20 -> "zz@zz.aa"),
        Seq("zzjohn zzdoe"))
      graft.kg.Relations.goldRelations(s, sents).toDF()
        .select(expr("CAST(substring_index(url, '/', -1) AS BIGINT)").as("doc_id"),
          col("pred"))
        .groupBy("doc_id")
        .agg(
          sum(when(col("pred") === "hasTitle", 1L).otherwise(0L)).as("n_title"),
          sum(when(col("pred") === "hasEmail", 1L).otherwise(0L)).as("n_email"))
        .orderBy("doc_id")
    }),

    // Canonicalization oracled (connected components + canonical
    // election, previously LinkSpec-only): the vocabulary as a names
    // table, links = consecutive same-first-letter tokens in sorted
    // order, so every CC is exactly a first-letter group — closed-form
    // in SQL. Election = max(support, name) per component, aliases and
    // support aggregated by one groupBy on the component.
    "kg_canonicalize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val names = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("name"))
        .filter(length(col("name")) > 0)
        .groupBy("name").agg(count(lit(1)).as("support"))
      val w = Window.orderBy("name") // 31-term vocab: tiny single window
      val links = names
        .withColumn("prev", lag(col("name"), 1).over(w))
        .filter(col("prev").isNotNull &&
          substring(col("prev"), 1, 1) === substring(col("name"), 1, 1))
        .select(col("prev").as("name_a"), col("name").as("name_b"))
      val membership = graft.kg.Canonicalize.components(links)
      graft.kg.Canonicalize.entities(names, membership)
        .select(col("canonical_name"),
          size(col("aliases")).cast("long").as("n_aliases"),
          col("support"))
        .orderBy("canonical_name")
    }),

    // W11 oracled: the Bi-LSTM-CRF forward pass (TF LSTMCell semantics,
    // recurrent state NOT disabled) with fixed saturating weights — the
    // planted 'zzalice' token drives the gates to saturation (h~0.76 ->
    // logit +7.6) while every other token stays OOV (h<=0.35 near a
    // plant -> logit <=-3.4), so the decoded tag sequence is exactly
    // the position formula, margins ~1e7 x float noise.
    "kg_bilstm_decode" -> ((s, dir) => {
      import s.implicits._
      val cell = graft.tag.BiLstm.CellWeights(
        kernel = Array(Array(5.0f, 5.0f, 5.0f, 5.0f),
          Array(0.1f, 0.1f, 0.1f, 0.1f)),
        bias = Array(0f, 0f, 0f, 0f))
      val scorer = graft.tag.BiLstmCrfScorer(
        vocab = Map("zzalice" -> 0),
        wordEmb = Array(Array(1.0f), Array(0.0f)),
        charCnn = None, fw = cell, bw = cell,
        dense = Array(Array(0f, 10f), Array(0f, 10f)),
        denseBias = Array(0f, -7.6f),
        transition = Array(Array(0.0, 0.0), Array(0.0, 0.0)))
      val sents = graft.spark.Scans.spread(t(s, dir, "documents")
        .select(col("doc_id"), col("text")), col("doc_id"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val tkns: Seq[String] = text.split(" ").toSeq.zipWithIndex
            .map { case (w, i) => if (i % 13 == 7) "zzalice" else w }
          graft.spark.SentenceRow("doc://bl/" + id,
            new java.sql.Timestamp(0L), "en", 0,
            tkns, tkns.map(_ => Seq.empty[String]), tkns.map(_ => "O"))
        }
      graft.tag.BiLstmCrf.predict(s, scorer, sents)
        .map { case (sr, tags) =>
          (sr.url.substring(sr.url.lastIndexOf('/') + 1).toLong,
            tags.count(_ == 1).toLong)
        }
        .toDF("doc_id", "n_entity_tags")
        .orderBy("doc_id")
    }),

    // W11 attention ablations oracled (models/attention.py:100-187,
    // models/char_representations.py:34-52, models/html_embeddings.py:
    // 47-72): every token gets a charLstmRepr ++ htmlRepr query/key —
    // exact_attention's equality scores fire exactly between identical
    // words (the repr is a pure function of the chars), so the planted
    // token's residual-carried one-hot value survives as outA >= 1.0
    // while every other token stays <= 0.001; a saturating multiHead
    // pass (Q=K scores 100 on plants, <= 0.01 elsewhere) then amplifies
    // the margin to >= 9.99 vs <= 1.3. Tags thresholded at 5 equal the
    // kg_bilstm_decode position formula.
    "kg_attention_decode" -> ((s, dir) => {
      import s.implicits._
      import graft.tag.Attention
      val charVocab: Map[Char, Int] = ('a' to 'z').zipWithIndex.toMap
      val charEmb: Array[Array[Float]] = Array.tabulate(27, 2)((i, j) =>
        if (i == 26) 0f else ((i * (j + 3) + j * 7) % 27 + 1) / 27f)
      def cell(in: Int, u: Int) = graft.tag.BiLstm.CellWeights(
        Array.tabulate(in + u, 4 * u)((i, j) => ((i * 5 + j * 3) % 11 - 5) / 10f),
        new Array[Float](4 * u))
      val fw = cell(2, 2); val bw = cell(2, 2)
      val htmlVocab = Map("div" -> 0, "body" -> 1)
      val htmlEmb = Array(Array(0.1f, 0.2f), Array(0.3f, 0.4f), Array(0f, 0f))
      graft.spark.Scans.spread(t(s, dir, "documents")
        .select(col("doc_id"), col("text")), col("doc_id"))
        .as[(Long, String)]
        .mapPartitions { it =>
          // the html repr is doc-independent (hoisted), and the char-
          // LSTM repr is a pure function of the word — memoized per
          // partition, since web text repeats words enormously
          val hr = Attention.htmlRepr(htmlVocab, htmlEmb, charVocab, charEmb,
            "div.body", "doc").map(_.toDouble)
          val memo = new java.util.HashMap[String, Array[Double]]()
          def qkOf(w: String): Array[Double] = {
            val hit = memo.get(w)
            if (hit != null) hit
            else {
              val r = Attention.charLstmRepr(charVocab, charEmb, fw, bw, w)
                .map(_.toDouble) ++ hr
              if (memo.size < 10000) memo.put(w, r)
              r
            }
          }
          it.map { case (id, text) =>
            val tkns = text.split(" ").toSeq.zipWithIndex
              .map { case (w, i) => if (i % 13 == 7) "zzalice" else w }
            val qk: Array[Array[Double]] = tkns.map(qkOf).toArray
            val values: Array[Array[Double]] = tkns.map(w =>
              Array(if (w == "zzalice") 1.0 else 0.0)).toArray
            val outA = Attention.exactAttention(qk, qk, values,
              Attention.Dense(Array(Array(0.001f)), Array(0f)))
            val outB = Attention.multiHead(outA, outA, outA,
              Attention.Dense(Array(Array(10f)), Array(0f)), None,
              Attention.Dense(Array(Array(10f)), Array(0f)), 1)
            (id, outB.count(_(0) > 5.0).toLong)
          }
        }
        .toDF("doc_id", "n_entity_tags")
        .orderBy("doc_id")
    }),

    // S1 WARC source oracled end-to-end: documents -> WARC response
    // records (HTTP head + Content-Length framing) -> Warc record
    // parser -> pages -> the full DOM extraction kernel; per-doc token
    // count and rebuilt text must equal DuckDB's whitespace split.
    "warc_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val pages = graft.spark.Scans.spread(t(s, dir, "documents")
        .select(col("doc_id"), col("text")), col("doc_id"))
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          val html = "<html><body><div class=\"doc\"><p>" + text +
            "</p></div></body></html>"
          val payload = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
            html).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val rec = ("WARC/1.0\r\nWARC-Type: response\r\n" +
            "WARC-Target-URI: doc://warc/" + id + "\r\n" +
            "WARC-Date: 2024-01-01T00:00:00Z\r\n" +
            "Content-Length: " + payload.length + "\r\n\r\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8) ++
            payload ++ "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)
          graft.io.Warc.records(new java.io.ByteArrayInputStream(rec),
              gzipped = false)
            .filter(_.warcType == "response")
            .map { r =>
              graft.spark.Page(r.targetUri.get, graft.io.Warc.parseDate(r.date),
                graft.io.Warc.httpBody(r.payload), "", "en")
            }
        })
      val sents = graft.spark.ExtractStage.sentences(s, pages)
      sents.filter(sr => sr.feats.nonEmpty && sr.feats.head(11) == "div.body")
        .map(sr => (
          sr.url.substring(sr.url.lastIndexOf('/') + 1).toLong,
          sr.tkns.length.toLong,
          sr.tkns.mkString(" ")))
        .toDF("doc_id", "n_tokens", "text_rebuilt")
        .orderBy("doc_id")
    }),

    // §2.8 streaming <-> batch dedup equivalence, oracled: the corpus
    // replayed as doc_id-ordered micro-batches through the keyed-state
    // first-seen CONTENT dedup (Monitors.firstSeenByContent,
    // flatMapGroupsWithState) must emit exactly the batch first-seen
    // set — min doc_id per distinct text — which DuckDB computes
    // independently. Arrival order is controlled (contiguous ascending
    // id ranges), so "first observed" and "min (warc_ts, url)" agree
    // and the result is deterministic. The driver-side collect is the
    // REPLAY HARNESS ONLY, bounded by the sf corpus (MemoryStream is
    // the only way to pin cross-micro-batch arrival order).
    "stream_first_seen" -> ((s, dir) => {
      import s.implicits._
      val rows: Array[(Long, String)] = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().sortBy(_._1)
      // (r8 perf) the stateful stream runs on a CLONED session whose
      // shuffle-partition count — which pins the state-store partition
      // count for the query's life — is sized to the stream's actual
      // volume instead of the batch engine's default (32 state
      // partitions x 5 micro-batches = 160 state-store commits for 500
      // rows). Scale-adaptive, not a local[32] constant: the count
      // derives from the observed row volume (see streamSession).
      val ss = streamSession(s, rows.length.toLong)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.spark.Page]
      val name = "stream_first_seen_" + streamSeq.incrementAndGet()
      val q = graft.streaming.Monitors
        .firstSeenByContent(ss, in.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.length / 5 + 1)).foreach { chunk =>
          in.addData(chunk.toSeq.map { case (id, text) =>
            graft.spark.Page("doc://" + id,
              new java.sql.Timestamp(id * 1000L),
              Array.emptyByteArray, text, "en")
          })
          q.processAllAvailable()
        }
      } finally q.stop()
      ss.table(name)
        .select(substring_index(col("url"), "/", -1).cast("long")
          .as("doc_id"))
        .orderBy("doc_id")
    }),

    // ---- graph analytics over the materialized KG (GraphOps) ----
    // All three run on the token co-occurrence graph (the TextRank
    // shape) derived from `documents`, which DuckDB can rebuild
    // exactly — the operators themselves are edge-table generic and
    // serve the canonical entity graph identically.

    // degree distribution: per-node out/in degree over distinct edges
    "kg_degrees" -> ((s, dir) => {
      graft.kg.GraphOps.degrees(
          graft.kg.GraphOps.bigramEdges(t(s, dir, "documents")))
        .orderBy("node")
    }),

    // fixed-iteration PageRank, bit-reproducible at any parallelism
    // (decimal-summed contributions; see GraphOps.pagerank scaladoc)
    "kg_pagerank" -> ((s, dir) => {
      graft.kg.GraphOps.pagerank(
          graft.kg.GraphOps.bigramEdges(t(s, dir, "documents")),
          iters = 3)
        .select(col("node"), round(col("rank"), 10).as("rank"))
        .orderBy("node")
    }),

    // weighted PageRank (TextRank proper): outgoing rank split by
    // bigram co-occurrence count instead of uniformly
    "kg_pagerank_weighted" -> ((s, dir) => {
      graft.kg.GraphOps.pagerank(
          graft.kg.GraphOps.bigramEdges(t(s, dir, "documents")),
          iters = 3, weighted = true)
        .select(col("node"), round(col("rank"), 10).as("rank"))
        .orderBy("node")
    }),

    // personalized PageRank: reset mass concentrated on two seed
    // tokens — topic-sensitive salience, same decimal-sum determinism
    "kg_ppr" -> ((s, dir) => {
      graft.kg.GraphOps.pagerank(
          graft.kg.GraphOps.bigramEdges(t(s, dir, "documents")),
          iters = 3, seeds = Some(Seq("spark", "query")))
        .select(col("node"), round(col("rank"), 10).as("rank"))
        .orderBy("node")
    }),

    // per-node triangle counts (compact-forward: degree-ordered
    // orientation bounds wedge fan-out at hub nodes)
    "kg_triangles" -> ((s, dir) => {
      graft.kg.GraphOps.triangles(
          graft.kg.GraphOps.bigramEdges(t(s, dir, "documents")))
        .orderBy("node")
    }),

    // deterministic label-propagation communities (min-label
    // tie-break; 2 synchronous rounds)
    "kg_communities" -> ((s, dir) => {
      graft.kg.GraphOps.labelPropagation(
          graft.kg.GraphOps.bigramEdges(t(s, dir, "documents")),
          rounds = 2)
        .orderBy("node")
    }),

    // fixed-iteration Bellman-Ford from one source over bigram-count
    // weights (all-long min-plus relaxation — exact at any parallelism)
    "kg_shortest_path" -> ((s, dir) => {
      graft.kg.GraphOps.shortestPaths(s,
          graft.kg.GraphOps.bigramEdges(t(s, dir, "documents")),
          sources = Seq("spark"), iters = 4)
        .orderBy("node")
    }),

    // dangling-mass-redistributing PageRank (classic crawl-graph
    // semantics: rank parked on out-degree-0 nodes folds back each
    // iteration instead of leaking). The token graph has no natural
    // sinks, so a hub's out-edges are removed up front — 'spark'
    // becomes a planted dangling node that receives mass but emits
    // none; the oracle filters the same edge and adds one exact
    // decimal scalar CTE per iteration.
    "kg_pagerank_dangling" -> ((s, dir) => {
      graft.kg.GraphOps.pagerank(
          graft.kg.GraphOps.bigramEdges(t(s, dir, "documents"))
            .filter(col("src") =!= "spark"),
          iters = 3, danglingRedistribute = true)
        .select(col("node"), round(col("rank"), 10).as("rank"))
        .orderBy("node")
    }),

    // PageRank over the CANONICAL ENTITY graph — the pipeline's
    // `entity_rank` stage shape (Main.scala), end-to-end through the
    // REAL path: planted-mention extraction → gold mentions → triples
    // → name vocab → MinHash linking (Linker.candidatePairs, the links
    // stage's rule) → CC → canonical entities → canonicalEdges →
    // GraphOps.entityRank (dangling-redistributing PageRank over page
    // → obj_entity). The oracle
    // rebuilds the edge table in closed form (the kg_triples plant)
    // with the entity ids as generator-computed FNV constants, then
    // replays the same unrolled dangling PageRank.
    "kg_entity_pagerank" -> ((s, dir) => {
      val sents = plantedSentences(s, dir, 31,
        Seq(5 -> "zzjohn", 6 -> "zzdoe", 20 -> "zzann"),
        Seq("zzjohn zzdoe", "zzann"))
      val mentions = graft.kg.Triples.goldMentions(s, sents)
      // materialize triples ONCE (the kg.Main pipeline persists them as
      // a stage): vocab and the canonical-edge join both consume this
      // frame, and without the eager checkpoint each consumer re-runs
      // the whole extraction kernel
      val triples = graft.kg.Triples.fromMentions(s, mentions)
        .localCheckpoint(true)
      val vocab = graft.kg.Linker.nameVocab(triples)
      val links = graft.kg.Linker.candidatePairs(vocab)
      val membership = graft.kg.Canonicalize.components(links)
      val nodes = graft.kg.Canonicalize.entities(vocab, membership)
      graft.kg.GraphOps.entityRank(
          graft.kg.Canonicalize.canonicalEdges(triples, nodes))
        .select(col("node"), round(col("rank"), 10).as("rank"))
        .orderBy("node")
    }),

    // 2-hop min-distance BFS from seed nodes: shortest paths over unit
    // weights, dist cast back to the INT hop count
    "kg_nhop" -> ((s, dir) => {
      graft.kg.GraphOps.shortestPaths(s,
          graft.kg.GraphOps.bigramEdges(t(s, dir, "documents"))
            .withColumn("weight", lit(1L)),
          sources = Seq("spark", "query"), iters = 2)
        .select(col("node"), col("dist").cast("int").as("dist"))
        .orderBy("node")
    }),

    // Iceberg-MERGE-shaped incremental upsert: every 5th doc arrives
    // re-crawled (updated text), every 50th spawns a brand-new doc id;
    // delta wins whole-row, base rows carry through, inserts append.
    "kg_merge_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select("doc_id", "text", "lang", "source")
      val updates = d.filter(col("doc_id") % 5 === 0)
        .withColumn("text", concat(lit("RECRAWL "), col("text")))
      val inserts = d.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("NEW "), col("text")).as("text"),
          col("lang"), col("source"))
      graft.ops.Merge.upsert(d, updates.union(inserts),
          key = Seq("doc_id"))
        .select(col("doc_id"), md5(col("text")).as("content_key"),
          col("lang"), col("source"))
        .orderBy("doc_id")
    }),

    // BM25 relevance of every doc against a fixed query-term set
    "doc_bm25" -> ((s, dir) => {
      graft.ops.Ranking.bm25(t(s, dir, "documents"),
          terms = Seq("spark", "query", "fast"))
        .orderBy("doc_id")
    }),

    // per-domain rollup: one groupBy, the oracle's plain GROUP BY
    "doc_domain_stats" -> ((s, dir) => {
      graft.ops.TextAnalysis.domainStats(t(s, dir, "documents"))
        .orderBy("domain")
    }),

    // SemDeDup semantic dedup, oracled via planted exact twins (cosine
    // 1.0 ≥ tau; exact twins always share an IVF cell). tau=0.75 sits
    // far above the corpus's max natural pairwise cosine (0.51 at
    // sf0.01, 0.60 at sf0.1, measured), so the keeper map is
    // closed-form: every base id keeps itself, every planted id maps
    // to its base.
    "dedup_semantic" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.select((col("vec_id") + lit(1099511627776L)).as("vec_id"),
        col("embedding"))
      // One Lloyd round: the keeper map is closed-form for ANY cell
      // assignment — exact twins share a cell under every quantizer and
      // tau sits above the corpus's max natural pairwise cosine, so no
      // non-twin pair can connect whatever the cells are.
      graft.ops.Similarity.semanticDedup(s, e.unionByName(planted),
          tau = 0.75, lloydIters = 1)
        .orderBy("id")
    }),

    // deterministic per-language stratified sample (md5-hex thresholds,
    // granularity 1/256): en 50%, de 25%, zh 12.5%, others 6.25%
    "doc_sample_stratified" -> ((s, dir) => {
      graft.ops.TextAnalysis.stratifiedSample(
          t(s, dir, "documents"), strataCol = "lang",
          rates = Seq("en" -> "80", "de" -> "40", "zh" -> "20"),
          defaultThreshold = "10")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    })
  )

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

  // memory-sink names must be unique per invocation within a session
  // (Bench runs every query 2-3 times)
  private val streamSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Cloned session for `stream_first_seen` with the shuffle-partition
    * count — which fixes the stateful query's STATE-STORE partition
    * count for its whole life — sized to the stream's data volume
    * instead of inherited from the batch engine's parallelism default.
    *
    * Scale policy (guide §2.2 applied to streaming state): one state
    * partition per ~1000 in-flight rows, floored at 1 and capped at the
    * context's default parallelism. The query writes to a memory sink
    * with no durable checkpoint, so the count is derived afresh on
    * every run. At the suite's 500-row replay the old inherited 32
    * partitions meant 32 state-store commits per micro-batch — 160
    * near-empty store files per run whose fsync/commit latency, not
    * computation, dominated the streaming query.
    */
  private def streamSession(s: SparkSession, rows: Long): SparkSession = {
    val ss = s.newSession()
    val parts = math.max(1L, math.min(rows / 1000L,
      s.sparkContext.defaultParallelism.toLong)).toInt
    ss.conf.set("spark.sql.shuffle.partitions", parts.toString)
    ss
  }

  // ---------------------------------------------------------------------
  // DuckDB oracle SQL. Column names/aliases match the Spark results
  // exactly (driver sorts columns by name before hashing).
  // ---------------------------------------------------------------------

  /** The reference's honorific literals (util/html_segmenter.py:59-70,
    * escaped dots resolved) as a DuckDB case-insensitive-prefix OR.
    */
  private def titleOrSql(c: String): String = Seq(
    "m.sc.", "sc.nat.", "rer.nat.", "md.", "b.sc.", "bs.sc.", "ph.d.",
    "ed.d.", "m.s.", "hon.", "a.d.", "em.", "apl.", "prof.", "prof.dr.",
    "conf.dr.", "asist.dr.", "dr.", "mr.", "mrs.", "lect.dr.", "dr",
    "professor", "mr", "mrs", "ing.")
    .map(l => s"starts_with(lower($c), '$l')").mkString(" OR ")

  /** is_email's prefix-match semantics on a whitespace-free string
    * (util/html_segmenter.py:38-40 via Extractor.isEmail): first '@' at
    * 0-based index >= 1, then a '.' at index >= at+2 and <= len-2.
    */
  private def emailSql(c: String): String =
    s"""(strpos(substr($c, 2), '@') >= 1
       | AND strpos(substr($c, strpos(substr($c, 2), '@') + 3), '.') >= 1
       | AND strpos(substr($c, 2), '@')
       |     + strpos(substr($c, strpos(substr($c, 2), '@') + 3), '.')
       |     <= LENGTH($c) - 3)""".stripMargin.replace("\n", " ")

  /** is_url: literal 'http' prefix gate + the reference's prefix regex
    * (util/html_segmenter.py:47-50), anchored for RE2.
    */
  private def urlSql(c: String): String =
    s"""(starts_with($c, 'http') AND regexp_matches($c,
       | '^http[s]?://(?:[a-zA-Z]|[0-9]|[$$-_@.&+]|[!*\\(\\),]|%[0-9a-fA-F][0-9a-fA-F])+'))"""
      .stripMargin.replace("\n", " ")

  /** Token co-occurrence edge CTE shared by the graph-analytics
    * oracles — DuckDB's list_zip/slice replica of GraphOps.bigramEdges'
    * shift-and-zip.
    */
  private val graphEdgesCte: String =
    """WITH toks AS (SELECT STRING_SPLIT(text, ' ') AS w FROM documents),
      |pairs AS (SELECT UNNEST(LIST_ZIP(w, w[2:])) AS z FROM toks),
      |edges AS (SELECT z[1] AS src, z[2] AS dst, COUNT(*) AS weight
      |  FROM pairs WHERE z[2] IS NOT NULL GROUP BY 1, 2)""".stripMargin

  /** Token co-occurrence edges with a predicate applied — the planted
    * dangling-node variant for `kg_pagerank_dangling`.
    */
  private def graphEdgesCteFiltered(pred: String): String =
    s"""WITH toks AS (SELECT STRING_SPLIT(text, ' ') AS w FROM documents),
       |pairs AS (SELECT UNNEST(LIST_ZIP(w, w[2:])) AS z FROM toks),
       |edges0 AS (SELECT z[1] AS src, z[2] AS dst, COUNT(*) AS weight
       |  FROM pairs WHERE z[2] IS NOT NULL GROUP BY 1, 2),
       |edges AS (SELECT * FROM edges0 WHERE $pred)""".stripMargin

  /** Closed-form page→entity edge table for `kg_entity_pagerank`: the
    * kg_triples plant (docs with ≥7 tokens mention 'zzjohn zzdoe',
    * ≥21 also 'zzann'). The two names' padded 3-gram sets share only
    * " zz" (Jaccard 1/15, distance ≈ 0.93, far above the 0.3 link
    * threshold), so both are singleton entities and obj_entity is the
    * FNV-1a constant the generator computes — the same closed-form
    * device as the planted ANN oracles.
    */
  private def entityEdgesCte: String = {
    val e1 = f"person:${graft.kg.Canonicalize.nameId("zzjohn zzdoe")}%016x"
    val e2 = f"person:${graft.kg.Canonicalize.nameId("zzann")}%016x"
    s"""WITH d AS (
       |  SELECT doc_id, source, LEN(STRING_SPLIT(text, ' ')) AS n
       |  FROM documents),
       |edges AS (
       |  SELECT 'doc://' || source || '/' || doc_id AS src,
       |    '$e1' AS dst, 1 AS weight FROM d WHERE n >= 7
       |  UNION ALL
       |  SELECT 'doc://' || source || '/' || doc_id AS src,
       |    '$e2' AS dst, 1 AS weight FROM d WHERE n >= 21)""".stripMargin
  }

  /** Unrolled fixed-iteration PageRank replica of GraphOps.pagerank:
    * same per-iteration double ops in the same association, the same
    * round-to-12dp, and the same exact DECIMAL(38,15) contribution sum,
    * so the two engines agree bit-for-bit. (1.0-0.85) is spelled as a
    * SUBTRACTION, not the literal 0.15 — IEEE 1.0-0.85 is NOT the
    * nearest double to 0.15, and the Scala side computes the
    * subtraction.
    */
  private def pagerankOracle(iters: Int,
      seeds: Option[Seq[String]] = None,
      weighted: Boolean = false,
      dangling: Boolean = false,
      edgesCte: String = graphEdgesCte): String = {
    // the engine folds dangling mass into the SEED distribution when
    // seeds are given (topic-sensitive formulation); recvSql below
    // always redistributes DM/N uniformly — registering a seeded
    // dangling oracle through this generator would silently diverge,
    // so refuse the combination until recvSql is seed-aware
    require(seeds.isEmpty || !dangling,
      "pagerankOracle: seeded dangling mode not replicated (engine " +
        "concentrates DM on the seed set; this SQL redistributes " +
        "uniformly) — make recvSql seed-aware before registering one")
    val odExpr = if (weighted) "SUM(weight)" else "COUNT(*)"
    val shareExpr =
      if (weighted) "p.rank * e.weight/od.outdeg" else "p.rank/od.outdeg"
    // uniform: base = (1-d)/N, init = 1/N; personalized: both
    // concentrate on the seed set — same expression SHAPES the Scala
    // side computes, so the IEEE doubles agree bit-for-bit
    val (baseSql, initSql) = seeds match {
      case None =>
        ("(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))/nn.n",
          "CAST(1.0 AS DOUBLE)/(SELECT n FROM nn)")
      case Some(s) =>
        val inList = s.distinct.map("'" + _ + "'").mkString(", ")
        val nS = s.distinct.size
        (s"CASE WHEN n.node IN ($inList) THEN " +
          s"(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))/$nS " +
          "ELSE CAST(0.0 AS DOUBLE) END",
          s"CASE WHEN node IN ($inList) THEN CAST(1.0 AS DOUBLE)/$nS " +
            "ELSE CAST(0.0 AS DOUBLE) END")
    }
    // dangling mode: one exact-decimal scalar CTE per iteration (the
    // rank parked on out-degree-0 nodes), folded into the update the
    // same way GraphOps.pagerank's step does: d * (recv + DM/N)
    val recvSql =
      if (dangling)
        "(CAST(COALESCE(s.c, 0) AS DOUBLE) + CAST(dm%d.dm AS DOUBLE)/nn.n)"
      else "CAST(COALESCE(s.c, 0) AS DOUBLE)"
    val its = (1 to iters).map { i =>
      val dmCte = if (dangling)
        s"""dm$i AS (
           |  SELECT COALESCE(SUM(CAST(p.rank AS DECIMAL(38,15))),
           |    CAST(0 AS DECIMAL(38,15))) AS dm
           |  FROM pr${i - 1} p WHERE p.node NOT IN (SELECT src FROM od)),
           |""".stripMargin
      else ""
      val dmJoin = if (dangling) s" CROSS JOIN dm$i" else ""
      s"""${dmCte}pr$i AS (
         |  SELECT n.node,
         |    ROUND($baseSql +
         |      CAST(0.85 AS DOUBLE) * ${recvSql.format(i)}, 12) AS rank
         |  FROM nodes n CROSS JOIN nn$dmJoin
         |  LEFT JOIN (
         |    SELECT e.dst,
         |      SUM(CAST(ROUND($shareExpr, 12) AS DECIMAL(38,15))) AS c
         |    FROM edges e JOIN od USING (src) JOIN pr${i - 1} p ON p.node = e.src
         |    GROUP BY e.dst) s ON s.dst = n.node)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
       |od AS (SELECT src, $odExpr AS outdeg FROM edges GROUP BY src),
       |pr0 AS (SELECT node, $initSql AS rank
       |        FROM nodes),
       |$its
       |SELECT node, ROUND(rank, 10) AS rank FROM pr$iters ORDER BY node""".stripMargin
  }

  /** Unrolled fixed-iteration Bellman-Ford replica of
    * GraphOps.shortestPaths: min-plus over BIGINT weights, one
    * relax-and-merge CTE per round.
    */
  private def bellmanFordOracle(source: String, iters: Int): String = {
    val its = (1 to iters).map { i =>
      s"""d$i AS (SELECT node, MIN(dist) AS dist FROM (
         |  SELECT * FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.dst AS node, p.dist + e.weight AS dist
         |  FROM edges e JOIN d${i - 1} p ON e.src = p.node) GROUP BY node)"""
        .stripMargin
    }.mkString(",\n")
    s"""$graphEdgesCte,
       |d0 AS (SELECT '$source' AS node, CAST(0 AS BIGINT) AS dist),
       |$its
       |SELECT node, dist FROM d$iters ORDER BY node""".stripMargin
  }

  /** Unrolled synchronous label-propagation replica of
    * GraphOps.labelPropagation: same undirected expansion, the same
    * (count desc, label asc) argmax per round.
    */
  private def lpaOracle(rounds: Int): String = {
    val its = (1 to rounds).map { i =>
      s"""c$i AS (SELECT nb.node, l.label, COUNT(*) AS cnt
         |  FROM nb JOIN l${i - 1} l ON l.node = nb.nbr GROUP BY 1, 2),
         |l$i AS (SELECT node, label FROM (
         |  SELECT node, label, ROW_NUMBER() OVER (
         |    PARTITION BY node ORDER BY cnt DESC, label ASC) AS rk
         |  FROM c$i) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""$graphEdgesCte,
       |und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
       |        FROM edges WHERE src <> dst),
       |nb AS (SELECT u AS nbr, v AS node FROM und
       |       UNION ALL SELECT v AS nbr, u AS node FROM und),
       |l0 AS (SELECT DISTINCT node, node AS label FROM nb),
       |$its
       |SELECT node, label FROM l$rounds ORDER BY node""".stripMargin
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
    val planes = graft.ops.Similarity.srpPlanes(nBits, dim)
    val sigExpr = planes.zipWithIndex.map { case (row, b) =>
      val arr = row.map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"(CASE WHEN LIST_DOT_PRODUCT(emb, $arr) > 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString("\n      + ")
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
    def arr(row: Array[Double]) =
      row.map(java.lang.Double.toString).mkString("[", ", ", "]")
    val sigExpr = planes.zipWithIndex.map { case (row, b) =>
      s"(CASE WHEN LIST_DOT_PRODUCT(emb, ${arr(row)}) > 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString("\n      + ")
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
       |SELECT query_id, neighbor_id, rk FROM (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id ASC) AS rk
       |  FROM cand)
       |WHERE rk <= $k ORDER BY query_id, rk""".stripMargin
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
    def arr(row: Array[Double]) =
      row.map(java.lang.Double.toString).mkString("[", ", ", "]")
    val bucketCols = (0 until nTables).map { tb =>
      val bits = (0 until nBits).map { j =>
        val row = planes(tb * nBits + j)
        s"(CASE WHEN LIST_DOT_PRODUCT(emb, ${arr(row)}) > 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString("\n      + ")
      s"      $bits AS b$tb"
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
       |SELECT query_id, neighbor_id, rk FROM (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id ASC) AS rk
       |  FROM cand)
       |WHERE rk <= $k ORDER BY query_id, rk""".stripMargin
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
      s"""a$i AS (SELECT vec_id, emb, cell FROM (
         |  SELECT e.vec_id, e.emb, c.cell,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY LIST_DOT_PRODUCT(e.emb, c.c)
         |               - LIST_DOT_PRODUCT(c.c, c.c)/2 DESC,
         |               c.cell ASC) AS rn
         |  FROM e CROSS JOIN c${i - 1} c) WHERE rn = 1),
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
       |corp AS (SELECT vec_id, emb, cell FROM (
       |  SELECT e.vec_id, e.emb, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY LIST_DOT_PRODUCT(e.emb, c.c)
       |               - LIST_DOT_PRODUCT(c.c, c.c)/2 DESC,
       |               c.cell ASC) AS rn
       |  FROM e CROSS JOIN $cf c) WHERE rn = 1),
       |pr AS (SELECT vec_id, emb, cell FROM (
       |  SELECT e.vec_id, e.emb, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY LIST_DOT_PRODUCT(e.emb, c.c)
       |               - LIST_DOT_PRODUCT(c.c, c.c)/2 DESC,
       |               c.cell ASC) AS rn
       |  FROM e CROSS JOIN $cf c) WHERE rn <= $nprobe AND $probePred)
       |SELECT query_id, neighbor_id, rk FROM (
       |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |      ORDER BY LIST_DOT_PRODUCT(p.emb, c.emb) DESC,
       |               c.vec_id ASC) AS rk
       |  FROM pr p JOIN corp c
       |    ON p.cell = c.cell AND p.vec_id <> c.vec_id)
       |WHERE rk <= $k ORDER BY query_id, rk""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "kg_communities" -> lpaOracle(2),
    "kg_triangles" ->
      s"""$graphEdgesCte,
         |und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
         |        FROM edges WHERE src <> dst),
         |tri AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v
         |  JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v),
         |n3 AS (SELECT a AS node FROM tri UNION ALL
         |       SELECT b FROM tri UNION ALL SELECT c FROM tri)
         |SELECT node, COUNT(*) AS n_triangles FROM n3
         |GROUP BY node ORDER BY node""".stripMargin,
    "kg_shortest_path" -> bellmanFordOracle("spark", 4),
    "kg_degrees" ->
      s"""$graphEdgesCte,
         |o AS (SELECT src AS node, COUNT(*) AS out_deg FROM edges GROUP BY 1),
         |i AS (SELECT dst AS node, COUNT(*) AS in_deg FROM edges GROUP BY 1)
         |SELECT COALESCE(o.node, i.node) AS node,
         |  CAST(COALESCE(out_deg, 0) AS BIGINT) AS out_deg,
         |  CAST(COALESCE(in_deg, 0) AS BIGINT) AS in_deg
         |FROM o FULL OUTER JOIN i ON o.node = i.node ORDER BY node""".stripMargin,
    "kg_pagerank" -> pagerankOracle(3),
    "kg_ppr" -> pagerankOracle(3, seeds = Some(Seq("spark", "query"))),
    "kg_pagerank_weighted" -> pagerankOracle(3, weighted = true),
    "kg_pagerank_dangling" -> pagerankOracle(3, dangling = true,
      edgesCte = graphEdgesCteFiltered("src <> 'spark'")),
    "kg_entity_pagerank" -> pagerankOracle(3, dangling = true,
      edgesCte = entityEdgesCte),
    "kg_nhop" ->
      s"""$graphEdgesCte,
         |seeds AS (SELECT UNNEST(['spark', 'query']) AS node),
         |d0 AS (SELECT DISTINCT node, 0 AS dist FROM seeds),
         |f1 AS (SELECT e.dst AS node, 1 AS dist FROM edges e
         |       JOIN d0 ON e.src = d0.node WHERE d0.dist = 0),
         |d1 AS (SELECT node, MIN(dist) AS dist FROM
         |       (SELECT * FROM d0 UNION ALL SELECT * FROM f1) GROUP BY node),
         |f2 AS (SELECT e.dst AS node, 2 AS dist FROM edges e
         |       JOIN d1 ON e.src = d1.node WHERE d1.dist = 1),
         |d2 AS (SELECT node, MIN(dist) AS dist FROM
         |       (SELECT * FROM d1 UNION ALL SELECT * FROM f2) GROUP BY node)
         |SELECT node, dist FROM d2 ORDER BY node""".stripMargin,
    "kg_merge_incremental" ->
      """WITH base AS (SELECT doc_id, text, lang, source FROM documents),
        |delta AS (
        |  SELECT doc_id, 'RECRAWL ' || text AS text, lang, source
        |  FROM base WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, 'NEW ' || text, lang, source
        |  FROM base WHERE doc_id % 50 = 0),
        |m AS (
        |  SELECT COALESCE(d.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN d.doc_id IS NOT NULL THEN d.text ELSE b.text END AS text,
        |    CASE WHEN d.doc_id IS NOT NULL THEN d.lang ELSE b.lang END AS lang,
        |    CASE WHEN d.doc_id IS NOT NULL THEN d.source ELSE b.source END AS source
        |  FROM base b FULL OUTER JOIN delta d ON b.doc_id = d.doc_id)
        |SELECT doc_id, MD5(text) AS content_key, lang, source
        |FROM m ORDER BY doc_id""".stripMargin,
    "doc_bm25" ->
      """WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
        |dl AS (SELECT doc_id, CAST(LEN(w) AS BIGINT) AS dl FROM toks),
        |const AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |                 CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM (SELECT doc_id, UNNEST(w) AS t FROM toks) u
        |       WHERE u.t IN ('spark', 'query', 'fast')
        |       GROUP BY doc_id, t),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |idf AS (SELECT term,
        |          LN((const.n - df + CAST(0.5 AS DOUBLE)) /
        |             (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) AS idf
        |        FROM df CROSS JOIN const),
        |c AS (SELECT tf.doc_id,
        |  CAST(ROUND(idf.idf *
        |    (tf.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
        |    (tf.tf + CAST(1.2 AS DOUBLE) *
        |      ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)) +
        |        CAST(0.75 AS DOUBLE) * dl.dl / const.avgdl)), 9)
        |    AS DECIMAL(38,15)) AS c
        |  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id)
        |  CROSS JOIN const)
        |SELECT doc_id, ROUND(CAST(SUM(c) AS DOUBLE), 6) AS bm25
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "doc_domain_stats" ->
      """SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars,
        |  CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(MIN(LENGTH(text)) AS BIGINT) AS min_len,
        |  CAST(MAX(LENGTH(text)) AS BIGINT) AS max_len
        |FROM documents GROUP BY source ORDER BY domain""".stripMargin,
    "dedup_semantic" ->
      """SELECT vec_id AS id, vec_id AS keeper FROM embeddings
        |UNION ALL
        |SELECT vec_id + 1099511627776 AS id, vec_id AS keeper
        |FROM embeddings ORDER BY id""".stripMargin,
    "doc_sample_stratified" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE md5('strat:' || CAST(doc_id AS VARCHAR)) <
        |  CASE WHEN lang = 'en' THEN '80'
        |       WHEN lang = 'de' THEN '40'
        |       WHEN lang = 'zh' THEN '20'
        |       ELSE '10' END
        |ORDER BY doc_id""".stripMargin,
    "kg_triples" ->
      """WITH d AS (
        |  SELECT doc_id, source, LEN(STRING_SPLIT(text, ' ')) AS n
        |  FROM documents)
        |SELECT 'doc://' || source || '/' || doc_id AS subj,
        |  'mentionsPerson' AS pred, name AS obj,
        |  'doc://' || source || '/' || doc_id AS url
        |FROM (
        |  SELECT doc_id, source, 'zzjohn zzdoe' AS name FROM d WHERE n >= 7
        |  UNION ALL
        |  SELECT doc_id, source, 'zzann' AS name FROM d WHERE n >= 21)
        |ORDER BY url, obj""".stripMargin,
    "kg_relations" ->
      """WITH d AS (
        |  SELECT doc_id, source, LEN(STRING_SPLIT(text, ' ')) AS n
        |  FROM documents),
        |r AS (
        |  SELECT 'zzjohn zzdoe' AS subj, 'hasTitle' AS pred, 'dr.zz' AS obj,
        |    'doc://' || source || '/' || doc_id AS url,
        |    (n - 13) // 37 + 1 AS c
        |  FROM d WHERE n >= 13
        |  UNION ALL
        |  SELECT 'zzjohn zzdoe' AS subj, 'hasEmail' AS pred, 'zz@zz.aa' AS obj,
        |    'doc://' || source || '/' || doc_id AS url,
        |    (n - 21) // 37 + 1 AS c
        |  FROM d WHERE n >= 21)
        |SELECT subj, pred, obj, url FROM (
        |  SELECT subj, pred, obj, url,
        |    UNNEST(generate_series(1, c)) AS k FROM r)
        |ORDER BY url, pred, obj""".stripMargin,
    "dedup_minhash_lsh" ->
      """SELECT doc_id AS id_a, doc_id + 1099511627776 AS id_b,
        |CAST(1.0 AS DOUBLE) AS jaccard
        |FROM documents ORDER BY id_a, id_b""".stripMargin,
    "dedup_simhash" ->
      """SELECT doc_id AS id_a, doc_id + 1099511627776 AS id_b,
        |CAST(0 AS INTEGER) AS hamming
        |FROM documents ORDER BY id_a, id_b""".stripMargin,
    "kg_token_features" ->
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    UNNEST(STRING_SPLIT(text, ' ')) AS t,
        |    UNNEST(generate_series(1, LEN(STRING_SPLIT(text, ' ')))) AS i
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS tok_id,
        |    CASE (i - 1) % 8
        |      WHEN 0 THEN upper(substr(t, 1, 1)) || substr(t, 2)
        |      WHEN 1 THEN ';'
        |      WHEN 2 THEN 'dr.' || t
        |      WHEN 3 THEN t || '@' || t || '.com'
        |      WHEN 4 THEN t || '9'
        |      WHEN 5 THEN 'é' || t
        |      ELSE t END AS tkn
        |  FROM toks)
        |SELECT doc_id, tok_id, tkn,
        |  replace(lower(tkn), 'é', 'e') AS unaccented,
        |  CASE WHEN ${emailSql("tkn")} THEN 1 ELSE 0 END AS email,
        |  CASE WHEN regexp_matches(tkn, '[0-9]') THEN 1 ELSE 0 END AS number,
        |  CASE WHEN ${titleOrSql("tkn")} THEN 1 ELSE 0 END AS title,
        |  CASE WHEN ${urlSql("tkn")} THEN 1 ELSE 0 END AS url_flag,
        |  CASE WHEN regexp_matches(tkn, '^[A-Z]') THEN 1 ELSE 0 END AS capitalized,
        |  CASE WHEN tkn IN (',', ';', ':', '-', '"', '(', ')', '“', '”', '；')
        |       THEN 1 ELSE 0 END AS punct,
        |  'doc' AS css_class
        |FROM v ORDER BY doc_id, tok_id""".stripMargin,
    "kg_predicates" ->
      s"""WITH tk AS (
        |  SELECT DISTINCT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
        |c AS (SELECT UNNEST([
        |  'http://' || t || '.com/x',
        |  'https://' || t,
        |  'http' || t,
        |  'ftp://' || t,
        |  t || '@' || t,
        |  t || '@.a',
        |  'x@' || t || '.co',
        |  '@' || t || '.co',
        |  'dr' || t,
        |  'DR' || t,
        |  'd.r' || t,
        |  'Mrs.' || t,
        |  'profX' || t,
        |  'é' || t || 'À']) AS s FROM tk)
        |SELECT s,
        |  CASE WHEN ${emailSql("s")} THEN 1 ELSE 0 END AS email,
        |  CASE WHEN ${urlSql("s")} THEN 1 ELSE 0 END AS url_flag,
        |  CASE WHEN ${titleOrSql("s")} THEN 1 ELSE 0 END AS title,
        |  replace(replace(lower(s), 'é', 'e'), 'à', 'a') AS unaccented
        |FROM c ORDER BY s""".stripMargin,
    "kg_segmentation" ->
      """SELECT doc_id,
        |  (CASE WHEN m1 = 0 THEN 0 WHEN m1 < 50 THEN 1
        |        ELSE 1 + (m1 - 1) // 10 END
        |   + CASE WHEN m2 <= 0 THEN 0 WHEN m2 < 50 THEN 1
        |          ELSE 1 + ((n - 1) // 10 - 8) END) AS n_sentences
        |FROM (SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n,
        |        LEAST(LEN(STRING_SPLIT(text, ' ')), 80) AS m1,
        |        LEN(STRING_SPLIT(text, ' ')) - 80 AS m2
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "kg_gazetteer" ->
      """WITH toks AS (
        |  SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n,
        |    UNNEST(STRING_SPLIT(text, ' ')) AS t,
        |    UNNEST(generate_series(1, LEN(STRING_SPLIT(text, ' ')))) AS i
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, n, CAST(i - 1 AS BIGINT) AS tok_id,
        |    CASE WHEN (i - 1) % 23 = 3 THEN 'zzalpha'
        |         WHEN (i - 1) % 23 = 4 THEN 'zzbeta'
        |         ELSE t END AS tkn
        |  FROM toks)
        |SELECT doc_id, tok_id, tkn,
        |  CASE WHEN (tkn = 'zzalpha' AND tok_id < n - 1) OR tkn = 'zzbeta'
        |       THEN 1 ELSE 0 END AS exact,
        |  CASE WHEN tkn IN ('zzalpha', 'zzbeta') THEN 1 ELSE 0 END AS partial,
        |  CASE WHEN tkn = 'zzalpha' THEN 1 WHEN tkn = 'zzbeta' THEN 2
        |       ELSE 0 END AS name_log,
        |  CASE WHEN tkn = 'zzbeta' THEN 2 ELSE 0 END AS word_log
        |FROM v ORDER BY doc_id, tok_id""".stripMargin,
    "kg_span_metrics" ->
      """WITH per AS (
        |  SELECT LEN(STRING_SPLIT(text, ' ')) AS n FROM documents),
        |tot AS (SELECT
        |    SUM(CASE WHEN n >= 3 THEN (n - 3) // 7 + 1 ELSE 0 END) AS nexp,
        |    SUM(CASE WHEN n >= 3 THEN (n - 3) // 5 + 1 ELSE 0 END) AS nprd,
        |    SUM(CASE WHEN n >= 3 THEN (n - 3) // 35 + 1 ELSE 0 END) AS ntp,
        |    SUM(n) AS ntoks
        |  FROM per)
        |SELECT
        |  CAST(ntoks - nexp - nprd + 2 * ntp AS DOUBLE) / ntoks AS accuracy,
        |  CAST(ntp AS DOUBLE) / nprd AS "precision",
        |  CAST(ntp AS DOUBLE) / nexp AS recall,
        |  2 * (CAST(ntp AS DOUBLE) / nprd) * (CAST(ntp AS DOUBLE) / nexp)
        |    / ((CAST(ntp AS DOUBLE) / nprd) + (CAST(ntp AS DOUBLE) / nexp)) AS f1,
        |  CAST(ntp AS BIGINT) AS correct,
        |  CAST(nprd - ntp AS BIGINT) AS incorrect,
        |  CAST(nexp - ntp AS BIGINT) AS missed
        |FROM tot""".stripMargin,
    "kg_relations_counts" ->
      """SELECT doc_id,
        |  CAST((n - 13) // 37 + 1 AS BIGINT) AS n_title,
        |  CAST(CASE WHEN n >= 21 THEN (n - 21) // 37 + 1 ELSE 0 END
        |       AS BIGINT) AS n_email
        |FROM (SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n
        |      FROM documents)
        |WHERE n >= 13 ORDER BY doc_id""".stripMargin,
    "kg_canonicalize" ->
      """WITH v AS (
        |  SELECT tkn AS name, COUNT(*) AS support FROM (
        |    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tkn FROM documents)
        |  WHERE LENGTH(tkn) > 0 GROUP BY tkn),
        |g AS (SELECT substr(name, 1, 1) AS grp, name, support FROM v),
        |ranked AS (
        |  SELECT grp, name,
        |    ROW_NUMBER() OVER (PARTITION BY grp
        |      ORDER BY support DESC, name DESC) AS rn
        |  FROM g),
        |agg AS (
        |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_aliases,
        |    CAST(SUM(support) AS BIGINT) AS support
        |  FROM g GROUP BY grp)
        |SELECT r.name AS canonical_name, a.n_aliases, a.support
        |FROM ranked r JOIN agg a USING (grp) WHERE r.rn = 1
        |ORDER BY canonical_name""".stripMargin,
    "kg_bilstm_decode" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= 8
        |       THEN (LEN(STRING_SPLIT(text, ' ')) - 8) // 13 + 1
        |       ELSE 0 END AS BIGINT) AS n_entity_tags
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Same planted-position closed form as kg_bilstm_decode: the
    // attention stack fires > 5 exactly on the i % 13 == 7 plants.
    "kg_attention_decode" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= 8
        |       THEN (LEN(STRING_SPLIT(text, ' ')) - 8) // 13 + 1
        |       ELSE 0 END AS BIGINT) AS n_entity_tags
        |FROM documents ORDER BY doc_id""".stripMargin,
    "kg_mention_counts" ->
      """SELECT doc_id,
        |  CAST((LEN(STRING_SPLIT(text, ' ')) - 7) // 31 + 1 AS BIGINT) AS n_mentions,
        |  CAST(1 AS BIGINT) AS n_names
        |FROM documents
        |WHERE LEN(STRING_SPLIT(text, ' ')) >= 7
        |ORDER BY doc_id""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_join_broadcast" ->
      """SELECT c_mktsegment,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q3_window_topk" ->
      """SELECT l_suppkey, rk, l_orderkey, l_linenumber, l_extendedprice FROM (
        |SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rk
        |FROM lineitem) WHERE rk <= 3 ORDER BY l_suppkey, rk""".stripMargin,
    "q4_semi_anti" ->
      """SELECT c_mktsegment,
        |COUNT(*) FILTER (WHERE has_u) AS with_urgent,
        |COUNT(*) FILTER (WHERE NOT has_u) AS without_urgent
        |FROM (SELECT c_mktsegment, EXISTS(SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT') AS has_u
        |  FROM customer)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q5_rollup" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |COALESCE(o_orderpriority, 'ALL') AS priority,
        |COUNT(*) AS n_orders,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "doc_vocab" ->
      """SELECT tkn, COUNT(*) AS n FROM (
        |SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tkn FROM documents)
        |WHERE LENGTH(tkn) > 0 GROUP BY tkn ORDER BY tkn""".stripMargin,
    "doc_unigram_lm" ->
      """WITH w AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS word
        |  FROM documents),
        |w2 AS (SELECT * FROM w WHERE LENGTH(word) > 0),
        |c AS (SELECT word, COUNT(*) AS cnt FROM w2 GROUP BY word),
        |t AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM c),
        |v AS (SELECT word, cnt FROM c ORDER BY cnt DESC, word ASC LIMIT 20),
        |agg AS (
        |  SELECT w2.doc_id, COUNT(*) AS n_tokens,
        |    ROUND(AVG(LN(COALESCE(CAST(v.cnt AS DOUBLE), 0.5) / t.total)), 3)
        |      AS avg_logp
        |  FROM w2 LEFT JOIN v USING (word) CROSS JOIN t
        |  GROUP BY w2.doc_id)
        |SELECT d.doc_id, CAST(COALESCE(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  agg.avg_logp
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    "doc_quality" ->
      """SELECT doc_id, lang,
        |CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
        |CAST(LENGTH(text) AS BIGINT) AS len,
        |CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[aeiou]', '', 'g')) AS BIGINT) AS n_vowels
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_dedup_exact" ->
      """SELECT MD5(text) AS content_key, MIN(doc_id) AS keeper,
        |COUNT(*) AS copies FROM documents
        |GROUP BY MD5(text) ORDER BY content_key""".stripMargin,
    "warc_roundtrip" ->
      """SELECT doc_id,
        |CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
        |text AS text_rebuilt
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Batch first-seen: min doc_id per distinct text — the streaming
    // keyed-state replay must emit exactly this set.
    "stream_first_seen" ->
      """SELECT doc_id FROM (
        |  SELECT doc_id, ROW_NUMBER() OVER (
        |    PARTITION BY MD5(COALESCE(text, '')) ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "doc_dedup_clusters" ->
      """SELECT doc_id, keeper FROM (
        |  SELECT doc_id, doc_id AS keeper FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1099511627776 AS doc_id, doc_id AS keeper
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2199023255552 AS doc_id, doc_id AS keeper
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "dedup_jaccard_pairs" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |ROUND(CAST(LEN(LIST_INTERSECT(LIST_DISTINCT(STRING_SPLIT(a.text,' ')), LIST_DISTINCT(STRING_SPLIT(b.text,' ')))) AS DOUBLE)
        | / LEN(LIST_DISTINCT(LIST_CONCAT(LIST_DISTINCT(STRING_SPLIT(a.text,' ')), LIST_DISTINCT(STRING_SPLIT(b.text,' '))))), 6) AS jaccard
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH g AS (
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
        |ORDER BY id_a""".stripMargin,
    "doc_split_assign" ->
      """SELECT doc_id,
        |  CASE WHEN md5('split:' || CAST(doc_id AS VARCHAR)) < 'f0'
        |       THEN 'train'
        |       WHEN md5('split:' || CAST(doc_id AS VARCHAR)) < 'f8'
        |       THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_contamination" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    CASE WHEN LEN(STRING_SPLIT(text, ' ')) < 3 THEN [text]
        |    ELSE LIST_DISTINCT(list_transform(
        |      generate_series(1, LEN(STRING_SPLIT(text, ' ')) - 2),
        |      i -> array_to_string((STRING_SPLIT(text, ' '))[i:i+2], ' ')))
        |    END AS grams
        |  FROM documents),
        |b AS (SELECT DISTINCT UNNEST(grams) AS gram FROM g
        |      WHERE doc_id % 50 = 0),
        |bl AS (SELECT LIST(gram) AS bset FROM b)
        |SELECT g.doc_id,
        |  CAST(COALESCE(LEN(LIST_INTERSECT(g.grams, bl.bset)), 0) AS BIGINT)
        |    AS n_shared_grams
        |FROM g CROSS JOIN bl ORDER BY doc_id""".stripMargin,
    "doc_pii_redact" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    UNNEST(STRING_SPLIT(text, ' ')) AS t,
        |    UNNEST(generate_series(1, LEN(STRING_SPLIT(text, ' ')))) AS i
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, i,
        |    CASE WHEN (i-1) % 17 = 4 THEN '<EMAIL>'
        |         WHEN (i-1) % 17 = 9 THEN '<URL>'
        |         WHEN (i-1) % 17 = 12 THEN '<PHONE>'
        |         WHEN (i-1) % 17 = 14 THEN '<IP>'
        |         ELSE t END AS t2,
        |    CASE WHEN (i-1) % 17 = 4 THEN 1 ELSE 0 END AS e,
        |    CASE WHEN (i-1) % 17 = 9 THEN 1 ELSE 0 END AS u,
        |    CASE WHEN (i-1) % 17 = 12 THEN 1 ELSE 0 END AS p,
        |    CASE WHEN (i-1) % 17 = 14 THEN 1 ELSE 0 END AS ip
        |  FROM toks)
        |SELECT doc_id,
        |  string_agg(t2, ' ' ORDER BY i) AS text_redacted,
        |  CAST(SUM(e) AS BIGINT) AS n_emails,
        |  CAST(SUM(u) AS BIGINT) AS n_urls,
        |  CAST(SUM(ip) AS BIGINT) AS n_ips,
        |  CAST(SUM(p) AS BIGINT) AS n_phones
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "doc_repetition" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    LIST_FILTER(STRING_SPLIT(text, ' '), x -> LENGTH(x) > 0) AS w
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, w, LEN(w) AS n,
        |    CASE WHEN LEN(w) = 0 THEN 0.0
        |         ELSE 1.0 - CAST(LEN(LIST_DISTINCT(w)) AS DOUBLE) / LEN(w)
        |    END AS dup_word_frac
        |  FROM d),
        |g AS (
        |  SELECT doc_id, UNNEST(list_transform(generate_series(1, n - 1),
        |    i -> w[i] || ' ' || w[i+1])) AS gram
        |  FROM base WHERE n >= 2),
        |m AS (
        |  SELECT doc_id, MAX(c) AS best FROM (
        |    SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram)
        |  GROUP BY doc_id)
        |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_words, b.dup_word_frac,
        |  COALESCE(CAST(m.best AS DOUBLE) / (b.n - 1), 0.0) AS top_bigram_frac
        |FROM base b LEFT JOIN m USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "doc_quality_ext" ->
      """SELECT doc_id,
        |  CAST(LENGTH(text) AS BIGINT) AS len,
        |  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(LENGTH(text) AS DOUBLE) / LEN(STRING_SPLIT(text, ' '))
        |    AS mean_token_span,
        |  CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
        |      t -> t IN ('the', 'a'))) AS DOUBLE)
        |    / LEN(STRING_SPLIT(text, ' ')) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_fingerprint" ->
      """SELECT COUNT(*) AS n_docs,
        |COUNT(DISTINCT text) AS n_distinct_fp,
        |COUNT(DISTINCT text) AS n_distinct_text
        |FROM documents""".stripMargin,
    "doc_langid" ->
      """SELECT doc_id,
        |CASE
        |  WHEN es > en AND es >= de AND es >= fr AND es >= zh THEN 'es'
        |  WHEN de > en AND de > es AND de >= fr AND de >= zh THEN 'de'
        |  WHEN fr > en AND fr > es AND fr > de AND fr >= zh THEN 'fr'
        |  WHEN zh > en AND zh > es AND zh > de AND zh > fr THEN 'zh'
        |  ELSE 'en'
        |END AS lang_guess
        |FROM (SELECT doc_id,
        |  LEN(LIST_FILTER(STRING_SPLIT(text,' '), t -> t IN ('the','a'))) AS en,
        |  LEN(LIST_FILTER(STRING_SPLIT(text,' '), t -> t IN ('data','row'))) AS es,
        |  LEN(LIST_FILTER(STRING_SPLIT(text,' '), t -> t IN ('fast','slow'))) AS de,
        |  LEN(LIST_FILTER(STRING_SPLIT(text,' '), t -> t IN ('table','value'))) AS fr,
        |  LEN(LIST_FILTER(STRING_SPLIT(text,' '), t -> t IN ('spark','hash'))) AS zh
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "doc_bpe_tokens" ->
      """SELECT doc_id,
        |CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_corpus_stats" ->
      """WITH d AS (
        |  SELECT CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
        |    x -> LENGTH(x) > 0)) AS BIGINT) AS n
        |  FROM documents)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS total_tokens,
        |  CAST(MIN(n) AS BIGINT) AS min_tokens,
        |  CAST(MAX(n) AS BIGINT) AS max_tokens,
        |  CAST(quantile_cont(n, 0.5) AS DOUBLE) AS p50_tokens,
        |  CAST(quantile_cont(n, 0.9) AS DOUBLE) AS p90_tokens
        |FROM d""".stripMargin,
    "doc_pack_chunks" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LENGTH(x) > 0))
        |      AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n,
        |    COALESCE(SUM(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM d),
        |x AS (
        |  SELECT doc_id, n, off,
        |    UNNEST(generate_series(CAST(off // 512 AS BIGINT),
        |      CAST((off + n - 1) // 512 AS BIGINT))) AS seq_id
        |  FROM c WHERE n > 0)
        |SELECT doc_id, seq_id,
        |  CAST(GREATEST(off, seq_id * 512) - off AS BIGINT) AS tok_from,
        |  CAST(LEAST(off + n, (seq_id + 1) * 512) - off AS BIGINT) AS tok_to
        |FROM x ORDER BY doc_id, seq_id""".stripMargin,
    "doc_line_dedup" ->
      """SELECT doc_id,
        |  'intro ' || doc_id || chr(10) || doc_id || ':' || text AS text_clean,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_removed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_substring_dedup" ->
      """WITH d AS (
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
        |ORDER BY doc_id""".stripMargin,
    "doc_url_canonical" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id % 5 AS INT) AS v,
        |    CAST(doc_id % 7 AS VARCHAR) AS k FROM documents)
        |SELECT doc_id,
        |  CASE v
        |    WHEN 0 THEN 'https://www.example' || k || '.com/a/' || doc_id || '?a=1&b=2'
        |    WHEN 1 THEN 'http://ex' || k || '.org:8080/p/' || doc_id || '/?z=9'
        |    WHEN 2 THEN 'http://ex' || k || '.com/'
        |    WHEN 3 THEN 'https://ex' || k || '.net/path'
        |    ELSE NULL END AS url_canonical,
        |  CASE v
        |    WHEN 0 THEN 'www.example' || k || '.com'
        |    WHEN 1 THEN 'ex' || k || '.org'
        |    WHEN 2 THEN 'ex' || k || '.com'
        |    WHEN 3 THEN 'ex' || k || '.net'
        |    ELSE '' END AS host,
        |  CASE v WHEN 0 THEN 'https' WHEN 1 THEN 'http'
        |    WHEN 2 THEN 'http' WHEN 3 THEN 'https' ELSE '' END AS scheme
        |FROM d ORDER BY doc_id""".stripMargin,
    // fixed-point BPE: every in-vocab word -> 1 token, the planted
    // 4-char OOV word -> 4 character tokens
    "doc_bpe_real" ->
      """SELECT doc_id,
        |CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LENGTH(x) > 0)) + 4
        |  AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ann_top1_dot" ->
      """SELECT a.vec_id AS query_id,
        |ARG_MAX(b.vec_id, LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))) AS neighbor_id
        |FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |WHERE a.vec_id < 500
        |GROUP BY a.vec_id ORDER BY query_id""".stripMargin,
    // the REAL approximate ANN surfaces, fully replayed in SQL —
    // plane-literal SRP signatures / unrolled deterministic-Lloyd IVF
    "ann_lsh_topk" -> lshTopKOracle(k = 5, nBits = 6, dim = 64,
      probePred = "p.vec_id < 500"),
    "ann_lsh_multiprobe_topk" -> lshMultiProbeOracle(k = 5, nBits = 6,
      dim = 64, extra = 2, probePred = "vec_id < 500"),
    "ann_lsh_multitable_topk" -> lshMultiTableOracle(k = 5, nBits = 6,
      nTables = 4, dim = 64, probePred = "p.vec_id < 500"),
    "ann_ivf_topk" -> ivfLloydOracle(k = 5, nlist = 8, nprobe = 2,
      lloydIters = 2, probePred = "vec_id < 500"),
    // exhaustive-mode ANN: approximate path == brute force by
    // construction, so the full k=5 ranking oracles in closed form
    "ann_lsh_exhaustive_topk" ->
      """SELECT query_id, neighbor_id, rk FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |      ORDER BY LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]),
        |                                CAST(b.embedding AS DOUBLE[])) DESC,
        |               b.vec_id ASC) AS rk
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 500)
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    "ann_ivf_exhaustive_topk" ->
      """SELECT query_id, neighbor_id, rk FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |      ORDER BY LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]),
        |                                CAST(b.embedding AS DOUBLE[])) DESC,
        |               b.vec_id ASC) AS rk
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 500)
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // planted-twin ANN invariants: rank-1 by cosine for an exact-copy
    // probe is deterministically its twin (no duplicate vectors exist
    // in the corpus), so the approximate paths oracle in closed form
    "ann_lsh_plant_top1" ->
      """SELECT vec_id + 1099511627776 AS query_id, vec_id AS neighbor_id
        |FROM embeddings ORDER BY query_id""".stripMargin,
    "ann_self_top1" ->
      """SELECT query_id, neighbor_id FROM (
        |  SELECT vec_id AS query_id,
        |    vec_id + 1099511627776 AS neighbor_id FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1099511627776 AS query_id,
        |    vec_id AS neighbor_id FROM embeddings)
        |ORDER BY query_id""".stripMargin,
    "ann_self_exhaustive_topk" ->
      """SELECT query_id, neighbor_id, rk FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |      ORDER BY LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]),
        |                                CAST(b.embedding AS DOUBLE[])) DESC,
        |               b.vec_id ASC) AS rk
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    "ann_ivf_plant_top1" ->
      """SELECT vec_id + 1099511627776 AS query_id, vec_id AS neighbor_id
        |FROM embeddings ORDER BY query_id""".stripMargin,
    "mm_decode" ->
      """SELECT doc_id,
        |CAST(LENGTH(text) % 97 AS BIGINT) AS width,
        |CAST((LENGTH(text) * 7) % 89 AS BIGINT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_frames_real" ->
      """WITH d AS (
        |  SELECT doc_id, 1 + doc_id % 4 AS nf, 3 + doc_id % 5 AS w,
        |         2 + LENGTH(text) % 7 AS h
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, w, h,
        |    UNNEST(generate_series(0, nf - 1)) AS frame_id
        |  FROM d)
        |SELECT doc_id, CAST(frame_id AS BIGINT) AS frame_id,
        |  'ok' AS status,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(list_sum(flatten(list_transform(range(0, h), y ->
        |    list_transform(range(0, w), x ->
        |      (doc_id*31 + frame_id*19 + x*7 + y*13) % 256))))
        |    AS BIGINT) AS pixel_sum
        |FROM f ORDER BY doc_id, frame_id""".stripMargin,
    "mm_audio_real" ->
      """WITH d AS (
        |  SELECT doc_id, 50 + LENGTH(text) % 97 AS n FROM documents)
        |SELECT doc_id, 'ok' AS status,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(8 AS BIGINT) AS bits,
        |  CAST(n AS BIGINT) AS frames,
        |  CAST(list_sum(list_transform(range(0, n), i ->
        |    (doc_id*31 + i*7) % 256)) AS BIGINT) AS sample_sum
        |FROM d ORDER BY doc_id""".stripMargin,
    "mm_decode_real" ->
      """WITH d AS (
        |  SELECT doc_id, 3 + doc_id % 13 AS w, 2 + LENGTH(text) % 11 AS h
        |  FROM documents)
        |SELECT doc_id, 'ok' AS status, 'png' AS format,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(1 AS BIGINT) AS bands,
        |  CAST(list_sum(flatten(list_transform(range(0, h), y ->
        |    list_transform(range(0, w), x ->
        |      (doc_id*31 + x*7 + y*13) % 256)))) AS BIGINT) AS pixel_sum
        |FROM d ORDER BY doc_id""".stripMargin,
    "mm_resize_real" ->
      """WITH d AS (
        |  SELECT doc_id, 6 + doc_id % 7 AS w, 6 + LENGTH(text) % 5 AS h
        |  FROM documents)
        |SELECT doc_id, 'ok' AS status,
        |  CAST(w // 2 AS BIGINT) AS width, CAST(h // 2 AS BIGINT) AS height,
        |  CAST(list_sum(flatten(list_transform(range(0, h // 2), Y ->
        |    list_transform(range(0, w // 2), X ->
        |      ((doc_id*31 + (2*X)*7   + (2*Y)*13) % 256
        |     + (doc_id*31 + (2*X+1)*7 + (2*Y)*13) % 256
        |     + (doc_id*31 + (2*X)*7   + (2*Y+1)*13) % 256
        |     + (doc_id*31 + (2*X+1)*7 + (2*Y+1)*13) % 256) // 4))))
        |    AS BIGINT) AS pixel_sum
        |FROM d ORDER BY doc_id""".stripMargin,
    "dedup_embed_cosine" ->
      """SELECT vec_id AS id_a, vec_id + 1099511627776 AS id_b,
        |CAST(1.0 AS DOUBLE) AS cosine
        |FROM embeddings ORDER BY id_a, id_b""".stripMargin,
    "q6_events_session" ->
      """WITH g AS (
        |SELECT user_id, ts, event_id, value,
        |CASE WHEN LAG(ts) OVER w IS NULL
        |     OR DATE_DIFF('second', LAG(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_sess
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |SELECT user_id, value,
        |CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
        |FROM g)
        |SELECT user_id, sess_id, COUNT(*) AS n_events,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sess_value
        |FROM s GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin
  )
}
