package graft.registry

import org.apache.spark.sql.functions._
import graft.io.Tables.table

/** Text-analysis, ranking, packing and upsert registry queries over
  * the `documents` table (`graft.ops`).
  */
object DocQueries {

  val queries: Seq[Query] = Seq(
    // A2 vocabulary extraction: distinct token + count over documents
    // (the reference's gazetteer count-build, SURVEY §2.4 A1/A2).
    Query("doc_vocab", (s, dir) => {
      table(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tkn"))
        .filter(length(col("tkn")) > 0)
        .groupBy("tkn").agg(count(lit(1)).as("n"))
        .orderBy("tkn")
    }, """SELECT tkn, COUNT(*) AS n FROM (
        |SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tkn FROM documents)
        |WHERE LENGTH(tkn) > 0 GROUP BY tkn ORDER BY tkn""".stripMargin),

    // Corpus unigram-LM quality score (the standard LM quality filter
    // of web-scale pipelines): topK=20 is deliberately smaller than the
    // documents vocabulary, so BOTH the in-vocab and OOV-floor paths
    // are exercised and oracled. round(3) absorbs summation-order and
    // libm-log ulp differences between Spark and DuckDB: the engines
    // can round apart only AT a grid boundary, and the coarse grid has
    // 1000x fewer boundaries than round(6) while staying a meaningful
    // quality score.
    Query("doc_unigram_lm", (s, dir) => {
      graft.ops.TextAnalysis.unigramLogProb(table(s, dir, "documents"), topK = 20)
        .select(col("doc_id"), col("n_tokens"),
          round(col("avg_logp"), 3).as("avg_logp"))
        .orderBy("doc_id")
    }, """WITH w AS (
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
        |LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Text analysis: token count + simple quality signals per doc.
    Query("doc_quality", (s, dir) => {
      table(s, dir, "documents")
        .select(
          col("doc_id"),
          col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("len"),
          (length(col("text")) -
           length(regexp_replace(col("text"), "[aeiou]", "")))
            .cast("long").as("n_vowels"))
        .orderBy("doc_id")
    }, """SELECT doc_id, lang,
        |CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
        |CAST(LENGTH(text) AS BIGINT) AS len,
        |CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[aeiou]', '', 'g')) AS BIGINT) AS n_vowels
        |FROM documents ORDER BY doc_id""".stripMargin),

    // PII scrubbing oracled end-to-end: planted email/URL tokens at
    // fixed positions -> the parity-pinned isEmail/isUrl kernels
    // (kg_predicates proves them == the DuckDB formula replicas)
    // redact them to placeholder tags; the rebuilt text and redaction
    // counts are position-derivable. Corpus assumption as documented
    // at kg_relations_counts: unplanted tokens are lowercase
    // punctuation-free words, so only the plants fire.
    Query("doc_pii_redact", (s, dir) => {
      // plant one of each PII class at fixed token positions (natural
      // corpus text is digit-free words, so nothing else can match any
      // predicate — the oracle knows the redactions by position)
      val varied = table(s, dir, "documents").select(col("doc_id"),
        expr("""array_join(transform(split(text, ' '), (t, i) ->
          CASE WHEN i % 17 = 4 THEN 'x@y.zz'
               WHEN i % 17 = 9 THEN 'http://ex.aa/p'
               WHEN i % 17 = 12 THEN '+1-555-0107'
               WHEN i % 17 = 14 THEN '10.20.30.41'
               ELSE t END), ' ')""").as("text"))
      graft.ops.TextAnalysis.redactPii(s, varied)
        .orderBy("doc_id")
    }, """WITH toks AS (
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
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Gopher-style repetition signals oracled DIRECTLY on the natural
    // corpus (no planting needed — dup-word and top-bigram fractions
    // are pure per-doc statistics DuckDB re-derives with list
    // functions; both engines run the same exact-integer ratios
    // through the same IEEE double ops).
    Query("doc_repetition", (s, dir) => {
      graft.ops.TextAnalysis.repetition(s, table(s, dir, "documents"))
        .orderBy("doc_id")
    }, """WITH d AS (
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
        |ORDER BY doc_id""".stripMargin),

    // Benchmark decontamination oracled DIRECTLY on the natural corpus:
    // benchmark = every 50th document, per-doc shared-trigram counts
    // re-derived in DuckDB with the same distinct-gram formulation as
    // the dedup_ngram_jaccard oracle. No planting — the overlap
    // statistic is whatever the corpus naturally contains (benchmark
    // docs at minimum hit their own grams).
    Query("doc_contamination", (s, dir) => {
      val d = table(s, dir, "documents")
      graft.ops.TextAnalysis.contamination(d,
          d.filter(col("doc_id") % 50 === 0), n = 3)
        .orderBy("doc_id")
    }, """WITH g AS (
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
        |FROM g CROSS JOIN bl ORDER BY doc_id""".stripMargin),

    // Deterministic train/val/test assignment oracled exactly: the
    // md5-hex-threshold split is the same pure expression in both
    // engines (Spark and DuckDB md5 hex agree byte-for-byte — the
    // doc_dedup_exact oracle already rests on that).
    Query("doc_split_assign", (s, dir) => {
      graft.ops.TextAnalysis.assignSplit(
          table(s, dir, "documents").select("doc_id"))
        .orderBy("doc_id")
    }, """SELECT doc_id,
        |  CASE WHEN md5('split:' || CAST(doc_id AS VARCHAR)) < 'f0'
        |       THEN 'train'
        |       WHEN md5('split:' || CAST(doc_id AS VARCHAR)) < 'f8'
        |       THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Quality scoring through the TextAnalysis.quality operator
    // (stopword ratio + mean token span on top of the length stats).
    Query("doc_quality_ext", (s, dir) => {
      graft.ops.TextAnalysis.quality(table(s, dir, "documents"))
        .orderBy("doc_id")
    }, """SELECT doc_id,
        |  CAST(LENGTH(text) AS BIGINT) AS len,
        |  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(LENGTH(text) AS DOUBLE) / LEN(STRING_SPLIT(text, ' '))
        |    AS mean_token_span,
        |  CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
        |      t -> t IN ('the', 'a'))) AS DOUBLE)
        |    / LEN(STRING_SPLIT(text, ' ')) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Fingerprinting via the native codegen Fnv1a64 expression; the
    // oracle checks the collision-free invariant without replicating
    // the hash: distinct fingerprints == distinct texts.
    Query("doc_fingerprint", (s, dir) => {
      val d = table(s, dir, "documents")
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
    }, """SELECT COUNT(*) AS n_docs,
        |COUNT(DISTINCT text) AS n_distinct_fp,
        |COUNT(DISTINCT text) AS n_distinct_text
        |FROM documents""".stripMargin),

    // Language-ID heuristic (marker-word argmax), oracle-checked.
    Query("doc_langid", (s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.TextAnalysis.langGuess(col("text")).as("lang_guess"))
        .orderBy("doc_id")
    }, """SELECT doc_id,
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
        |ORDER BY doc_id""".stripMargin),

    // BPE-ish regex token count, oracle-checked.
    Query("doc_bpe_tokens", (s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"))
        .orderBy("doc_id")
    }, """SELECT doc_id,
        |CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Dataset-card stats (ops.CorpusStats): one summary row with EXACT
    // distributed quantiles — rank fetch over a range partition via the
    // same prefix-sum shape as packing, linear interpolation at
    // r = p*(n-1), the definition DuckDB's quantile_cont shares (which
    // is what lets the oracle cross-check a quantile at all;
    // approx_percentile's t-digest could never hash-match).
    Query("doc_corpus_stats", (s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"),
        size(filter(split(col("text"), " "), w => length(w) > 0))
          .cast("long").as("n_tokens"))
      graft.ops.CorpusStats.tokenCard(s, d)
        .select("n_docs", "total_tokens", "min_tokens", "max_tokens",
          "p50_tokens", "p90_tokens")
    }, """WITH d AS (
        |  SELECT CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
        |    x -> LENGTH(x) > 0)) AS BIGINT) AS n
        |  FROM documents)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS total_tokens,
        |  CAST(MIN(n) AS BIGINT) AS min_tokens,
        |  CAST(MAX(n) AS BIGINT) AS max_tokens,
        |  CAST(quantile_cont(n, 0.5) AS DOUBLE) AS p50_tokens,
        |  CAST(quantile_cont(n, 0.9) AS DOUBLE) AS p90_tokens
        |FROM d""".stripMargin),

    // Sequence packing (concat-and-chunk, ops.Packing): docs in doc_id
    // order form one token stream cut into 512-token training
    // sequences, docs splitting across boundaries. Token count = word
    // count (closed-form both sides); the distributed prefix sum must
    // equal DuckDB's sequential window cumsum exactly, row for row.
    Query("doc_pack_chunks", (s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"),
        size(filter(split(col("text"), " "), w => length(w) > 0))
          .as("n_tokens"))
      graft.ops.Packing.chunkAssignments(s, docs, seqLen = 512)
        .orderBy("doc_id", "seq_id")
    }, """WITH d AS (
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
        |FROM x ORDER BY doc_id, seq_id""".stripMargin),

    // URL canonicalization (ops.Urls — pure codegen column kernel, the
    // crawl-side dedup key): five planted variant shapes per doc_id
    // (case/port/userinfo/tracking-params/fragment noise, plus a
    // schemeless malformed row) whose canonical forms are closed-form
    // strings — the oracle needs no URL library, it writes the
    // expected output directly, like the multimodal oracles.
    Query("doc_url_canonical", (s, dir) => {
      val urls = table(s, dir, "documents").select(col("doc_id"),
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
    }, """WITH d AS (
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
        |FROM d ORDER BY doc_id""".stripMargin),

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
    Query("doc_bpe_real", (s, dir) => {
      val docs = table(s, dir, "documents")
      val merges = graft.ops.Bpe.trainMerges(docs, numMerges = 200)
      val withOov = docs.select(col("doc_id"),
        concat(col("text"), lit(" zxzx")).as("text"))
      graft.ops.Bpe.tokenCounts(s, withOov, merges).orderBy("doc_id")
    },
      // fixed-point BPE: every in-vocab word -> 1 token, the planted
      // 4-char OOV word -> 4 character tokens
      """SELECT doc_id,
        |CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LENGTH(x) > 0)) + 4
        |  AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Iceberg-MERGE-shaped incremental upsert: every 5th doc arrives
    // re-crawled (updated text), every 50th spawns a brand-new doc id;
    // delta wins whole-row, base rows carry through, inserts append.
    Query("kg_merge_incremental", (s, dir) => {
      val d = table(s, dir, "documents")
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
    }, """WITH base AS (SELECT doc_id, text, lang, source FROM documents),
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
        |FROM m ORDER BY doc_id""".stripMargin),

    // BM25 relevance of every doc against a fixed query-term set
    Query("doc_bm25", (s, dir) => {
      graft.ops.Ranking.bm25(table(s, dir, "documents"),
          terms = Seq("spark", "query", "fast"))
        .orderBy("doc_id")
    }, """WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
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
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // per-domain rollup: one groupBy, the oracle's plain GROUP BY
    Query("doc_domain_stats", (s, dir) => {
      graft.ops.TextAnalysis.domainStats(table(s, dir, "documents"))
        .orderBy("domain")
    }, """SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars,
        |  CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(MIN(LENGTH(text)) AS BIGINT) AS min_len,
        |  CAST(MAX(LENGTH(text)) AS BIGINT) AS max_len
        |FROM documents GROUP BY source ORDER BY domain""".stripMargin),

    // deterministic per-language stratified sample (md5-hex thresholds,
    // granularity 1/256): en 50%, de 25%, zh 12.5%, others 6.25%
    Query("doc_sample_stratified", (s, dir) => {
      graft.ops.TextAnalysis.stratifiedSample(
          table(s, dir, "documents"), strataCol = "lang",
          rates = Seq("en" -> "80", "de" -> "40", "zh" -> "20"),
          defaultThreshold = "10")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }, """SELECT doc_id, lang, source FROM documents
        |WHERE md5('strat:' || CAST(doc_id AS VARCHAR)) <
        |  CASE WHEN lang = 'en' THEN '80'
        |       WHEN lang = 'de' THEN '40'
        |       WHEN lang = 'zh' THEN '20'
        |       ELSE '10' END
        |ORDER BY doc_id""".stripMargin)
  )
}
