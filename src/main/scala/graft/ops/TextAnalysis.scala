package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Text-analysis ops for training-data pipelines: language-ID
  * (marker-word heuristic), quality scoring, token counting (whitespace
  * + BPE-ish regex), rolling-hash document fingerprinting, unigram-LM
  * scoring, decontamination, split assignment, PII redaction, and
  * repetition signals. Everything expressible as column expressions IS
  * one (codegen'd, no Scala UDFs — stays inside whole-stage codegen
  * over a 100 TB scan); the two per-token SEQUENCE kernels
  * ([[redactPii]], [[repetition]]) are narrow `mapPartitions` with
  * O(doc) state, the same shape as the extraction kernels — no
  * shuffle, but they do leave codegen for their row.
  */
object TextAnalysis {

  /** Deterministic marker-word lists per language (tiny on purpose —
    * the heuristic, not the lexicon, is the operator under test).
    */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "es" -> Seq("data", "row"),
    "de" -> Seq("fast", "slow"),
    "fr" -> Seq("table", "value"),
    "zh" -> Seq("spark", "hash"))

  private def markerCount(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => words.foldLeft(lit(false))((acc, w) => acc || t === w)))

  /** Language guess = highest marker count, ties broken by list order
    * (argmax as `array_max` over (score, -listIndex, lang) structs —
    * each marker count appears ONCE in the plan; the earlier
    * when/otherwise fold duplicated every score subtree in both the
    * condition and the otherwise branch, doubling the expression tree
    * per language).
    */
  def langGuess(text: Column): Column = {
    val tokens = split(text, " ")
    val scored = Markers.zipWithIndex.map { case ((lang, ws), i) =>
      struct(markerCount(tokens, ws).as("s"), lit(-i).as("p"),
        lit(lang).as("lang"))
    }
    array_max(array(scored: _*)).getField("lang")
  }

  /** Quality signals: lengths, token stats, stopword + punct ratios. */
  def quality(docs: DataFrame): DataFrame = {
    val tokens = split(col("text"), " ")
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("len"),
      size(tokens).cast("long").as("n_tokens"),
      (length(col("text")).cast("double") / size(tokens).cast("double"))
        .as("mean_token_span"),
      (size(filter(tokens, t => t === "the" || t === "a")).cast("double") /
        size(tokens).cast("double")).as("stopword_ratio"))
  }

  /** BPE-ish regex token count (letters / digits / other runs). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
      .cast("long")

  /** Rolling-hash fingerprint via the native Fnv1a64 expression. */
  def fingerprint(text: Column): Column = GraftFunctions.column("fnv1a64", text)

  /** Deterministic train/val/test assignment — the sharding primitive
    * every dataset build ends with. The split key is the md5 of the
    * salted doc id compared against hex-string thresholds: pure
    * codegen'd column expressions, reproducible across engines and
    * runs, independent of row order and partitioning, and re-saltable
    * for independent re-splits. A key below hex prefix "f0" is "train",
    * below "f8" "val", and the rest "test": a ~93.75 / 3.125 / 3.125
    * split (hex space is uniform under md5). No shuffle: the assignment
    * is a per-row projection.
    */
  def assignSplit(docs: DataFrame, salt: String = "split:"): DataFrame = {
    val key = md5(concat(lit(salt), col("doc_id").cast("string")))
    docs.withColumn("split", when(key < "f0", lit("train"))
      .otherwise(when(key < "f8", lit("val")).otherwise(lit("test"))))
  }

  /** Benchmark decontamination — the standard eval-set hygiene step of
    * LLM data pipelines: count, per document, the distinct word
    * n-grams it shares with a benchmark corpus (a doc with any shared
    * gram is a contamination candidate). The benchmark gram set is
    * BOUNDED (eval sets are small by construction), so it broadcasts
    * and the check is a broadcast semi-join on the exploded doc-gram
    * stream — no shuffle of the corpus at any scale. The broadcast is
    * GUARDED, not assumed: a [[Similarity.boundedCount]] probe (take()-
    * style incremental scheduling, scalars back to the driver) checks
    * the distinct gram count against `maxBroadcastGrams` first, and a
    * benchmark frame over the cap falls back to an UNHINTED semi-join
    * — AQE picks broadcast vs shuffle from runtime sizes — so a caller
    * misusing a corpus-sized frame gets a plan change instead of a
    * driver OOM. Grams come from
    * [[Dedup.ngramSet]] (distinct per doc, shift-and-zip — the
    * HOF-re-split trap engineered out), so the count is exactly
    * |distinct doc grams ∩ benchmark grams|.
    *
    * @return (doc_id, n_shared_grams) for EVERY doc (0 when clean —
    *         a decontamination filter must surface clean docs, not
    *         drop them).
    */
  def contamination(docs: DataFrame,
      benchmark: DataFrame, n: Int = 3,
      maxBroadcastGrams: Long = 10000000L): DataFrame = {
    // materialize the benchmark gram set ONCE (eager localCheckpoint)
    // before the guard probe: the probe and the semi-join then see the
    // SAME snapshot — a nondeterministic benchmark frame can no longer
    // drift across the cap between check and use — and the
    // explode+distinct shuffle runs once instead of once per consumer.
    // localCheckpoint (not persist) so the blocks are released by the
    // ContextCleaner when the plan is unreferenced; the caveat that a
    // lost executor can't recompute truncated lineage is acceptable
    // for an eval-set-sized frame, which is what the broadcast guard
    // exists to verify.
    val bset = benchmark
      .select(explode(Dedup.ngramSet(col("text"), n)).as("gram"))
      .distinct()
      .localCheckpoint(true)
    val dg = docs.select(col("doc_id"),
      explode(Dedup.ngramSet(col("text"), n)).as("gram"))
    // the probe now reads checkpointed blocks — one scalar per
    // partition, no re-execution of the gram pipeline
    val semi =
      if (Similarity.boundedCount(bset, maxBroadcastGrams) <= maxBroadcastGrams)
        dg.join(broadcast(bset), Seq("gram"), "left_semi")
      else dg.join(bset, Seq("gram"), "left_semi")
    val hits = semi
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared_grams"))
    docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"))
  }

  /** Token-level IPv4 predicate: exactly four dot-separated runs of
    * 1-3 ASCII digits, each octet <= 255. ASCII digits ONLY (not
    * Character.isDigit's Unicode classes) so the Scala kernel and the
    * DuckDB regex replica (`^\d{1,3}(\.\d{1,3}){3}$` + octet bound,
    * RE2 \d is ASCII) agree byte-for-byte.
    */
  def isIpv4(t: String): Boolean = {
    if (t == null) return false
    val p = t.split("\\.", -1)
    p.length == 4 && p.forall { s =>
      s.nonEmpty && s.length <= 3 && s.forall(c => c >= '0' && c <= '9')
    } && p.forall(_.toInt <= 255)
  }

  private val phoneRe = "\\+?[0-9][0-9-]{6,14}[0-9]".r.pattern
  // the two pervasive non-PII shapes that would otherwise match:
  // ISO dates (2026-08-17) and year ranges (1990-2026)
  private val isoDateRe = "[0-9]{4}-[0-9]{2}-[0-9]{2}".r.pattern
  private val yearRangeRe = "[0-9]{4}-[0-9]{4}".r.pattern

  /** Token-level phone-number heuristic: optional leading '+', then
    * 8-16 chars of ASCII digits/dashes starting and ending in a digit,
    * with at least 7 digits total — EXCLUDING the two pervasive
    * non-PII shapes that would otherwise be scrubbed out of web text
    * wholesale: ISO dates (`2026-08-17`) and year ranges
    * (`1990-2026`). Deliberately simple and REGEX-EXPRESSIBLE (DuckDB
    * replica: anchored RE2 matches + digit count); like any
    * token-level PII pattern it trades recall on spaced formats — and
    * precision on bare digit runs like `20260817`, which remain
    * indistinguishable from unformatted numbers — for zero cross-token
    * state.
    */
  def isPhone(t: String): Boolean =
    t != null && phoneRe.matcher(t).matches() &&
      t.count(c => c >= '0' && c <= '9') >= 7 &&
      !isoDateRe.matcher(t).matches() && !yearRangeRe.matcher(t).matches()

  /** PII scrubbing: replace email / URL / IPv4 / phone tokens with
    * placeholder tags, counting what was redacted — every web-scale
    * training-data pipeline scrubs PII before the corpus ships. Email
    * and URL are the PARITY-PINNED reference kernels
    * (`Extractor.isEmail` / `isUrl`, incl. their prefix quirks —
    * `kg_predicates` proves them equal to the DuckDB formula
    * replicas); IPv4 and phone are [[isIpv4]] / [[isPhone]], equally
    * formula-replicable. Test order: URL first (a URL containing '@'
    * must not leak as half an email), then email, then IPv4 BEFORE
    * phone (dotted quads contain '.' so they can't match the phone
    * pattern, but the fixed order keeps the kernel and any replica
    * deterministic by construction). A narrow per-partition kernel —
    * no shuffle, O(doc) state.
    *
    * @return (doc_id, text_redacted, n_emails, n_urls, n_ips, n_phones)
    */
  def redactPii(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        var nEmails = 0
        var nUrls = 0
        var nIps = 0
        var nPhones = 0
        // null-safe (column ops propagate null; a kernel must not NPE)
        // and limit -1: Java's default split DROPS trailing empty
        // tokens, which would silently eat trailing spaces and diverge
        // from SQL split semantics on both engines
        val safe = if (text == null) "" else text
        val toks = safe.split(" ", -1).map { t =>
          if (graft.extract.Extractor.isUrl(t)) { nUrls += 1; "<URL>" }
          else if (graft.extract.Extractor.isEmail(t)) { nEmails += 1; "<EMAIL>" }
          else if (isIpv4(t)) { nIps += 1; "<IP>" }
          else if (isPhone(t)) { nPhones += 1; "<PHONE>" }
          else t
        }
        (id, toks.mkString(" "), nEmails.toLong, nUrls.toLong,
          nIps.toLong, nPhones.toLong)
      })
      .toDF("doc_id", "text_redacted", "n_emails", "n_urls", "n_ips", "n_phones")
  }

  /** Gopher-style repetition signals — the published web-corpus
    * quality rules that catch boilerplate/spam which length stats
    * miss: the fraction of word occurrences that are repeats of an
    * earlier word, and the fraction of bigram occurrences taken by the
    * single most frequent bigram. Computed per document inside one
    * narrow kernel (a doc's own statistics need no shuffle at any
    * corpus size; state is O(doc vocabulary)).
    *
    * @return (doc_id, n_words, dup_word_frac, top_bigram_frac) —
    *         fractions 0.0 for docs too short to have them.
    */
  def repetition(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val ws =
          if (text == null) Array.empty[String]
          else text.split(" ").filter(_.nonEmpty)
        val n = ws.length
        val dupFrac =
          if (n == 0) 0.0
          else 1.0 - ws.distinct.length.toDouble / n
        val topBigramFrac =
          if (n < 2) 0.0
          else {
            val counts = new java.util.HashMap[String, Int]()
            var best = 0
            var i = 0
            while (i < n - 1) {
              val g = ws(i) + " " + ws(i + 1)
              val c = counts.merge(g, 1, Integer.sum)
              if (c > best) best = c
              i += 1
            }
            best.toDouble / (n - 1)
          }
        (id, n.toLong, dupFrac, topBigramFrac)
      })
      .toDF("doc_id", "n_words", "dup_word_frac", "top_bigram_frac")
  }

  /** Corpus unigram-LM quality score — the standard LM-based filter of
    * web-scale training-data pipelines: per document, the mean
    * log P(w) of its tokens under the corpus's own unigram model,
    * with the vocabulary bounded to the `topK` most frequent words
    * (ties broken by word order) and a floor probability of
    * 0.5 / total_tokens for everything outside it.
    *
    * Shapes for 100 TB:
    *  - counting is one map-side-combinable word aggregation;
    *  - top-K is `TakeOrderedAndProject` (distributed partial top-K per
    *    partition + tiny driver merge — NOT a full sort of the vocab);
    *  - the bounded vocab then broadcast-joins the exploded token
    *    stream (web vocabulary is unbounded, the broadcast is not);
    *  - the corpus total rides along as a broadcast single row.
    *
    * @return (doc_id, n_tokens, avg_logp)
    */
  def unigramLogProb(docs: DataFrame, topK: Int = 50000): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val counts = words.groupBy("word").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).cast("double").as("total"))
    val vocab = counts
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(topK)
    val scored = words
      .join(broadcast(vocab), Seq("word"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        log(when(col("cnt").isNotNull, col("cnt").cast("double"))
          .otherwise(lit(0.5)) / col("total")).as("logp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), avg(col("logp")).as("avg_logp"))
    // a zero-token document must SURFACE (n_tokens = 0, null score),
    // not vanish: the op is a quality filter, and the worst-quality
    // docs are exactly the ones that would otherwise silently bypass it
    docs.select(col("doc_id")).distinct()
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("avg_logp"))
  }

  /** [[contamination]] with a Bloom prefilter — the 100 TB shape when
    * even the exploded doc-gram stream is too wide to semi-join raw: a
    * Bloom filter over the benchmark grams (one aggregation job; MBs
    * for an eval-set-sized input at fpp 0.01) broadcasts, and the
    * corpus-side gram stream is filtered through `mightContain` BEFORE
    * any join, cutting the join input to true hits + an fpp-sized
    * trickle of false positives. Those FPs are then removed by the
    * exact confirm semi-join against the real gram set, so the result
    * is IDENTICAL to [[contamination]] (Bloom filters have no false
    * negatives) — `doc_bloom_contamination` shares doc_contamination's
    * oracle SQL verbatim.
    */
  def bloomContamination(docs: DataFrame,
      benchmark: DataFrame, n: Int = 3): DataFrame = {
    val bset = benchmark
      .select(explode(Dedup.ngramSet(col("text"), n)).as("gram"))
      .distinct()
      .localCheckpoint(true)
    // expectedNumItems from the checkpointed blocks — a cheap count,
    // no gram-pipeline re-execution
    val nGrams = math.max(bset.count(), 1L)
    // the filter is built over xxhash64(gram) longs and probed through
    // Spark's OWN BloomFilterMightContain expression (the runtime-
    // filter class AQE injects; GraftFunctions builds it as
    // bloom_might_contain) — the per-gram hot path stays inside
    // codegen; the serialized blob rides the plan as a foldable binary
    // literal exactly like an AQE-injected runtime filter
    val bf = bset.select(xxhash64(col("gram")).as("h"))
      .stat.bloomFilter("h", nGrams, 0.01)
    val blob = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val cand = docs
      .select(col("doc_id"),
        explode(Dedup.ngramSet(col("text"), n)).as("gram"))
      .filter(GraftFunctions.column("bloom_might_contain", lit(blob),
        xxhash64(col("gram"))))
    val hits = cand.join(broadcast(bset), Seq("gram"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared_grams"))
    docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"))
  }

  /** Per-domain corpus rollup (docs, chars, tokens, length extremes) of
    * the `source` column as an EXPLICIT two-stage salted aggregation:
    * stage 1 aggregates on (domain, doc_id mod 8) — a crawl's hot
    * domains (a handful of hosts owning double-digit corpus percentages
    * is the norm) fan out over 8 reducers — stage 2 merges the ≤ 8
    * partial rows per domain.
    * All measures are algebraic (sum/count/min/max of longs), so the
    * two-stage split is exact; the oracle is the plain single GROUP BY.
    *
    * (Spark's own partial aggregation gives map-side combining already;
    * the salt guards the REDUCE side, where one domain otherwise lands
    * on one reducer regardless of combiners — the same pattern the
    * canonicalization alias-merge uses.)
    */
  def domainStats(docs: DataFrame): DataFrame = {
    val nTok = size(split(col("text"), " ")).cast("long")
    val len = length(col("text")).cast("long")
    val partial = docs
      .withColumn("__salt", pmod(col("doc_id").cast("long"), lit(8)))
      .groupBy(col("source").as("domain"), col("__salt"))
      .agg(count(lit(1)).as("n"), sum(len).as("chars"),
        sum(nTok).as("toks"), min(len).as("mn"), max(len).as("mx"))
    partial.groupBy("domain")
      .agg(sum(col("n")).as("n_docs"),
        sum(col("chars")).as("n_chars"),
        sum(col("toks")).as("n_tokens"),
        min(col("mn")).as("min_len"),
        max(col("mx")).as("max_len"))
  }

  /** Deterministic stratified sampling: per-stratum keep rates applied
    * via the same md5-hex-threshold device as [[assignSplit]] — pure
    * per-row predicate, no shuffle, reproducible across runs/cluster
    * sizes, and exactly replicable in SQL. Rates are expressed as
    * 2-hex-digit thresholds (granularity 1/256): a row survives iff
    * md5("strat:" || doc_id) < threshold(stratum). Strata missing from `rates`
    * fall back to `defaultThreshold`.
    */
  def stratifiedSample(docs: DataFrame, strataCol: String,
      rates: Seq[(String, String)], defaultThreshold: String): DataFrame = {
    // thresholds compare LEXICOGRAPHICALLY against 32-char lowercase
    // md5 hex — an uppercase "C0" (sorts between '9' and 'a') or a
    // 1/3-digit string would silently produce a very different keep
    // rate than the documented 1/256 granularity, so malformed
    // thresholds fail fast here
    (rates.map(_._2) :+ defaultThreshold).foreach { t =>
      require(t.matches("^[0-9a-f]{2}$"),
        s"stratifiedSample threshold '$t' must be exactly 2 lowercase " +
          "hex digits (granularity 1/256)")
    }
    val key = md5(concat(lit("strat:"), col("doc_id").cast("string")))
    val thr = rates.foldRight(lit(defaultThreshold): Column) {
      case ((stratum, t), rest) =>
        when(col(strataCol) === stratum, lit(t)).otherwise(rest)
    }
    docs.filter(key < thr)
  }
}
