package graft.registry

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables.table
import Fixtures.{plantedPages, plantedSentences}

/** Extraction and tagging registry queries: the DOM kernel's token
  * features, predicates, segmentation and gazetteer flags, gold
  * mentions, triples and pattern relations over planted tokens, span
  * metrics, the Bi-LSTM-CRF and attention decoders, and the WARC
  * source (`graft.spark.ExtractStage`, `graft.kg`, `graft.tag`,
  * `graft.io.Warc`).
  */
object ExtractQueries {

  /** The documents' `(doc_id, text)` rows over the spread scan, for the
    * per-document kernels below.
    */
  private def spreadDocs(s: SparkSession, dir: String): Dataset[(Long, String)] = {
    import s.implicits._
    graft.spark.Scans.spread(table(s, dir, "documents")
      .select(col("doc_id"), col("text")), col("doc_id"))
      .as[(Long, String)]
  }

  /** The `div.body` tokens of `sents` as `(doc_id, tok_id, tkn)` and
    * `features`, in token order.
    */
  private def bodyTokens(s: SparkSession, sents: Dataset[graft.spark.SentenceRow],
      features: Column*): DataFrame =
    graft.spark.ExtractStage.tokens(s, sents).toDF()
      .filter(col("html_ctx") === "div.body")
      .select(Seq(
        expr("CAST(substring_index(url, '/', -1) AS BIGINT)").as("doc_id"),
        col("tok_id").cast("long").as("tok_id"),
        col("tkn")) ++ features: _*)
      .orderBy("doc_id", "tok_id")

  /** `text`'s tokens with "zzalice" planted at every position
    * `i % 13 == 7`, the decoders' entity plant.
    */
  private def aliceTokens(text: String): Seq[String] =
    text.split(" ").toSeq.zipWithIndex
      .map { case (w, i) => if (i % 13 == 7) "zzalice" else w }

  /** Per document, the number of [[aliceTokens]] plants: the tags a
    * decoder must emit.
    */
  private def aliceTagsOracle: String =
    """SELECT doc_id,
      |  CAST(CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= 8
      |       THEN (LEN(STRING_SPLIT(text, ' ')) - 8) // 13 + 1
      |       ELSE 0 END AS BIGINT) AS n_entity_tags
      |FROM documents ORDER BY doc_id""".stripMargin

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

  val queries: Seq[Query] = Seq(
    // Flagship KG path (S1+P1-P12+J3+triples), FULL rows oracled:
    // planted 2-token + 1-token target names at fixed positions -> DOM
    // extraction -> IOB labeling -> goldMentions -> deduplicated
    // triples. Every column of every (subj, pred, obj, url) row is
    // position-derivable in DuckDB; the reference-corpus variant of the
    // same path is `SparkEntry.entry` + PipelineSpec's P/R gate.
    // Corpus assumptions as documented at kg_relations_counts.
    Query("kg_triples", (s, dir) => {
      val sents = plantedSentences(s, dir, 31,
        Seq(5 -> "zzjohn", 6 -> "zzdoe", 20 -> "zzann"),
        Seq("zzjohn zzdoe", "zzann"))
      val mentions = graft.kg.Triples.goldMentions(s, sents)
      graft.kg.Triples.fromMentions(s, mentions).toDF()
        .select("subj", "pred", "obj", "url")
        .orderBy("url", "obj")
    }, """WITH d AS (
        |  SELECT doc_id, source, LEN(STRING_SPLIT(text, ' ')) AS n
        |  FROM documents)
        |SELECT 'doc://' || source || '/' || doc_id AS subj,
        |  'mentionsPerson' AS pred, name AS obj,
        |  'doc://' || source || '/' || doc_id AS url
        |FROM (
        |  SELECT doc_id, source, 'zzjohn zzdoe' AS name FROM d WHERE n >= 7
        |  UNION ALL
        |  SELECT doc_id, source, 'zzann' AS name FROM d WHERE n >= 21)
        |ORDER BY url, obj""".stripMargin),

    // Surface-pattern relation extraction (hasTitle/hasEmail), FULL
    // rows oracled: same planting as kg_relations_counts, but the
    // oracle reproduces every (subj, pred, obj, url) row WITH its
    // multiplicity (goldRelations emits one row per pattern occurrence;
    // occurrences of the same planted pattern in one doc yield
    // identical rows).
    Query("kg_relations", (s, dir) => {
      val sents = plantedSentences(s, dir, 37,
        Seq(10 -> "dr.zz", 11 -> "zzjohn", 12 -> "zzdoe", 20 -> "zz@zz.aa"),
        Seq("zzjohn zzdoe"))
      graft.kg.Relations.goldRelations(s, sents).toDF()
        .select("subj", "pred", "obj", "url")
        .orderBy("url", "pred", "obj")
    }, """WITH d AS (
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
        |ORDER BY url, pred, obj""".stripMargin),

    // P4-P11 oracled END-TO-END through the real DOM kernel: documents
    // tokens are deterministically varied (initcap / punct / title /
    // email / digit / accent shapes), wrapped in the SynthPages skeleton,
    // run through parse+tokenize+features, and every per-token feature
    // column must equal DuckDB's SQL re-derivation of the reference
    // semantics (util/html_segmenter.py:10-99).
    Query("kg_token_features", (s, dir) => {
      val varied = table(s, dir, "documents").select(
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
      bodyTokens(s, sents,
        col("unaccented"),
        col("email").cast("int").as("email"),
        col("number").cast("int").as("number"),
        col("title").cast("int").as("title"),
        col("url_f").cast("int").as("url_flag"),
        col("capitalized").cast("int").as("capitalized"),
        col("punct").cast("int").as("punct"),
        col("css_class"))
    }, s"""WITH toks AS (
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
        |FROM v ORDER BY doc_id, tok_id""".stripMargin),

    // P6/P7/P10/P4 predicate quirks at function level (the tokenizer
    // splits ':' so no URL survives it — the url/email/title prefix
    // quirks need direct strings): crafted variants over the distinct
    // vocabulary, kernel predicates vs DuckDB formula replicas.
    Query("kg_predicates", (s, dir) => {
      import s.implicits._
      table(s, dir, "documents")
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
    }, s"""WITH tk AS (
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
        |FROM c ORDER BY s""".stripMargin),

    // W1/W2 oracled: two classed <div> blocks (W1 block segmentation,
    // never structEq) with every 10th token '.'-suffixed and the next
    // initcap'd (W2 50-token re-split points); per-doc sentence count
    // must equal the closed-form DuckDB formula.
    Query("kg_segmentation", (s, dir) => {
      import s.implicits._
      val d = table(s, dir, "documents").select(col("doc_id"),
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
    }, """SELECT doc_id,
        |  (CASE WHEN m1 = 0 THEN 0 WHEN m1 < 50 THEN 1
        |        ELSE 1 + (m1 - 1) // 10 END
        |   + CASE WHEN m2 <= 0 THEN 0 WHEN m2 < 50 THEN 1
        |          ELSE 1 + ((n - 1) // 10 - 8) END) AS n_sentences
        |FROM (SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n,
        |        LEAST(LEN(STRING_SPLIT(text, ' ')), 80) AS m1,
        |        LEN(STRING_SPLIT(text, ' ')) - 80 AS m2
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // J1/J2 oracled: planted dictionary tokens -> exact-window flag,
    // partial flag, and the round(log(count)) name/word gazetteer
    // weights (banker's rounding avoided by count choice) re-derived in
    // SQL per token.
    Query("kg_gazetteer", (s, dir) => {
      val pages = plantedPages(s, dir, 23, Seq(3 -> "zzalpha", 4 -> "zzbeta"))
      val gaz = s.sparkContext.broadcast(graft.extract.Gazetteers(
        exact = Map("zzalpha zzbeta" -> 1),
        partial = Map("zzalpha" -> 2, "zzbeta" -> 7),
        word = Map("zzbeta" -> 7)))
      val sents = graft.spark.ExtractStage.sentences(s, pages, gaz = Some(gaz),
        annotateGazetteer = true)
      bodyTokens(s, sents,
        col("exact").cast("int").as("exact"),
        col("partial").cast("int").as("partial"),
        col("name_log").cast("int").as("name_log"),
        col("word_log").cast("int").as("word_log"))
    }, """WITH toks AS (
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
        |FROM v ORDER BY doc_id, tok_id""".stripMargin),

    // A6 oracled: span P/R/F1 through the real SpanMetrics Aggregator
    // over planted single-token spans (gold at i%7==2, pred at i%5==2);
    // the whole Result row is integer-derived, so DuckDB reproduces the
    // doubles bit-exactly.
    Query("kg_span_metrics", (s, dir) => {
      import s.implicits._
      val pairs = table(s, dir, "documents")
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
    }, """WITH per AS (
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
        |FROM tot""".stripMargin),

    // J3 + mention projection oracled: planted 2-token target name ->
    // IOB labeling -> goldMentions spans; per-doc mention count equals
    // the closed-form position formula.
    Query("kg_mention_counts", (s, dir) => {
      val sents = plantedSentences(s, dir, 31, Seq(5 -> "zzjohn", 6 -> "zzdoe"),
        Seq("zzjohn zzdoe"))
      graft.kg.Triples.goldMentions(s, sents).toDF()
        .select(expr("CAST(substring_index(url, '/', -1) AS BIGINT)").as("doc_id"),
          col("name"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_mentions"),
          countDistinct(col("name")).as("n_names"))
        .orderBy("doc_id")
    }, """SELECT doc_id,
        |  CAST((LEN(STRING_SPLIT(text, ' ')) - 7) // 31 + 1 AS BIGINT) AS n_mentions,
        |  CAST(1 AS BIGINT) AS n_names
        |FROM documents
        |WHERE LEN(STRING_SPLIT(text, ' ')) >= 7
        |ORDER BY doc_id""".stripMargin),

    // Pattern-relation extraction oracled: planted title token +
    // 2-token name + email token at fixed positions -> hasTitle fires
    // once per complete adjacent (title, span) pair and hasEmail once
    // per email token when a span exists; both counts equal
    // closed-form position formulas.
    // Corpus assumptions the closed form relies on (true of the
    // driver-generated documents tables, all-lowercase punctuation-free
    // word streams; shared by every planted-token query here): the
    // unplanted text contributes no sentence-split points ('.'-final
    // token followed by an uppercase-initial one), no natural email/
    // honorific tokens, and no 'zz*' words — so every doc stays ONE
    // sentence and only the planted anchors fire.
    Query("kg_relations_counts", (s, dir) => {
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
    }, """SELECT doc_id,
        |  CAST((n - 13) // 37 + 1 AS BIGINT) AS n_title,
        |  CAST(CASE WHEN n >= 21 THEN (n - 21) // 37 + 1 ELSE 0 END
        |       AS BIGINT) AS n_email
        |FROM (SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n
        |      FROM documents)
        |WHERE n >= 13 ORDER BY doc_id""".stripMargin),

    // W11 oracled: the Bi-LSTM-CRF forward pass (TF LSTMCell semantics,
    // recurrent state NOT disabled) with fixed saturating weights — the
    // planted 'zzalice' token drives the gates to saturation (h~0.76 ->
    // logit +7.6) while every other token stays OOV (h<=0.35 near a
    // plant -> logit <=-3.4), so the decoded tag sequence is exactly
    // the position formula, margins ~1e7 x float noise.
    Query("kg_bilstm_decode", (s, dir) => {
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
      val sents = spreadDocs(s, dir)
        .map { case (id, text) =>
          val tkns = aliceTokens(text)
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
    }, aliceTagsOracle),

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
    Query("kg_attention_decode", (s, dir) => {
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
      spreadDocs(s, dir)
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
            val tkns = aliceTokens(text)
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
    },
      // Same planted-position closed form as kg_bilstm_decode: the
      // attention stack fires > 5 exactly on the i % 13 == 7 plants.
      aliceTagsOracle),

    // S1 WARC source oracled end-to-end: documents -> WARC response
    // records (HTTP head + Content-Length framing) -> Warc record
    // parser -> pages -> the full DOM extraction kernel; per-doc token
    // count and rebuilt text must equal DuckDB's whitespace split.
    Query("warc_roundtrip", (s, dir) => {
      import s.implicits._
      val pages = spreadDocs(s, dir)
        .mapPartitions(_.flatMap { case (id, text) =>
          val html = "<html><body><div class=\"doc\"><p>" + text +
            "</p></div></body></html>"
          val payload = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
            html).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val rec = graft.io.Warc.record("response", "doc://warc/" + id,
            "2024-01-01T00:00:00Z", payload)
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
    }, """SELECT doc_id,
        |CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
        |text AS text_rebuilt
        |FROM documents ORDER BY doc_id""".stripMargin)
  )
}
