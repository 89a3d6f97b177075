package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.RefCorpus
import graft.spark.{ExtractStage, Page, Sessions}
import graft.tag.Hmm

/** spark-submit entry for the full KG-construction pipeline (north rule):
  *
  *   pages -> extract -> mentions -> triples -> link (MinHash LSH)
  *         -> canonicalize (CC) -> materialize nodes/edges (+ lineage)
  *
  * Every stage is checkpoint-resumable (see [[Stages]]). Usage:
  *
  *   spark-submit [--master <url>] --class graft.kg.Main <jar>
  *     <pagesParquet|ref> <outDir> [gold|hmm:<conllDir>|bilstm:<weightsDir>]
  *
  * `ref` loads the reference corpus fixture; `gold` tags mentions from
  * carried labels (dataset-construction path), `hmm:<dir>` fits an HMM
  * on the labeled 15-column CoNLL files in `<dir>`, self-trains on the
  * corpus and decodes, `bilstm:<dir>` decodes with imported
  * Bi-LSTM-CRF weights (BiLstmWeightsIO parquet layout). The run ends
  * with one JSON line: the edge count and, per stage, its output, input
  * and skipped rows and wall ms from the lineage table.
  */
object Main {

  def run(spark: SparkSession, pagesSrc: String, outDir: String,
      tagger: String = "gold"): DataFrame = {
    import spark.implicits._

    // pagesSrc: "ref" (reference corpus), "synth:N" (seeded synthetic
    // corpus of N pages), "warc:<glob>" (Common-Crawl WARC files), or a
    // parquet path. One skip accumulator covers BOTH oversized WARC
    // records and oversized/unparseable pages in the extract kernel —
    // surfaced in the sentences stage's lineage rows, not just
    // executor logs.
    val skipped = spark.sparkContext.longAccumulator("skipped_inputs")
    val pages =
      if (pagesSrc == "ref") RefCorpus.pages(spark)
      else if (pagesSrc.startsWith("synth:"))
        graft.corpus.SyntheticCorpus.pages(spark,
          pagesSrc.stripPrefix("synth:").toLong)
      else if (pagesSrc.startsWith("warc:"))
        graft.io.Warc.pages(spark, pagesSrc.stripPrefix("warc:"),
          skipped = Some(skipped))
      else spark.read.parquet(pagesSrc).as[Page]

    val names =
      if (pagesSrc == "ref")
        Some(spark.sparkContext.broadcast(RefCorpus.targetNameMap()))
      else None

    val namesFn =
      if (pagesSrc.startsWith("synth:"))
        Some(graft.corpus.SyntheticCorpus.targetNamesFn())
      else None

    // web-scale sources bound the self-train vocab collect (css-class
    // cardinality grows with the corpus); the reference corpus keeps
    // minCount=1 for exact parity with the published protocol
    val stMinCount = if (pagesSrc == "ref") 1L else 2L
    runPages(spark, pages, names, namesFn, outDir, tagger, stMinCount,
      skipped = Some(skipped))
  }

  /** Pipeline over a prepared pages Dataset (also the test seam: the
    * pages source is consumed exactly once — by the sentences stage —
    * which an instrumented Dataset can assert).
    */
  def runPages(spark: SparkSession, pages: org.apache.spark.sql.Dataset[Page],
      names: Option[org.apache.spark.broadcast.Broadcast[Map[String, Seq[String]]]],
      namesFn: Option[String => Seq[String]], outDir: String,
      tagger: String, stMinCount: Long = 1L,
      skipped: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    import spark.implicits._
    require(tagger != "hmm",
      "the hmm tagger trains on labeled CoNLL files: pass hmm:<conllDir>")
    val stages = new Stages(spark, outDir)

    // input_rows for lineage comes from an accumulator filled DURING
    // the extract job (Stages.stage evaluates the by-name inputRows
    // after materialization), not from a pages.count() — which for a
    // synth:/generated source would regenerate the whole corpus once
    // just to record a lineage field. Accumulator caveat: Spark only
    // guarantees exactly-once accumulator updates in actions, so task
    // retries/speculation can inflate this value — acceptable for a
    // lineage context field (it is an upper bound on a flaky run,
    // exact otherwise), not for correctness decisions.
    val inputPages = spark.sparkContext.longAccumulator("input_pages")
    val skipAcc = skipped.getOrElse(
      spark.sparkContext.longAccumulator("skipped_inputs"))
    val sents = stages.stage("sentences", inputPages.value, skipAcc.value) {
      ExtractStage.sentences(spark, pages, names, targetNamesFn = namesFn,
        skipped = Some(skipAcc), inputPages = Some(inputPages)).toDF()
    }

    // Stage input_rows from here on derive from the PREVIOUS stage's
    // lineage output_rows total (Stages.outputRowsOf — free in-run,
    // one tiny lineage read on resume) instead of a fresh count() over
    // the previous stage's materialized parquet, which cost ~7
    // redundant full-table scan jobs per pipeline run.

    // hmm mode: ONE checkpointed Viterbi pass whose decoded tags feed
    // both the mention and the relation projections (decoding twice
    // would double the dominant inference cost); gold mode uses the
    // carried labels directly
    val (tagged, tagConfidence, taggedStage) = tagger match {
      // "hmm:<conllDir>" — fit on the labeled CoNLL files in conllDir,
      // self-train on the corpus, decode; all inside the stage block, so
      // a checkpoint-resumed run never reads the training data
      case h if h.startsWith("hmm:") =>
        val t = stages.stage("tagged", stages.outputRowsOf("sentences")) {
          val train = graft.io.ConllCodec.read(spark, h.stripPrefix("hmm:"))
          val m0 = Hmm.fit(spark, train, timeSteps = 1, useFeatures = true)
          val model = Hmm.selfTrain(spark, m0,
            sents.as[graft.spark.SentenceRow], minCount = stMinCount)
          Triples.taggedSentences(spark,
            Hmm.predict(spark, model, sents.as[graft.spark.SentenceRow])).toDF()
        }
        (t, 0.9, "tagged")
      // "bilstm:<weightsDir>" — imported Bi-LSTM-CRF weights
      // (graft.tag.BiLstmWeightsIO layout), same ONE-decode-pass shape
      // as the HMM path. The load stays INSIDE the stage block so a
      // checkpoint-resumed run never collects the tensors to the
      // driver; whether the weights were trained with the 7 numeric
      // features is derived from the kernel width.
      case b if b.startsWith("bilstm:") =>
        val t = stages.stage("tagged", stages.outputRowsOf("sentences")) {
          val scorer = graft.tag.BiLstmWeightsIO.load(spark,
            b.stripPrefix("bilstm:"))
          Triples.taggedSentences(spark,
            graft.tag.BiLstmCrf.predict(spark, scorer,
              sents.as[graft.spark.SentenceRow],
              useFeatures = graft.tag.BiLstmCrf.expectsFeatures(scorer))).toDF()
        }
        (t, 0.9, "tagged")
      case _ => (sents, 1.0, "sentences")
    }

    val mentions = stages.stage("mentions", stages.outputRowsOf(taggedStage)) {
      Triples.goldMentions(spark, tagged.as[graft.spark.SentenceRow],
        tagConfidence).toDF()
    }

    val triples = stages.stage("triples", stages.outputRowsOf("mentions")) {
      Triples.fromMentions(spark,
        mentions.as[graft.spark.Mention]).toDF()
    }

    // surface-pattern relation candidates (hasTitle/hasEmail) — same
    // narrow flatMap shape as mention projection, over the same tagged
    // sentences; canonicalized on the subject side in the edges stage
    val relations = stages.stage("relations", stages.outputRowsOf(taggedStage)) {
      Relations.goldRelations(spark, tagged.as[graft.spark.SentenceRow],
        tagConfidence).toDF()
    }

    val links = stages.stage("links", stages.outputRowsOf("triples")) {
      val vocab = Linker.nameVocab(triples.as[graft.spark.Triple])
      // names with one normal form share their 3-gram set, so the
      // MinHash join returns every exact-normal-form pair (dist 0.0)
      // along with the fuzzy ones; its output is distinct
      Linker.candidatePairs(vocab)
    }

    val nodes = stages.stage("nodes", stages.outputRowsOf("links")) {
      val vocab = Linker.nameVocab(triples.as[graft.spark.Triple])
      val membership = Canonicalize.components(links)
      Canonicalize.entities(vocab, membership)
    }

    val edges = stages.stage("edges", stages.outputRowsOf("nodes")) {
      Canonicalize.canonicalEdges(triples.as[graft.spark.Triple], nodes)
        .unionByName(Canonicalize.canonicalSubjectEdges(
          relations.as[graft.spark.Triple], nodes))
    }

    // entity salience: PageRank over the canonicalized page→entity
    // graph — the first consumer query of the materialized KG, run as
    // a pipeline stage so every output ships a rank table. Resumable
    // like every stage; bit-reproducible across cluster sizes (the
    // decimal-sum contract in GraphOps.pagerank), so an N- and a
    // 4N-executor run emit identical ranks. The same function is
    // hash-oracled as `kg_entity_pagerank`.
    stages.stage("entity_rank", stages.outputRowsOf("edges")) {
      GraphOps.entityRank(edges)
    }

    edges
  }

  def main(args: Array[String]): Unit = {
    val pagesSrc = if (args.length > 0) args(0) else "ref"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_kg"
    val tagger = if (args.length > 2) args(2) else "gold"
    val spark = Sessions.session("graft-kg")
    val edges = run(spark, pagesSrc, outDir, tagger)
    val n = edges.count()
    // input_rows, skipped_rows and wall_ms are per-stage values repeated
    // on each of the stage's partition rows; output_rows is per partition
    val perStage = new Stages(spark, outDir).lineage().groupBy("stage")
      .agg(sum("output_rows").as("output_rows"),
        max("input_rows").as("input_rows"),
        max("skipped_rows").as("skipped_rows"), max("wall_ms").as("wall_ms"))
      .orderBy("stage").toJSON.collect()
    println(s"""{"edges":$n,"stages":[${perStage.mkString(",")}],"out":"$outDir"}""")
    spark.stop()
  }
}
