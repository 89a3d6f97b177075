package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Full-pipeline plumbing: the pages source is consumed exactly ONCE
  * (lineage input_rows comes from an accumulator inside the extract job,
  * not a second pages.count() pass — at 100 TB an extra generation/scan
  * pass per run is a full corpus read).
  */
class MainPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("pages are generated in one pass; lineage still records input_rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_main_once").toString
    val nDocs = 60L
    val consumed = spark.sparkContext.longAccumulator("pages_consumed")
    val base = graft.corpus.SyntheticCorpus.pages(spark, nDocs, numPartitions = 4)
    val instrumented = base.mapPartitions(_.map { p => consumed.add(1); p })

    val edges = Main.runPages(spark, instrumented, None,
      Some(graft.corpus.SyntheticCorpus.targetNamesFn()), dir,
      tagger = "gold", stMinCount = 2L)
    assert(edges.count() > 0)

    // one pass: every page consumed exactly once across the whole
    // pipeline (the old code counted pages a second time for lineage)
    assert(consumed.value == nDocs,
      s"pages consumed ${consumed.value} times, expected $nDocs (one pass)")

    // lineage still records the true input size for the extract stage
    val lin = new Stages(spark, dir).lineage()
    val sentIn = lin.filter(col("stage") === "sentences")
      .select(max(col("input_rows"))).head().getLong(0)
    assert(sentIn == nDocs, s"lineage input_rows $sentIn != $nDocs")

    graft.TestSpark.deleteRec(new java.io.File(dir))
  }

  test("oversized-page skips are counted in the sentences lineage row") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_main_skip").toString
    def page(i: Int, html: String) = graft.spark.Page(
      s"doc://skip/$i", new java.sql.Timestamp(0L),
      html.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      "", "en")
    val big = "<html><body><p>" + ("x" * (9 * 1024 * 1024)) + "</p></body></html>"
    val ok = "<html><body><div class=\"doc\"><p>faculty zzjohn zzdoe here</p></div></body></html>"
    val pages = spark.createDataset(
      (0 until 5).map(i => page(i, ok)) :+ page(99, big))
    val skipAcc = spark.sparkContext.longAccumulator("skip_test")
    val edges = Main.runPages(spark, pages, None,
      Some((_: String) => Seq("zzjohn zzdoe")), dir, tagger = "gold",
      skipped = Some(skipAcc))
    assert(edges.count() > 0)
    val lin = new Stages(spark, dir).lineage()
    val skipped = lin.filter(col("stage") === "sentences")
      .select(max(col("skipped_rows"))).head().getLong(0)
    assert(skipped == 1L, s"lineage skipped_rows $skipped != 1")
    assert(skipAcc.value == 1L)

    graft.TestSpark.deleteRec(new java.io.File(dir))
  }

  test("WARC files drive the full pipeline: crawl format -> edges") {
    import org.apache.spark.sql.functions.col
    // synthesize a 6-page WARC file with planted target names
    def rec(id: Int): Array[Byte] = {
      val html = "<html><body><div class=\"doc\"><p>faculty page " + id +
        " zzjohn zzdoe office</p></div></body></html>"
      val payload = ("HTTP/1.1 200 OK\r\n\r\n" + html).getBytes("UTF-8")
      ("WARC/1.0\r\nWARC-Type: response\r\n" +
        "WARC-Target-URI: https://w.edu/p" + id + "\r\n" +
        "WARC-Date: 2024-05-01T00:00:00Z\r\n" +
        "Content-Length: " + payload.length + "\r\n\r\n").getBytes("UTF-8") ++
        payload ++ "\r\n\r\n".getBytes("UTF-8")
    }
    val wdir = java.nio.file.Files.createTempDirectory("warc_kg")
    java.nio.file.Files.write(wdir.resolve("crawl-0.warc"),
      (0 until 6).map(rec).reduce(_ ++ _))
    val out = java.nio.file.Files.createTempDirectory("warc_kg_out").toString

    val pages = graft.io.Warc.pages(spark, wdir.toString + "/*")
    val edges = Main.runPages(spark, pages, None,
      Some((_: String) => Seq("zzjohn zzdoe")), out, tagger = "gold")
    val mentions = edges.filter(col("pred") === "mentionsPerson").collect()
    assert(mentions.length == 6, s"one mention edge per crawled page")
    assert(mentions.forall(_.getAs[String]("obj") == "zzjohn zzdoe"))
    assert(mentions.map(_.getAs[String]("url")).distinct.length == 6)

    graft.TestSpark.deleteRec(wdir.toFile)
    graft.TestSpark.deleteRec(new java.io.File(out))
  }

  test("bilstm:<weights> tagger drives the full pipeline end-to-end") {
    import spark.implicits._
    import graft.tag.{BiLstm, BiLstmCrfScorer, BiLstmWeightsIO}
    // saturating 3-tag scorer: planted tokens -> I-PER, all else -> O
    val cell = BiLstm.CellWeights(
      kernel = Array(Array(5.0f, 5.0f, 5.0f, 5.0f),
        Array(0.1f, 0.1f, 0.1f, 0.1f)),
      bias = Array(0f, 0f, 0f, 0f))
    val scorer = BiLstmCrfScorer(
      vocab = Map("zzjohn" -> 0, "zzdoe" -> 0),
      wordEmb = Array(Array(1.0f), Array(0.0f)),
      charCnn = None, fw = cell, bw = cell,
      dense = Array(Array(0f, 0f, 10f), Array(0f, 0f, 10f)),
      denseBias = Array(0f, -100f, -7.6f), // O, B-PER (never), I-PER
      transition = Array.fill(3, 3)(0.0))
    val wdir = java.nio.file.Files.createTempDirectory("blw_main").toString
    BiLstmWeightsIO.save(spark, scorer, wdir)

    val pages = spark.createDataset((0 until 8).map { i =>
      val text = s"faculty page number $i zzjohn zzdoe office hours listed"
      graft.spark.Page(s"doc://bl/$i", new java.sql.Timestamp(0L),
        ("<html><body><div class=\"doc\"><p>" + text + "</p></div></body></html>")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8), text, "en")
    })
    val dir = java.nio.file.Files.createTempDirectory("graft_main_bl").toString
    val edges = Main.runPages(spark, pages, None, None, dir,
      tagger = s"bilstm:$wdir", stMinCount = 2L)
    val mentionEdges = edges
      .filter(org.apache.spark.sql.functions.col("pred") === "mentionsPerson")
      .collect()
    assert(mentionEdges.length == 8, s"one mention edge per page: ${mentionEdges.length}")
    assert(mentionEdges.forall(_.getAs[String]("obj") == "zzjohn zzdoe"),
      "the decoded span must be the planted name")

    // the entity_rank stage materializes PageRank over the page→entity
    // graph: every page url and the one canonical entity get a rank,
    // and the entity (in-degree 8) outranks every page node
    val ranks = spark.read.parquet(s"$dir/entity_rank")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val entityRank = ranks.filterKeys(!_.startsWith("doc://"))
    assert(entityRank.size == 1, s"one canonical entity: ${ranks.keySet}")
    assert(entityRank.values.head > ranks("doc://bl/0"),
      "the mentioned entity must outrank its citing pages")

    graft.TestSpark.deleteRec(new java.io.File(dir))
    graft.TestSpark.deleteRec(new java.io.File(wdir))
  }

  test("hmm:<conllDir> tagger trains from the given CoNLL dir and drives the pipeline") {
    import spark.implicits._
    // a few labeled sentences in the 15-column format (tkn tag f0..f12),
    // with the feature values the extractor gives the pages below
    def line(tkn: String, tag: String): String =
      s"$tkn $tag $tkn 0 0 0 0 0 0 0 0 0 0 div.body doc"
    val sentence = Seq("faculty" -> "O", "page" -> "O", "zzjohn" -> "B-PER",
      "zzdoe" -> "I-PER", "office" -> "O")
    val conll = java.nio.file.Files.createTempDirectory("hmm_conll")
    java.nio.file.Files.write(conll.resolve("train.conll"),
      Seq.fill(4)(sentence.map { case (t, y) => line(t, y) }.mkString("\n"))
        .mkString("", "\n\n", "\n").getBytes("UTF-8"))

    val pages = spark.createDataset((0 until 6).map { i =>
      val html = "<html><body><div class=\"doc\"><p>faculty page " + i +
        " zzjohn zzdoe office</p></div></body></html>"
      graft.spark.Page(s"doc://hmm/$i", new java.sql.Timestamp(0L),
        html.getBytes(java.nio.charset.StandardCharsets.UTF_8), "", "en")
    })
    val dir = java.nio.file.Files.createTempDirectory("graft_main_hmm").toString
    val edges = Main.runPages(spark, pages, None,
      Some((_: String) => Seq("zzjohn zzdoe")), dir,
      tagger = s"hmm:$conll", stMinCount = 1L)
    val mentionEdges = edges.filter(col("pred") === "mentionsPerson").collect()
    assert(mentionEdges.map(_.getAs[String]("obj")).toSet == Set("zzjohn zzdoe"),
      s"decoded mentions: ${mentionEdges.mkString(", ")}")
    assert(mentionEdges.length == 6, "one mention edge per page")

    val lin = new Stages(spark, dir).lineage()
    assert(lin.filter(col("stage") === "tagged").count() > 0,
      "the tagged stage must record lineage rows")
    assert(new java.io.File(s"$dir/edges/_SUCCESS").exists(),
      "the edges stage must materialize")

    // the bare form names the one it needs
    val err = intercept[IllegalArgumentException] {
      Main.runPages(spark, pages, None, None, dir, tagger = "hmm")
    }
    assert(err.getMessage.contains("hmm:<conllDir>"))

    graft.TestSpark.deleteRec(new java.io.File(dir))
    graft.TestSpark.deleteRec(conll.toFile)
  }
}
