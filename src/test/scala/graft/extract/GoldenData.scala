package graft.extract

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import graft.corpus.RefCorpus.RefData

/** Golden-file access for the reference corpus. */
object GoldenData {
  final case class GoldenDoc(id: Int, url: String, lines: Vector[String])

  /** Parse data/valid or data/test into per-document line blocks
    * (sentences separated by "", like the file).
    */
  def parseSplit(path: String): Vector[GoldenDoc] = {
    val content = new String(Files.readAllBytes(Paths.get(path)),
      StandardCharsets.UTF_8)
    graft.io.ConllCodec.parseDocs(content).map { case (id, url, sents) =>
      val lines = sents.iterator.zipWithIndex.flatMap { case (sent, i) =>
        val ls = sent.iterator.map(_.mkString(" "))
        if (i < sents.length - 1) ls ++ Iterator("") else ls
      }.toVector
      GoldenDoc(id, url, lines)
    }
  }

  def readHtml(id: Int): String = {
    val p = Paths.get(f"$RefData/html/$id%03d.html")
    Py.universalNewlines(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
  }

  /** Target names, tokenized exactly like the reference CLI main
    * (`util/html_segmenter.py:322-328`).
    */
  def readTargetNames(id: Int): Vector[String] = {
    val p = Paths.get(f"$RefData/target_names/target_names_$id%03d.txt")
    if (!Files.exists(p)) return Vector.empty
    val content = Py.universalNewlines(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    // python: for name in f -> lines keep structure; strip, tokenize, join
    content.split("\n", -1).dropRight(if (content.endsWith("\n")) 1 else 0)
      .toVector
      .map(Extractor.normalizeTargetName)
  }

  /** Run our extractor on one reference doc, CoNLL lines (with "" between
    * sentences).
    */
  def extractLines(id: Int): Vector[String] = {
    val html = readHtml(id)
    val names = readTargetNames(id)
    toLines(Extractor.tokenize(html, names))
  }

  /** Serialize extractor output to CoNLL lines with "" separators. */
  def toLines(sentences: Seq[Seq[HtmlToken]]): Vector[String] = {
    val out = Vector.newBuilder[String]
    var si = 0
    sentences.foreach { s =>
      s.foreach { t =>
        out += (t.tkn + " " + t.bio + " " + t.features.mkString(" "))
      }
      si += 1
      if (si < sentences.length) out += ""
    }
    out.result()
  }

  /** The RNE Dataset.ipynb cell-2 output: golden extractor run for doc
    * 001 (with the real DBLP gazetteer; cols 3-6 substituted as usual).
    */
  def cell2Golden(): Vector[String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val raw = new String(
      Files.readAllBytes(Paths.get(RefData).resolveSibling("RNE Dataset.ipynb")),
      StandardCharsets.UTF_8)
    val cells = (JsonMethods.parse(raw) \ "cells").asInstanceOf[JArray].arr
    val outputs = (cells(2) \ "outputs").asInstanceOf[JArray].arr
    val text = outputs.map { o =>
      (o \ "text") match {
        case JArray(xs) => xs.collect { case JString(x) => x }.mkString
        case JString(x) => x
        case _ => ""
      }
    }.mkString
    val lines = text.split("\n", -1).toVector
    if (lines.nonEmpty && lines.last.isEmpty) lines.dropRight(1) else lines
  }

  /** Gazetteer columns (exact, partial, name_log, word_log) are cols 3-6;
    * they depend on the missing DBLP blob, so copy them from the golden
    * line before comparing.
    */
  def normalizeGaz(mine: String, golden: String): String = {
    val m = mine.split(" ", -1)
    val g = golden.split(" ", -1)
    if (m.length == g.length && m.length >= 7) {
      var i = 3
      while (i <= 6) { m(i) = g(i); i += 1 }
      m.mkString(" ")
    } else mine
  }
}
