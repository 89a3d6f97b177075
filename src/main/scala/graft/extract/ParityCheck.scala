package graft.extract

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import graft.corpus.RefCorpus.RefData
import graft.dom.Bs4Config

/** Golden-file access for the reference corpus (dev/test harness only). */
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
  def extractLines(id: Int, config: Bs4Config): Vector[String] = {
    val html = readHtml(id)
    val names = readTargetNames(id)
    toLines(Extractor.tokenize(html, names, config = config))
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

/** Dev main: run extractor parity against all golden docs, per config. */
object ParityCheck {
  import GoldenData._

  def main(args: Array[String]): Unit = {
    val docs = parseSplit(s"$RefData/valid") ++ parseSplit(s"$RefData/test")
    println(s"golden docs: ${docs.length}")
    val configs = Seq(
      "new-pop/new-class" -> Bs4Config(false, false),
      "new-pop/old-class" -> Bs4Config(false, true),
      "old-pop/new-class" -> Bs4Config(true, false),
      "old-pop/old-class" -> Bs4Config(true, true))
    val detail = args.contains("-v")
    val only: Option[Int] = args.find(_.forall(_.isDigit)).map(_.toInt)

    configs.foreach { case (label, cfg) =>
      var okDocs = 0
      var totalBad = 0L
      var firstBad: List[String] = Nil
      docs.foreach { d =>
        if (only.forall(_ == d.id)) {
          val mine =
            try extractLines(d.id, cfg)
            catch { case e: Throwable =>
              Vector(s"<EXTRACT CRASH: ${e.getClass.getSimpleName}: ${e.getMessage}>")
            }
          var bad = 0
          val n = math.max(mine.length, d.lines.length)
          var i = 0
          var reported = 0
          while (i < n) {
            val g = if (i < d.lines.length) d.lines(i) else "<EOF>"
            val m0 = if (i < mine.length) mine(i) else "<EOF>"
            val m = if (g != "<EOF>" && m0 != "<EOF>") normalizeGaz(m0, g) else m0
            if (m != g) {
              bad += 1
              if (detail && reported < 4 && firstBad.length < 1500) {
                firstBad ::= s"doc ${d.id} line $i:\n  mine : $m\n  gold : $g"
                reported += 1
              }
            }
            i += 1
          }
          if (bad == 0) okDocs += 1
          else totalBad += bad
          if (bad > 0 && detail)
            firstBad ::= s"doc ${d.id}: $bad/${n} lines differ"
        }
      }
      println(f"$label%-20s docs OK: $okDocs%3d / ${docs.count(d => only.forall(_ == d.id))}  bad lines: $totalBad")
      if (detail) firstBad.reverse.take(2000).foreach(println)
    }
  }
}
