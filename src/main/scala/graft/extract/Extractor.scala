package graft.extract

import java.util.regex.Pattern
import scala.collection.mutable.ArrayBuffer
import graft.dom.{Bs4TreeBuilder, Dom, Tag, TextNode, TextKind}

/** One extracted token with its 13-slot feature vector and IOB tag.
  *
  * Mirrors the reference's HtmlToken (`util/html_segmenter.py:33-138`):
  * features = [unaccented, exact, partial, name_log, word_log, email,
  * number, title, url, capitalized, punct, html_ctx, css_class].
  */
final class HtmlToken(val tkn: String, val element: Tag,
    ctxCache: java.util.IdentityHashMap[Tag, (String, String)] = null) {
  var bio: String = "O"
  val features: Array[String] = {
    val f = new Array[String](13)
    f(0) = Extractor.removeAccents(tkn)
    f(1) = "0"; f(2) = "0"; f(3) = "0"; f(4) = "0"
    f(5) = if (Extractor.isEmail(tkn)) "1" else "0"
    f(6) = if (Py.anyDigit(tkn)) "1" else "0"
    f(7) = if (Extractor.isTitle(tkn)) "1" else "0"
    f(8) = if (Extractor.isUrl(tkn)) "1" else "0"
    f(9) = if (Extractor.isCapitalized(tkn)) "1" else "0"
    f(10) = if (Extractor.isPunct(tkn)) "1" else "0"
    // html_ctx/css depend only on the element; cache per text node parent
    val ctx =
      if (ctxCache == null) null
      else ctxCache.get(element)
    if (ctx != null) {
      f(11) = ctx._1
      f(12) = ctx._2
    } else {
      f(11) = Extractor.getParent(element) + "." + Extractor.getSecondParent(element)
      f(12) = Extractor.getClassName(element)
      if (ctxCache != null) ctxCache.put(element, (f(11), f(12)))
    }
    f
  }
}

/** Gazetteer maps (reference: `util/html_segmenter.py:330-346`,
  * `models/tokenizer.py:333-357`). All empty by default (blobs missing).
  */
final case class Gazetteers(
    exact: Map[String, Int] = Map.empty,
    partial: Map[String, Int] = Map.empty,
    word: Map[String, Int] = Map.empty) extends Serializable

object Gazetteers {
  /** Build exact/partial maps from a name list, reference semantics. */
  def fromNames(names: Iterable[String], words: Iterable[String] = Nil): Gazetteers = {
    val exact = scala.collection.mutable.Map[String, Int]()
    val partial = scala.collection.mutable.Map[String, Int]()
    names.foreach { raw =>
      val name = Py.strip(raw)
      val toks = Extractor.tokenizeText(name)
      toks.foreach { t =>
        partial(t) = partial.getOrElse(t, 0) + 1
      }
      val joined = toks.map(Py.lower).mkString(" ")
      exact(joined) = exact.getOrElse(joined, 0) + 1
    }
    // NOTE conscious deviation: models/tokenizer.py:351-357 splits raw
    // file lines so each line's LAST word keeps its trailing newline and
    // can never match a token. We split clean words; callers wanting the
    // reference quirk must pass lines with their newlines intact.
    val word = scala.collection.mutable.Map[String, Int]()
    words.foreach { line =>
      line.split(" ", -1).foreach { w =>
        word(w) = word.getOrElse(w, 0) + 1
      }
    }
    Gazetteers(exact.toMap, partial.toMap, word.toMap)
  }
}

/** The full reference extraction pipeline, HTML string → sentences of
  * [[HtmlToken]]. Pure JVM code, safe inside `mapPartitions`.
  */
object Extractor {

  // --- Python-parity predicates (util/html_segmenter.py:10-70) ----------

  /** Reference accent table — data constants transcribed exactly from
    * `util/html_segmenter.py:13-14` (80 aligned chars; note Æ→e, ×→x,
    * ÷→o, ß→s). `str.find` semantics: first occurrence wins.
    */
  private val Special =
    "ÀÁÂÃÄÅÆÇÈÉÊËÌÍİÎÏÐÑÒÓÔÕÖĞ×ØÙÚÛÜÝÞßàáâãäåæçèéêëìíîïðñòóôõö÷øùúûüýþÿšŽčžŠšČłńężśćŞ"
  private val Mapped =
    "aaaaaaeceeeeiiiiidnooooogxouuuuypsaaaaaaeceeeeiiiionooooooouuuuypyszczssclnezscs"

  def removeAccents(tkn: String): String = {
    val text = Py.lower(Py.strip(tkn))
    // ASCII fast path: nothing in the table is < 0x80
    var i = 0
    var needsMap = false
    while (i < text.length && !needsMap) {
      if (text.charAt(i) >= 0x80) needsMap = true
      i += 1
    }
    if (!needsMap) return text
    val sb = new java.lang.StringBuilder(text.length)
    i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      val idx = if (c < 0x80) -1 else Special.indexOf(c.toInt)
      if (idx >= 0) sb.append(Mapped.charAt(idx)) else sb.append(c)
      i += 1
    }
    sb.toString
  }

  private val PunctChars = ",;:-\"()“”；"
  def isPunct(text: String): Boolean =
    text.length == 1 && PunctChars.indexOf(text.charAt(0)) >= 0

  private val S = Py.SpaceClass
  private val emailPattern = Pattern.compile(
    "[^" + S + "]+@[^" + S + "]+(\\.[^" + S + "]+)+")
  /** Prefix-match of `\\S+@\\S+(\\.\\S+)+`. For whitespace-free inputs
    * (all tokens: the tokenizer splits on \\s) this reduces to: an '@' at
    * index >= 1 with a '.' at index >= i+2 and at least one char after
    * it; strings containing whitespace fall back to the regex.
    */
  def isEmail(tkn: String): Boolean = {
    val at = tkn.indexOf('@', 1)
    if (at < 0) return false
    var hasSpace = false
    var i = 0
    while (i < tkn.length && !hasSpace) {
      if (Py.isSpace(tkn.charAt(i))) hasSpace = true
      i += 1
    }
    if (hasSpace) return emailPattern.matcher(tkn).lookingAt()
    val dot = tkn.indexOf('.', at + 2)
    dot >= 0 && dot <= tkn.length - 2
  }

  private val urlPattern = Pattern.compile(
    "http[s]?://(?:[a-zA-Z]|[0-9]|[$-_@.&+]|[!*\\(\\),]|(?:%[0-9a-fA-F][0-9a-fA-F]))+")
  // literal 'http' prefix gate
  def isUrl(tkn: String): Boolean =
    tkn.startsWith("http") && urlPattern.matcher(tkn).lookingAt()

  def isCapitalized(tkn: String): Boolean =
    tkn.length > 0 && Py.isUpperCp(tkn.codePointAt(0))

  /** Honorific prefixes — `re.match` (prefix!) IGNORECASE, list order
    * (`util/html_segmenter.py:59-70`); "Dresden" matches "dr".
    */
  private val titleAlternatives = Seq(
    "m\\.sc\\.", "sc\\.nat\\.", "rer\\.nat\\.", "sc\\.nat\\.", "md\\.",
    "b\\.sc\\.", "bs\\.sc\\.", "ph\\.d\\.", "ed\\.d\\.", "m\\.s\\.",
    "hon\\.", "a\\.d\\.", "em\\.", "apl\\.", "prof\\.", "prof\\.dr\\.",
    "conf\\.dr\\.", "asist\\.dr\\.", "dr\\.", "mr\\.", "mrs\\.",
    "lect\\.dr\\.", "dr", "professor", "mr", "mrs", "ing\\.")

  // every pattern is a literal (escaped dots), so prefix-regex IGNORECASE
  // semantics == case-insensitive literal prefix compare
  private val titleLiterals: Array[String] =
    titleAlternatives.map(_.replace("\\.", ".")).toArray

  // first-char gate: an ASCII first char can only CI-match a literal's
  // ASCII first letter in its two cases, so most tokens skip the loop
  // entirely; non-ASCII first chars (e.g. 'İ' -> 'i') take the full
  // regionMatches path
  private val titleFirstChars: Array[Boolean] = {
    val a = new Array[Boolean](128)
    titleLiterals.foreach { l =>
      a(l.charAt(0)) = true
      a(l.charAt(0).toUpper) = true
    }
    a
  }

  def isTitle(tkn: String): Boolean = {
    if (tkn.isEmpty) return false
    val c0 = tkn.charAt(0)
    if (c0 < 128 && !titleFirstChars(c0)) return false
    var i = 0
    while (i < titleLiterals.length) {
      val lit = titleLiterals(i)
      if (tkn.length >= lit.length &&
          tkn.regionMatches(true, 0, lit, 0, lit.length)) return true
      i += 1
    }
    false
  }

  // --- tokenize_text (util/html_segmenter.py:29-31) ---------------------

  /** `re.split("(\\s+|[,;:\\-\"()“”；])")` keeping the captured
    * delimiter, then drop whitespace-led and empty pieces — hand-rolled
    * char scan (hot path).
    */
  def tokenizeText(text: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val n = text.length
    var i = 0
    var start = 0
    while (i < n) {
      val c = text.charAt(i)
      if (Py.isSpace(c)) {
        if (i > start) out += text.substring(start, i)
        i += 1
        while (i < n && Py.isSpace(text.charAt(i))) i += 1
        start = i
      } else if (PunctChars.indexOf(c) >= 0) {
        if (i > start) out += text.substring(start, i)
        out += String.valueOf(c)
        i += 1
        start = i
      } else i += 1
    }
    if (n > start) out += text.substring(start, n)
    out.result()
  }

  /** Reference-CLI target-name normalization
    * (`util/html_segmenter.py:322-328`): strip, tokenize, join with
    * single spaces, strip again. Shared by every corpus loader.
    */
  def normalizeTargetName(line: String): String =
    Py.strip(tokenizeText(Py.strip(line)).mkString(" "))

  // --- DOM-context features (util/html_segmenter.py:72-99) --------------

  def getParent(element: Tag): String =
    if (element == null) "none"
    else if (element.parent != null) element.parent.name
    else "none"

  def getSecondParent(element: Tag): String =
    if (element == null) "none"
    else if (element.parent != null && element.parent.parent != null)
      element.parent.parent.name
    else "none"

  def getClassName(element: Tag): String = {
    var e = element
    while (e != null) {
      if (e.hasAttr("class")) {
        e.attrs("class") match {
          case graft.dom.LVal(vs) => return vs.mkString(".")
          case graft.dom.SVal(s) => return s
        }
      }
      e = e.parent
    }
    "none"
  }

  // --- labeling + gazetteer flags (util/html_segmenter.py:148-227) ------

  def assignCorrectLabels(tokens: ArrayBuffer[HtmlToken],
      correctNames: Seq[String], gaz: Gazetteers): Unit = {
    val names: Seq[Array[String]] = correctNames.map(_.split(" ", -1))

    var i = 0
    while (i < tokens.length) {
      var size = 0
      var ni = 0
      while (size == 0 && ni < names.length) {
        val name = names(ni)
        var matched = true
        var j = 0
        while (matched && j < name.length) {
          if (i + j >= tokens.length || tokens(i + j).tkn != name(j)) matched = false
          j += 1
        }
        if (matched) size = name.length
        ni += 1
      }
      if (size == 0) i += 1
      else {
        // every name token is I-PER, never B-PER: this matches the
        // golden files (zero B-PER occurrences — the dataset was
        // generated before the IOB1 B-PER rule was added at
        // `util/html_segmenter.py:184-191`)
        var j = i
        while (j < i + size) { tokens(j).bio = "I-PER"; j += 1 }
        i += size
      }
    }

    i = 0
    while (i < tokens.length) {
      val t = tokens(i)
      // partial match (note: sets the *name_log* slot, feature[3])
      gaz.partial.get(t.tkn) match {
        case Some(c) =>
          t.features(2) = "1"
          t.features(3) = Py.round(math.log(c.toDouble)).toString
        case None =>
          if (isPunct(t.tkn)) t.features(2) = "1"
      }
      // word gazetteer (models/tokenizer.py:210-212) keyed on unaccented
      gaz.word.get(t.features(0)) match {
        case Some(c) =>
          t.features(4) = Py.round(math.log(c.toDouble)).toString
        case None =>
      }
      // exact match: longest window (j=5..1) of non-punct lowercased tokens
      var j = if (gaz.exact.isEmpty) 0 else 5
      var hit = false
      while (!hit && j >= 1) {
        if (i + j < tokens.length) {
          val name = new ArrayBuffer[String](j + 1)
          var k = i
          while (k <= i + j) {
            if (!isPunct(tokens(k).tkn)) name += Py.lower(tokens(k).tkn)
            k += 1
          }
          if (name.length > 1) {
            val n = name.mkString(" ")
            if (gaz.exact.contains(n)) {
              var k2 = i
              while (k2 <= i + j) { tokens(k2).features(1) = "1"; k2 += 1 }
              hit = true
            }
          }
        }
        j -= 1
      }
      i += 1
    }
  }

  // --- sentence segmentation (util/html_segmenter.py:232-305) -----------

  private val InlineTags = Set("span", "em", "td", "a", "strong", "b", "font", "sup")

  def getBlockElement(t: HtmlToken): Tag = {
    var e = t.element
    while (e != null) {
      if (!InlineTags.contains(e.name)) return e
      e = e.parent
    }
    null
  }

  def splitSentence(sentence: ArrayBuffer[HtmlToken]): Seq[ArrayBuffer[HtmlToken]] = {
    if (sentence.length < 50) return Seq(sentence)
    val sentences = ArrayBuffer[ArrayBuffer[HtmlToken]]()
    var s = new ArrayBuffer[HtmlToken]()
    var i = 0
    while (i < sentence.length - 1) {
      s += sentence(i)
      if (sentence(i).tkn.endsWith(".") &&
          Py.isUpperCp(sentence(i + 1).tkn.codePointAt(0))) {
        sentences += s
        s = new ArrayBuffer[HtmlToken]()
      }
      i += 1
    }
    s += sentence(sentence.length - 1)
    sentences += s
    sentences.toSeq
  }

  // --- the full pipeline (util/html_segmenter.py:258-309) ---------------

  def tokenize(html: String, correctNames: Seq[String] = Nil,
      gaz: Gazetteers = Gazetteers(),
      annotateGazetteer: Boolean = false): Seq[Seq[HtmlToken]] = {
    val soup = Bs4TreeBuilder.parse(html)

    // remove script and style subtrees, then mark childless <br> as 'BR'
    // — one fused traversal, not one find_all walk per tag name;
    // extraction/marking order matches the original: scripts, then
    // styles, then the br childless-check after extraction
    val scripts = new ArrayBuffer[graft.dom.Tag]()
    val styles = new ArrayBuffer[graft.dom.Tag]()
    val brs = new ArrayBuffer[graft.dom.Tag]()
    def collect(t: graft.dom.Tag): Unit = {
      val cs = t.contents
      var i = 0
      while (i < cs.length) {
        cs(i) match {
          case c: graft.dom.Tag =>
            c.name match {
              case "script" => scripts += c
              case "style" => styles += c
              case "br" => brs += c
              case _ =>
            }
            collect(c)
          case _ =>
        }
        i += 1
      }
    }
    collect(soup)
    scripts.foreach(_.extract())
    styles.foreach(_.extract())
    brs.foreach { br =>
      if (!br.hasTagChildren) br.setString("BR")
    }

    // iterate text nodes in document order (exact-type NavigableString)
    val tkns = new ArrayBuffer[HtmlToken]()
    val ctxCache = new java.util.IdentityHashMap[Tag, (String, String)]()
    soup.descendants.foreach {
      case s: TextNode if s.kind == TextKind.NavigableString =>
        val content = Py.strip(s.value)
        if (content.nonEmpty)
          tokenizeText(content).foreach { t =>
            tkns += new HtmlToken(t, s.parent, ctxCache)
          }
      case _ =>
    }

    // reference gates the whole labeling+gazetteer pass on non-empty
    // correct_names (`util/html_segmenter.py:280-281`); annotateGazetteer
    // lets the engine run the gazetteer flags without labels.
    if (correctNames.nonEmpty || annotateGazetteer)
      assignCorrectLabels(tkns, correctNames, gaz)

    // block-element segmentation
    var el: Tag = null
    var first = true
    val sentences = ArrayBuffer[ArrayBuffer[HtmlToken]]()
    var sentence = new ArrayBuffer[HtmlToken]()
    tkns.foreach { t =>
      val nextEl = getBlockElement(t)
      if (first) { el = nextEl; first = false }
      else if ((el eq nextEl) || (el != null && nextEl != null && Dom.structEq(el, nextEl))) {
        // same block: continue sentence
      } else {
        el = nextEl
        if (sentence.nonEmpty) sentences ++= splitSentence(sentence)
        sentence = new ArrayBuffer[HtmlToken]()
      }
      if (el.name != "br") sentence += t
    }
    if (sentence.nonEmpty) sentences ++= splitSentence(sentence)

    sentences.map(_.toSeq).toSeq
  }
}
