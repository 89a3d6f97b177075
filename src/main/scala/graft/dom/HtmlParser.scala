package graft.dom

import java.util.regex.Pattern
import graft.extract.Py

/** Event sink for [[HtmlParser]] (the shape of CPython html.parser's
  * handler methods that bs4's tree builder consumes).
  */
trait HtmlEvents {
  def handleStartTag(name: String, attrs: List[(String, Option[String])]): Unit
  def handleStartEndTag(name: String, attrs: List[(String, Option[String])]): Unit
  def handleEndTag(name: String): Unit
  def handleData(data: String): Unit
  def handleComment(data: String): Unit
  def handleEntityRef(name: String): Unit
  def handleCharRef(name: String): Unit
  def handleDecl(data: String): Unit
  def handlePi(data: String): Unit
  def unknownDecl(data: String): Unit
}

/** Scala re-implementation of CPython's `html.parser.HTMLParser`
  * tokenization semantics as the reference's old bs4 drove it via
  * `BeautifulSoup(html, 'html.parser')` (`util/html_segmenter.py:259`):
  * convert_charrefs off, so text between tags is passed through raw and
  * every `&name;` / `&#n;` reaches the sink as its own entity or charref
  * event. This is deliberately NOT an HTML5-spec tokenizer: html.parser's
  * tolerant regex-driven behavior (bogus comments, junk-in-tag recovery,
  * cdata raw-text for script/style, the EOF quirks of its `&` dispatch)
  * is part of the byte-parity contract. Attribute values are still
  * `html.unescape`d, as CPython always does.
  *
  * The whole document is parsed in one pass with EOF ("close()")
  * recovery semantics inlined.
  */
final class HtmlParser(events: HtmlEvents) {
  import HtmlParser._

  private var cdataElem: String = null
  private var interestingCdata: Pattern = null

  def parse(rawdata: String): Unit = {
    val n = rawdata.length
    var i = 0
    // next-'&' memo: indexOf('&', i) from scratch each iteration is
    // O(distance-to-next-amp) — on an amp-free page that's a full
    // rescan of the remaining input PER TAG (quadratic). The next amp
    // position only moves forward, so cache it until i passes it.
    var ampCache = Int.MinValue // valid while >= i; n encodes "none ahead"
    while (i < n) {
      // find the next interesting position
      var j = 0
      var breakLoop = false
      if (cdataElem == null) {
        // interesting_normal = [&<]
        val lt = rawdata.indexOf('<', i)
        if (ampCache < i) {
          val a = rawdata.indexOf('&', i)
          ampCache = if (a < 0) n else a
        }
        j = math.min(if (lt < 0) n else lt, ampCache)
      } else {
        val m = interestingCdata.matcher(rawdata)
        if (m.find(i)) j = m.start()
        else { breakLoop = true; j = i } // unclosed cdata: trailing dropped
      }
      if (breakLoop) { i = n }
      else {
        if (i < j) events.handleData(rawdata.substring(i, j))
        i = j
        if (i < n && rawdata.charAt(i) == '&' && cdataElem == null) {
          i = handleAmp(rawdata, i)
        } else if (i < n) {
          // dispatch on the construct at '<'
          var k = 0
          if (startTagOpen(rawdata, i)) k = parseStartTag(rawdata, i)
          else if (rawdata.startsWith("</", i)) k = parseEndTag(rawdata, i)
          else if (rawdata.startsWith("<!--", i)) k = parseComment(rawdata, i)
          else if (rawdata.startsWith("<?", i)) k = parsePi(rawdata, i)
          else if (rawdata.startsWith("<!", i)) k = parseHtmlDeclaration(rawdata, i)
          else { events.handleData("<"); k = i + 1 }
          if (k < 0) {
            // EOF recovery (close() path): emit the rest as data
            k = rawdata.indexOf('>', i + 1)
            if (k < 0) {
              k = rawdata.indexOf('<', i + 1)
              if (k < 0) k = i + 1
            } else k += 1
            events.handleData(rawdata.substring(i, k))
          }
          i = k
        }
      }
    }
    // trailing data in cdata mode is dropped (html.parser close() semantics)
  }

  /** '&' dispatch (CPython goahead's convert_charrefs-off branches).
    * Returns the new position; n means stop (EOF quirks mirrored).
    */
  private def handleAmp(rawdata: String, i: Int): Int = {
    val n = rawdata.length
    if (rawdata.startsWith("&#", i)) {
      val m = charrefNum.matcher(rawdata)
      m.region(i, n); m.useTransparentBounds(true); m.useAnchoringBounds(false)
      if (m.lookingAt()) {
        val g = m.group()
        events.handleCharRef(g.substring(2, g.length - 1))
        var k = m.end()
        if (rawdata.charAt(k - 1) != ';') k -= 1
        k
      } else if (rawdata.indexOf(';', i) >= 0) {
        // bail by consuming '&#'; parsing resumes after it (close() rerun)
        events.handleData(rawdata.substring(i, i + 2))
        i + 2
      } else {
        // no ';' ahead: break, then close() emits the tail raw
        events.handleData(rawdata.substring(i))
        n
      }
    } else {
      val m = entityRef.matcher(rawdata)
      m.region(i, n); m.useTransparentBounds(true); m.useAnchoringBounds(false)
      if (m.lookingAt()) {
        events.handleEntityRef(m.group(1))
        var k = m.end()
        if (rawdata.charAt(k - 1) != ';') k -= 1
        k
      } else if (i + 2 == n && incompleteEntAt(rawdata, i)) {
        // exactly "&X" at EOF: CPython advances past '&' before the close()
        // tail emit, so the '&' is dropped
        events.handleData(rawdata.substring(i + 1))
        n
      } else if (i + 1 < n && incompleteEntAt(rawdata, i)) {
        // incomplete entity not at EOF boundary: close() re-emits raw tail
        events.handleData(rawdata.substring(i))
        n
      } else {
        events.handleData("&")
        i + 1
      }
    }
  }

  private def setCdataMode(elem: String): Unit = {
    cdataElem = elem.toLowerCase(java.util.Locale.ROOT)
    // memoized: real pages contain many <script>/<style> elements and
    // compiling a Pattern per element dominates rawtext handling
    interestingCdata = HtmlParser.cdataPatternCache.computeIfAbsent(cdataElem,
      e => Pattern.compile(
        "</[" + Py.SpaceClass + "]*" + Pattern.quote(e),
        Pattern.CASE_INSENSITIVE))
  }

  private def clearCdataMode(): Unit = { cdataElem = null; interestingCdata = null }

  private def startTagOpen(s: String, i: Int): Boolean =
    i + 1 < s.length && isAsciiLetter(s.charAt(i + 1))

  // --- start tags -------------------------------------------------------

  private def parseStartTag(rawdata: String, i: Int): Int = {
    val endpos = checkForWholeStartTag(rawdata, i)
    if (endpos < 0) return endpos

    val attrs = List.newBuilder[(String, Option[String])]
    val tn = TagScanner.scanTagName(rawdata, i + 1)
    val nameEnd = (tn >>> 32).toInt
    var k = (tn & 0xffffffffL).toInt
    val tag = rawdata.substring(i + 1, nameEnd).toLowerCase(java.util.Locale.ROOT)

    val holder = new TagScanner.Attr
    var done = false
    while (k < endpos && !done) {
      if (!TagScanner.scanAttr(rawdata, k, holder)) done = true
      else {
        val attrname = rawdata.substring(holder.nameStart, holder.nameEnd)
        var attrvalue: Option[String] =
          if (!holder.hasValue) None
          else Some(rawdata.substring(holder.valueStart, holder.valueEnd))
        attrvalue = attrvalue.map { v =>
          if (v.length >= 2 &&
              ((v.charAt(0) == '\'' && v.charAt(v.length - 1) == '\'') ||
               (v.charAt(0) == '"' && v.charAt(v.length - 1) == '"')))
            v.substring(1, v.length - 1)
          else v
        }
        // CPython: `if attrvalue: attrvalue = unescape(attrvalue)` — note
        // the empty string stays as-is (truthiness), None stays None.
        attrvalue = attrvalue.map(v => if (v.isEmpty) v else Entities.unescape(v))
        attrs += ((attrname.toLowerCase(java.util.Locale.ROOT), attrvalue))
        k = holder.end
      }
    }
    val end = Py.strip(rawdata.substring(k, endpos))
    if (end != ">" && end != "/>") {
      events.handleData(rawdata.substring(i, endpos))
      return endpos
    }
    if (end.endsWith("/>")) {
      events.handleStartEndTag(tag, attrs.result())
    } else {
      events.handleStartTag(tag, attrs.result())
      if (tag == "script" || tag == "style") setCdataMode(tag)
    }
    endpos
  }

  private def checkForWholeStartTag(rawdata: String, i: Int): Int = {
    val j = TagScanner.scanStartTagEnd(rawdata, i)
    if (j >= rawdata.length) return -1 // end of input
    val next = rawdata.charAt(j)
    if (next == '>') return j + 1
    if (next == '/') {
      if (rawdata.startsWith("/>", j)) return j + 2
      return -1 // buffer boundary (EOF)
    }
    if (isAsciiLetter(next) || next == '=') return -1 // incomplete at EOF
    if (j > i) j
    else throw new IllegalStateException("unreachable in start tag scan")
  }

  // --- end tags ---------------------------------------------------------

  private def parseEndTag(rawdata: String, i: Int): Int = {
    var gtpos = rawdata.indexOf('>', i + 1)
    if (gtpos < 0) return -1
    gtpos += 1
    // endtagfind: </\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*> — hand scan
    var elemName: String = null
    locally {
      var k = i + 2
      val n = rawdata.length
      while (k < n && Py.isSpace(rawdata.charAt(k))) k += 1
      if (k < n && TagScanner.isAsciiLetter(rawdata.charAt(k))) {
        val ns = k
        k += 1
        var go = true
        while (go && k < n) {
          val c = rawdata.charAt(k)
          if (TagScanner.isAsciiLetter(c) || (c >= '0' && c <= '9') ||
              c == '-' || c == '.' || c == ':' || c == '_') k += 1
          else go = false
        }
        val ne = k
        while (k < n && Py.isSpace(rawdata.charAt(k))) k += 1
        if (k < n && rawdata.charAt(k) == '>')
          elemName = rawdata.substring(ns, ne)
      }
    }
    if (elemName == null) {
      if (cdataElem != null) {
        events.handleData(rawdata.substring(i, gtpos))
        return gtpos
      }
      val nm = TagScanner.scanTagName(rawdata, i + 2)
      if (nm < 0) {
        if (rawdata.startsWith("</>", i)) return i + 3
        return parseBogusComment(rawdata, i)
      }
      val tagname = rawdata.substring(i + 2, (nm >>> 32).toInt)
        .toLowerCase(java.util.Locale.ROOT)
      val gt = rawdata.indexOf('>', (nm & 0xffffffffL).toInt)
      events.handleEndTag(tagname)
      return gt + 1
    }
    val elem = elemName.toLowerCase(java.util.Locale.ROOT)
    if (cdataElem != null && elem != cdataElem) {
      events.handleData(rawdata.substring(i, gtpos))
      return gtpos
    }
    events.handleEndTag(elem)
    clearCdataMode()
    gtpos
  }

  // --- comments / declarations / PIs ------------------------------------

  private def parseComment(rawdata: String, i: Int): Int = {
    val m = commentClose.matcher(rawdata)
    if (!m.find(i + 4)) return -1
    events.handleComment(rawdata.substring(i + 4, m.start()))
    m.end()
  }

  private def parsePi(rawdata: String, i: Int): Int = {
    val gt = rawdata.indexOf('>', i + 2)
    if (gt < 0) return -1
    events.handlePi(rawdata.substring(i + 2, gt))
    gt + 1
  }

  private def parseBogusComment(rawdata: String, i: Int): Int = {
    val pos = rawdata.indexOf('>', i + 2)
    if (pos < 0) return -1
    events.handleComment(rawdata.substring(i + 2, pos))
    pos + 1
  }

  private def parseHtmlDeclaration(rawdata: String, i: Int): Int = {
    if (rawdata.startsWith("<!--", i)) parseComment(rawdata, i)
    else if (rawdata.startsWith("<![", i)) parseMarkedSection(rawdata, i)
    else if (rawdata.regionMatches(true, i, "<!doctype", 0, 9)) {
      val gt = rawdata.indexOf('>', i + 9)
      if (gt < 0) -1
      else { events.handleDecl(rawdata.substring(i + 2, gt)); gt + 1 }
    } else parseBogusComment(rawdata, i)
  }

  private def parseMarkedSection(rawdata: String, i: Int): Int = {
    // _markupbase.parse_marked_section
    val nm = declName.matcher(rawdata)
    nm.region(i + 3, rawdata.length)
    nm.useTransparentBounds(true).useAnchoringBounds(false)
    if (!nm.lookingAt()) return parseBogusComment(rawdata, i) // tolerant fallback
    val raw = nm.group()
    if (i + 3 + raw.length >= rawdata.length) return -1
    val sectName = Py.strip(raw).toLowerCase(java.util.Locale.ROOT)
    val close: Pattern =
      if (sectName == "temp" || sectName == "cdata" || sectName == "ignore" ||
          sectName == "include" || sectName == "rcdata") markedSectionClose
      else if (sectName == "if" || sectName == "else" || sectName == "endif")
        msMarkedSectionClose
      else return parseBogusComment(rawdata, i) // CPython raises; be tolerant
    val m = close.matcher(rawdata)
    if (!m.find(i + 3)) return -1
    events.unknownDecl(rawdata.substring(i + 3, m.start()))
    m.end()
  }
}

object HtmlParser {
  private def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  private val S = Py.SpaceClass

  private val commentClose: Pattern = Pattern.compile("--[" + S + "]*>")

  /** `[a-zA-Z][-_.a-zA-Z0-9]*\s*` (_markupbase._declname_match) */
  private val declName: Pattern = Pattern.compile(
    "[a-zA-Z][-_.a-zA-Z0-9]*[" + S + "]*")

  /** `]\s*]\s*>` */
  private val markedSectionClose: Pattern = Pattern.compile(
    "][" + S + "]*][" + S + "]*>")

  /** `&#(?:[0-9]+|[xX][0-9a-fA-F]+)[^0-9a-fA-F]` */
  private val charrefNum: Pattern = Pattern.compile(
    "&#(?:[0-9]+|[xX][0-9a-fA-F]+)[^0-9a-fA-F]")

  /** `&([a-zA-Z][-.a-zA-Z0-9]*)[^a-zA-Z0-9]` */
  private val entityRef: Pattern = Pattern.compile(
    "&([a-zA-Z][-.a-zA-Z0-9]*)[^a-zA-Z0-9]")

  /** `&[a-zA-Z#]` as direct char tests (was a regex `lookingAt` over a
    * substring copy of the whole remaining input).
    */
  private def incompleteEntAt(s: String, i: Int): Boolean =
    i + 1 < s.length && s.charAt(i) == '&' && {
      val c = s.charAt(i + 1)
      isAsciiLetter(c) || c == '#'
    }

  /** Per-rawtext-element close patterns, compiled once per element name. */
  private val cdataPatternCache =
    new java.util.concurrent.ConcurrentHashMap[String, Pattern]()

  /** `]\s*>` (MS Office marked sections) */
  private val msMarkedSectionClose: Pattern = Pattern.compile(
    "][" + S + "]*>")
}
