package graft.dom

import graft.extract.Py

/** Hand-rolled, allocation-free scanners with semantics identical to
  * CPython html.parser's tolerant start-tag regexes
  * (tagfind_tolerant / attrfind_tolerant / locatestarttagend_tolerant).
  * The regex forms walk deep character-class lambda chains per input
  * char (the dominant cost of parsing at scale); these scanners are
  * plain char loops. Byte-parity is pinned by the 60-doc golden suite.
  */
object TagScanner {

  @inline def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  /** tag-name terminators: the ASCII-only class [^\t\n\r\f />\x00]. */
  @inline private def endsTagName(c: Char): Boolean =
    c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == ' ' ||
    c == '/' || c == '>' || c == '\u0000'

  @inline private def sp(c: Char): Boolean = Py.isSpace(c)

  /** `(?:\s|/(?!>))*` from pos; returns the new position. */
  def skipSeparators(s: String, pos: Int): Int = {
    var k = pos
    val n = s.length
    var go = true
    while (go && k < n) {
      val c = s.charAt(k)
      if (sp(c)) k += 1
      else if (c == '/' && !(k + 1 < n && s.charAt(k + 1) == '>')) k += 1
      else go = false
    }
    k
  }

  /** tagfind_tolerant at pos: requires a letter at pos. Returns
    * (nameEnd, matchEnd) packed as a long, or -1 if no letter.
    */
  def scanTagName(s: String, pos: Int): Long = {
    val n = s.length
    if (pos >= n || !isAsciiLetter(s.charAt(pos))) return -1L
    var j = pos + 1
    while (j < n && !endsTagName(s.charAt(j))) j += 1
    val end = skipSeparators(s, j)
    (j.toLong << 32) | (end.toLong & 0xffffffffL)
  }

  /** One attrfind_tolerant match at pos (unbounded end). Fields are set
    * on the passed holder; returns false on no-match.
    */
  final class Attr {
    var nameStart = 0
    var nameEnd = 0
    var hasValue = false
    var valueStart = 0
    var valueEnd = 0
    var end = 0
  }

  /** lookbehind `(?<=['"\s/])`. */
  @inline private def lookbehindOk(s: String, pos: Int): Boolean = {
    if (pos <= 0) return false
    val p = s.charAt(pos - 1)
    p == '\'' || p == '"' || p == '/' || sp(p)
  }

  /** attr name: `[^\s/>][^\s/=>]*`; returns end or -1. */
  private def scanAttrName(s: String, pos: Int): Int = {
    val n = s.length
    if (pos >= n) return -1
    val c = s.charAt(pos)
    if (sp(c) || c == '/' || c == '>') return -1
    var j = pos + 1
    while (j < n) {
      val d = s.charAt(j)
      if (sp(d) || d == '/' || d == '=' || d == '>') return j
      j += 1
    }
    j
  }

  /** `\s*=+\s*('[^']*'|"[^"]*"|(?!['"])[^>\s]*)` from pos; returns
    * (valueStart, valueEnd, afterValue) packed, or -1 when the optional
    * value group must be left untaken (no '=' or unclosed quote).
    */
  private def scanValue(s: String, pos: Int): (Int, Int, Int) = {
    val n = s.length
    var k = pos
    while (k < n && sp(s.charAt(k))) k += 1
    var eq = 0
    while (k < n && s.charAt(k) == '=') { k += 1; eq += 1 }
    if (eq == 0) return null
    while (k < n && sp(s.charAt(k))) k += 1
    if (k < n && (s.charAt(k) == '\'' || s.charAt(k) == '"')) {
      val q = s.charAt(k)
      val close = s.indexOf(q, k + 1)
      if (close < 0) return null // unclosed quote: value group untaken
      (k, close + 1, close + 1)
    } else {
      val start = k
      while (k < n && s.charAt(k) != '>' && !sp(s.charAt(k))) k += 1
      (start, k, k)
    }
  }

  /** `(?:\s*,)*` (locatestarttagend only). */
  private def skipTrailingCommas(s: String, pos: Int): Int = {
    val n = s.length
    var k = pos
    var go = true
    while (go) {
      var j = k
      while (j < n && sp(s.charAt(j))) j += 1
      if (j < n && s.charAt(j) == ',') k = j + 1
      else go = false
    }
    k
  }

  /** attrfind_tolerant match at pos into `out`; false if no match. */
  def scanAttr(s: String, pos: Int, out: Attr): Boolean = {
    if (!lookbehindOk(s, pos)) return false
    val nameEnd = scanAttrName(s, pos)
    if (nameEnd < 0) return false
    out.nameStart = pos
    out.nameEnd = nameEnd
    val v = scanValue(s, nameEnd)
    if (v == null) {
      out.hasValue = false
      out.end = skipSeparators(s, nameEnd)
    } else {
      out.hasValue = true
      out.valueStart = v._1
      out.valueEnd = v._2
      out.end = skipSeparators(s, v._3)
    }
    true
  }

  /** locatestarttagend_tolerant at i (i points at '<', i+1 is a letter):
    * returns the match end (exclusive).
    */
  def scanStartTagEnd(s: String, i: Int): Int = {
    val n = s.length
    // <[a-zA-Z][^\t\n\r\f />\x00]*
    var k = i + 2
    while (k < n && !endsTagName(s.charAt(k))) k += 1
    // optional group: leading [\s/]* (slash unconditional here)
    var j = k
    while (j < n && (sp(s.charAt(j)) || s.charAt(j) == '/')) j += 1
    // attr*
    var go = true
    while (go && j < n) {
      if (!lookbehindOk(s, j)) go = false
      else {
        val nameEnd = scanAttrName(s, j)
        if (nameEnd < 0) go = false
        else {
          val v = scanValue(s, nameEnd)
          val after = if (v == null) nameEnd else skipTrailingCommas(s, v._3)
          j = skipSeparators(s, after)
        }
      }
    }
    // trailing \s*
    while (j < n && sp(s.charAt(j))) j += 1
    j
  }
}
