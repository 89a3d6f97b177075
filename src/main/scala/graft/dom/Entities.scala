package graft.dom

import java.util.regex.Pattern

/** HTML5 character-reference decoding with CPython `html.unescape`
  * semantics (html.parser unescapes every attribute value with it; text
  * goes through old bs4's entity and charref events instead, see
  * [[html4]]).
  *
  * Data source: the public WHATWG named-character-reference table
  * (shipped as a resource, incl. the semicolon-less legacy names).
  */
object Entities {

  /** name (with or without trailing ';') -> replacement string. */
  val html5: Map[String, String] = {
    val in = getClass.getResourceAsStream("/graft/html5_entities.tsv")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try {
      src.getLines().map { line =>
        val i = line.indexOf('\t')
        val name = line.substring(0, i)
        val hex = line.substring(i + 1)
        // value encoded as \uXXXX sequences
        val sb = new StringBuilder
        var p = 0
        while (p < hex.length) {
          sb.append(Integer.parseInt(hex.substring(p + 2, p + 6), 16).toChar)
          p += 6
        }
        name -> sb.toString
      }.toMap
    } finally src.close()
  }

  /** Windows-1252 remapping of numeric refs (html._invalid_charrefs). */
  val invalidCharrefs: Map[Int, String] = Map(
    0x00 -> "\ufffd", 0x0d -> "\r", 0x80 -> "\u20ac", 0x81 -> "\u0081",
    0x82 -> "\u201a", 0x83 -> "\u0192", 0x84 -> "\u201e", 0x85 -> "\u2026",
    0x86 -> "\u2020", 0x87 -> "\u2021", 0x88 -> "\u02c6", 0x89 -> "\u2030",
    0x8a -> "\u0160", 0x8b -> "\u2039", 0x8c -> "\u0152", 0x8d -> "\u008d",
    0x8e -> "\u017d", 0x8f -> "\u008f", 0x90 -> "\u0090", 0x91 -> "\u2018",
    0x92 -> "\u2019", 0x93 -> "\u201c", 0x94 -> "\u201d", 0x95 -> "\u2022",
    0x96 -> "\u2013", 0x97 -> "\u2014", 0x98 -> "\u02dc", 0x99 -> "\u2122",
    0x9a -> "\u0161", 0x9b -> "\u203a", 0x9c -> "\u0153", 0x9d -> "\u009d",
    0x9e -> "\u017e", 0x9f -> "\u0178")

  private def isInvalidCodepoint(n: Int): Boolean =
    (n >= 0x1 && n <= 0x8) || n == 0xb || (n >= 0xe && n <= 0x1f) ||
    (n >= 0x7f && n <= 0x9f) || (n >= 0xfdd0 && n <= 0xfdef) ||
    ((n & 0xfffe) == 0xfffe && n <= 0x10ffff) // plane-end noncharacters

  // CPython html._charref: note \r is NOT excluded from named refs.
  private val charref: Pattern = Pattern.compile(
    "&(#[0-9]+;?|#[xX][0-9a-fA-F]+;?|[^\\t\\n\\f <&#;]{1,32};?)")

  private def replaceCharref(s: String): String = {
    if (s.charAt(0) == '#') {
      val digits =
        if (s.charAt(1) == 'x' || s.charAt(1) == 'X') s.substring(2)
        else s.substring(1)
      val trimmed = if (digits.endsWith(";")) digits.dropRight(1) else digits
      val radix = if (s.charAt(1) == 'x' || s.charAt(1) == 'X') 16 else 10
      val num =
        try {
          val v = new java.math.BigInteger(trimmed, radix)
          if (v.bitLength() > 31) Int.MaxValue else v.intValue()
        } catch { case _: NumberFormatException => Int.MaxValue }
      invalidCharrefs.get(num) match {
        case Some(r) => r
        case None =>
          if ((num >= 0xd800 && num <= 0xdfff) || num > 0x10ffff) "\ufffd"
          else if (isInvalidCodepoint(num)) ""
          else new String(Character.toChars(num))
      }
    } else {
      html5.get(s) match {
        case Some(v) => v
        case None =>
          // longest matching prefix of length >= 2, per the standard
          var x = s.length - 1
          while (x >= 2) {
            val pre = s.substring(0, x)
            if (html5.contains(pre)) return html5(pre) + s.substring(x)
            x -= 1
          }
          "&" + s
      }
    }
  }

  /** HTML4 entity table (Python html.entities.name2codepoint, 252
    * case-sensitive names) — what old bs4 resolves handle_entityref
    * against.
    */
  val html4: Map[String, Int] = {
    val in = getClass.getResourceAsStream("/graft/html4_entities.tsv")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().map { line =>
      val i = line.indexOf('\t')
      line.substring(0, i) -> line.substring(i + 1).toInt
    }.toMap
    finally src.close()
  }

  /** cp1252 mapping for bytes 0x80-0x9f (undefined bytes fall back to
    * identity, like bs4's chr() fallback after UnicodeDecodeError).
    */
  val cp1252High: Map[Int, String] = invalidCharrefs - 0x00 - 0x0d

  /** CPython `html.unescape`. */
  def unescape(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val m = charref.matcher(s)
    val sb = new java.lang.StringBuilder(s.length)
    var last = 0
    while (m.find()) {
      sb.append(s, last, m.start())
      sb.append(replaceCharref(m.group(1)))
      last = m.end()
    }
    sb.append(s, last, s.length)
    sb.toString
  }
}
