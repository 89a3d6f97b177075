package graft.extract

/** Python string-semantics primitives.
  *
  * The reference extractor (see `/root/reference/util/html_segmenter.py:10-31`)
  * leans on CPython's Unicode behavior: `str.strip()` / regex `\s` use the
  * Python whitespace set (which differs from both Java's `isWhitespace` and
  * the Unicode White_Space property), `str.isdigit()` includes superscripts,
  * and `open(...).read()` applies universal-newline translation. Byte-parity
  * with the reference requires replicating these exactly.
  */
object Py {

  /** Python's str whitespace set: characters where `str.isspace()` is true
    * (category Zs/Zl/Zp, or bidi class WS/B/S: \t \n \x0b \f \r \x1c-\x1f
    * \x85 plus the Unicode space separators). Identical to the set matched
    * by `\s` in a CPython str regex.
    */
  def isSpace(c: Char): Boolean =
    // ASCII fast path: tab..CR (0x09-0x0D), space, and FS..US
    // (0x1C-0x1F) are the only ASCII members; all other ASCII chars
    // (letters, digits, punctuation -- the vast majority of input)
    // short-circuit without the Character.getType call
    if (c < 0x80)
      c == ' ' || (c >= '\t' && c <= '\r') ||
        (c >= '\u001C' && c <= '\u001F')
    else (c == '\u0085') || {
      val t = Character.getType(c)
      t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
      t == Character.PARAGRAPH_SEPARATOR
    }

  /** Character-class body equivalent to CPython str-regex `\s`, for
    * embedding in java.util.regex patterns.
    */
  val SpaceClass: String =
    "\\t\\n\\x0B\\f\\r\\x1C-\\x1F\\x85\\xA0\\u1680\\u2000-\\u200A" +
    "\\u2028\\u2029\\u202F\\u205F\\u3000 "

  /** Python `str.strip()` (no args): strip [[isSpace]] chars at both ends. */
  def strip(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && isSpace(s.charAt(a))) a += 1
    while (b > a && isSpace(s.charAt(b - 1))) b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** Python `str.lower()`: full Unicode lowercase. Java's Locale.ROOT
    * toLowerCase matches CPython on the relevant plane (incl. İ → i̇).
    */
  def lower(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  /** Python `str.isdigit()` for one code point: Nd (decimal) plus
    * Numeric_Type=Digit characters (superscripts, circled digits, ...).
    */
  def isDigit(cp: Int): Boolean =
    Character.isDigit(cp) || {
      val t = Character.getType(cp)
      (t == Character.OTHER_NUMBER) && {
        val v = Character.getNumericValue(cp)
        v >= 0 && v <= 9
      }
    }

  /** Python `str.isupper()` on a single leading code point (reference uses
    * `tkn[0].isupper()`): uppercase property (Lu + Other_Uppercase).
    */
  def isUpperCp(cp: Int): Boolean = Character.isUpperCase(cp)

  /** True if the string has at least one char and any char is a py-digit. */
  def anyDigit(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (isDigit(cp)) return true
      i += Character.charCount(cp)
    }
    false
  }

  /** Python universal-newline translation applied by text-mode `read()`:
    * \r\n and lone \r both become \n.
    */
  def universalNewlines(s: String): String = {
    if (s.indexOf('\r') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\r') {
        sb.append('\n')
        if (i + 1 < s.length && s.charAt(i + 1) == '\n') i += 1
      } else sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** Python 3 `round()` on a double: banker's (half-even) rounding, as an
    * int (reference: `round(log(count))`, `util/html_segmenter.py:205`).
    */
  def round(x: Double): Long = Math.rint(x).toLong
}
