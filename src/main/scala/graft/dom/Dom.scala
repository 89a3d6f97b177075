package graft.dom

import scala.collection.mutable.{ArrayBuffer, ListBuffer}
import graft.extract.Py

/** bs4-equivalent document tree + tree builder.
  *
  * Mirrors the subset of BeautifulSoup (html.parser tree builder) behavior
  * the reference extractor observes (`util/html_segmenter.py:258-309`):
  * tag stack / _popToTag, empty-element tags, cdata-list ("class")
  * attribute splitting, whitespace-only-string collapsing, Python `==`
  * structural equality of tags, `find_all` / `extract` / `string=`.
  *
  * The reference ran an old bs4, and the golden files pin its behavior
  * where later releases changed it:
  *  - `_popToTag` on an unmatched end tag pops all the way to the root
  *    (4.9.1+ ignores the end tag);
  *  - "class" attribute values are `\s+`-split, keeping empty strings
  *    (4.7+ `\S+`-findalls them);
  *  - entity and charref events resolve as old bs4's `handle_entityref`
  *    and `handle_charref` did: the HTML4 table, cp1252 below 256.
  */
object TextKind {
  val NavigableString = 0
  val Comment = 1
  val Doctype = 2
  val CData = 3
  val Declaration = 4
  val ProcessingInstruction = 5
}

sealed abstract class BNode {
  var parent: Tag = _
}

final class TextNode(val value: String, val kind: Int) extends BNode

sealed trait AttrValue
final case class SVal(s: String) extends AttrValue
final case class LVal(vs: Vector[String]) extends AttrValue

final class Tag(
    val name: String,
    var attrs: Map[String, AttrValue],
    val canBeEmpty: Boolean) extends BNode {
  val contents: ArrayBuffer[BNode] = ArrayBuffer.empty

  def hasAttr(key: String): Boolean = attrs.contains(key)

  /** bs4 `tag.string = value`: replace contents with one NavigableString. */
  def setString(value: String): Unit = {
    contents.foreach(_.parent = null)
    contents.clear()
    val t = new TextNode(value, TextKind.NavigableString)
    t.parent = this
    contents += t
  }

  /** Preorder DFS over all descendant nodes (bs4 recursiveChildGenerator),
    * explicit-stack (iterator chaining is a parse-time hotspot).
    */
  def descendants: Iterator[BNode] = new Iterator[BNode] {
    private val stack = new ArrayBuffer[(ArrayBuffer[BNode], Int)](8)
    private var cur: ArrayBuffer[BNode] = contents
    private var idx = 0
    private def advanceOut(): Unit = {
      while (idx >= cur.length && stack.nonEmpty) {
        val (c, i) = stack.remove(stack.length - 1)
        cur = c; idx = i
      }
    }
    advanceOut()
    def hasNext: Boolean = idx < cur.length
    def next(): BNode = {
      val node = cur(idx)
      idx += 1
      node match {
        case t: Tag if t.contents.nonEmpty =>
          stack += ((cur, idx))
          cur = t.contents
          idx = 0
        case _ => advanceOut()
      }
      if (idx >= cur.length) advanceOut()
      node
    }
  }

  /** Any Tag descendant exists (bs4 findChildren() nonempty). A tag
    * descendant at any depth implies a tag child, so direct children
    * suffice.
    */
  def hasTagChildren: Boolean = {
    var i = 0
    while (i < contents.length) {
      if (contents(i).isInstanceOf[Tag]) return true
      i += 1
    }
    false
  }

  /** bs4 extract(): detach from parent. */
  def extract(): Unit = {
    if (parent != null) {
      val idx = parent.contents.indexWhere(_ eq this)
      if (idx >= 0) parent.contents.remove(idx)
      parent = null
    }
  }
}

object Dom {

  /** Python `==` on bs4 nodes: NavigableStrings compare as strings (kind
    * ignored — Comment is a str subclass); Tags compare name, attrs dict,
    * and contents recursively. Identity short-circuits.
    */
  def structEq(a: BNode, b: BNode): Boolean = {
    if (a eq b) return true
    (a, b) match {
      case (x: TextNode, y: TextNode) => x.value == y.value
      case (x: Tag, y: Tag) =>
        x.name == y.name && x.attrs == y.attrs &&
        x.contents.length == y.contents.length &&
        x.contents.iterator.zip(y.contents.iterator).forall {
          case (c1, c2) => structEq(c1, c2)
        }
      case _ => false
    }
  }
}

/** The bs4 layer: consumes [[HtmlEvents]], builds the [[Tag]] tree. */
final class Bs4TreeBuilder extends HtmlEvents {
  import Bs4TreeBuilder._

  val root = new Tag("[document]", Map.empty, canBeEmpty = false)
  private val tagStack = ArrayBuffer[Tag](root)
  private val preserveWsStack = ArrayBuffer[Tag]()
  private val currentData = ListBuffer[String]()
  private val alreadyClosedEmptyElement = ListBuffer[String]()

  private def currentTag: Tag = tagStack.last

  // ---- BeautifulSoup core ---------------------------------------------

  private def endData(kind: Int = TextKind.NavigableString): Unit = {
    if (currentData.nonEmpty) {
      // single-chunk case (the vast majority of text nodes): reuse the
      // substring instead of copying it through mkString
      var s = if (currentData.length == 1) currentData.head
        else currentData.mkString
      if (preserveWsStack.isEmpty) {
        var strippable = true
        var i = 0
        while (strippable && i < s.length) {
          if (AsciiSpaces.indexOf(s.charAt(i)) < 0) strippable = false
          i += 1
        }
        if (strippable) s = if (s.indexOf('\n') >= 0) "\n" else " "
      }
      currentData.clear()
      val node = new TextNode(s, kind)
      node.parent = currentTag
      currentTag.contents += node
    }
  }

  private def pushTag(tag: Tag): Unit = {
    tag.parent = currentTag
    currentTag.contents += tag
    tagStack += tag
    if (PreserveWhitespaceTags.contains(tag.name)) preserveWsStack += tag
  }

  private def popTag(): Unit = {
    val tag = tagStack.remove(tagStack.length - 1)
    if (preserveWsStack.nonEmpty && (preserveWsStack.last eq tag))
      preserveWsStack.remove(preserveWsStack.length - 1)
  }

  /** Old-bs4 `_popToTag`: pops until a tag of this name is popped, so an
    * end tag with no open match pops everything up to the root.
    */
  private def popToTag(name: String): Unit = {
    if (name == "[document]") return
    var i = tagStack.length - 1
    var done = false
    while (i >= 1 && !done) {
      if (tagStack(i).name == name) done = true
      popTag()
      i -= 1
    }
  }

  /** `re.split(r'\s+', value)`: keeps leading/trailing empty strings. */
  private def splitCdataList(value: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var start = 0
    var i = 0
    val n = value.length
    while (i < n) {
      if (Py.isSpace(value.charAt(i))) {
        out += value.substring(start, i)
        while (i + 1 < n && Py.isSpace(value.charAt(i + 1))) i += 1
        start = i + 1
      }
      i += 1
    }
    out += value.substring(start, n)
    out.result()
  }

  private def makeAttrs(name: String, attrDict: List[(String, String)]): Map[String, AttrValue] = {
    if (attrDict.isEmpty) return Map.empty
    val universal = CdataListAttributes.getOrElse("*", Set.empty)
    val tagSpecific = CdataListAttributes.getOrElse(name, Set.empty)
    attrDict.map { case (k, v) =>
      if (universal.contains(k) || tagSpecific.contains(k))
        k -> LVal(splitCdataList(v))
      else k -> SVal(v)
    }.toMap
  }

  private def soupHandleStartTag(name: String, attrDict: List[(String, String)]): Tag = {
    endData()
    val tag = new Tag(name, makeAttrs(name, attrDict),
      canBeEmpty = EmptyElementTags.contains(name))
    pushTag(tag)
    tag
  }

  private def soupHandleEndTag(name: String): Unit = {
    endData()
    popToTag(name)
  }

  // ---- BeautifulSoupHTMLParser layer ----------------------------------

  private def toAttrDict(attrs: List[(String, Option[String])]): List[(String, String)] = {
    // fast paths: most tags carry zero or one attribute
    attrs match {
      case Nil => Nil
      case (k, v) :: Nil => (k, v.getOrElse("")) :: Nil
      case _ =>
        // last occurrence wins, like dict assignment in a loop
        val seen = scala.collection.mutable.LinkedHashMap[String, String]()
        attrs.foreach { case (k, v) => seen(k) = v.getOrElse("") }
        seen.toList
    }
  }

  private def htmlparserHandleStart(name: String,
      attrs: List[(String, Option[String])], handleEmptyElement: Boolean): Unit = {
    val tag = soupHandleStartTag(name, toAttrDict(attrs))
    if (tag.canBeEmpty && handleEmptyElement) {
      htmlparserHandleEnd(name, checkAlreadyClosed = false)
      alreadyClosedEmptyElement += name
    }
  }

  private def htmlparserHandleEnd(name: String, checkAlreadyClosed: Boolean = true): Unit = {
    if (alreadyClosedEmptyElement.nonEmpty && checkAlreadyClosed &&
        alreadyClosedEmptyElement.contains(name)) {
      alreadyClosedEmptyElement -= name
    } else soupHandleEndTag(name)
  }

  override def handleStartTag(name: String, attrs: List[(String, Option[String])]): Unit =
    htmlparserHandleStart(name, attrs, handleEmptyElement = true)

  override def handleStartEndTag(name: String, attrs: List[(String, Option[String])]): Unit = {
    htmlparserHandleStart(name, attrs, handleEmptyElement = false)
    htmlparserHandleEnd(name)
  }

  override def handleEndTag(name: String): Unit = htmlparserHandleEnd(name)

  override def handleData(data: String): Unit = currentData += data

  private def special(data: String, kind: Int): Unit = {
    endData()
    currentData += data
    endData(kind)
  }

  override def handleComment(data: String): Unit = special(data, TextKind.Comment)

  /** Old-bs4 handle_entityref: HTML4 case-sensitive lookup; unresolved
    * entities pass through as "&name" (no semicolon — pinned by golden
    * doc 25's `&AMP;` -> `&AMP`).
    */
  override def handleEntityRef(name: String): Unit = {
    Entities.html4.get(name) match {
      case Some(cp) => currentData += new String(Character.toChars(cp))
      case None => currentData += ("&" + name)
    }
  }

  /** Old-bs4 handle_charref: ints < 256 decoded as windows-1252 (with
    * chr() fallback for the undefined bytes), else chr(n).
    */
  override def handleCharRef(name: String): Unit = {
    val value =
      try {
        val n =
          if (name.startsWith("x") || name.startsWith("X"))
            Integer.parseInt(name.substring(1).replaceAll("^[xX]+", ""), 16)
          else Integer.parseInt(name)
        if (n >= 0x80 && n <= 0x9f) Entities.cp1252High.getOrElse(n, n.toChar.toString)
        else if (n >= 0 && n <= 0x10ffff) new String(Character.toChars(n))
        else "" // chr() would raise; old bs4 drops it
      } catch { case _: NumberFormatException => "" }
    currentData += value
  }

  override def handleDecl(data: String): Unit = {
    val d =
      if (data.startsWith("DOCTYPE ")) data.substring("DOCTYPE ".length)
      else if (data == "DOCTYPE") ""
      else data
    special(d, TextKind.Doctype)
  }

  override def handlePi(data: String): Unit =
    special(data, TextKind.ProcessingInstruction)

  override def unknownDecl(data: String): Unit = {
    if (data.startsWith("CDATA[")) special(data.substring("CDATA[".length), TextKind.CData)
    else special(data, TextKind.Declaration)
  }

  /** Final flush (BeautifulSoup._feed tail). */
  def finish(): Tag = {
    endData()
    while (tagStack.length > 1) popTag()
    root
  }
}

object Bs4TreeBuilder {
  /** bs4 HTMLTreeBuilder.empty_element_tags (HTML5 void + legacy). */
  val EmptyElementTags: Set[String] = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "keygen",
    "link", "menuitem", "meta", "param", "source", "track", "wbr",
    "basefont", "bgsound", "command", "frame", "image", "isindex",
    "nextid", "spacer")

  val PreserveWhitespaceTags: Set[String] = Set("pre", "textarea")

  /** bs4 ASCII_SPACES (note: no \x0b, no \xa0). */
  val AsciiSpaces = " \n\t\f\r"

  val CdataListAttributes: Map[String, Set[String]] = Map(
    "*" -> Set("class", "accesskey", "dropzone"),
    "a" -> Set("rel", "rev"),
    "link" -> Set("rel", "rev"),
    "td" -> Set("headers"),
    "th" -> Set("headers"),
    "form" -> Set("accept-charset"),
    "object" -> Set("archive"),
    "area" -> Set("rel"),
    "icon" -> Set("sizes"),
    "iframe" -> Set("sandbox"),
    "output" -> Set("for"))

  /** Parse markup into a bs4-equivalent tree. */
  def parse(markup: String): Tag = {
    val builder = new Bs4TreeBuilder
    new HtmlParser(builder).parse(markup)
    builder.finish()
  }
}
