package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.RefCorpus.{RefData, requirePresent}

/** Byte-parity of the extraction kernel against the reference goldens
  * (`/root/reference/data/{valid,test}`, 60 docs) and the notebook
  * cell-2 golden for doc 001. Gazetteer-dependent columns 3-6 are
  * substituted from the golden (the DBLP blob is missing); everything
  * else — token stream, IOB labels, features, sentence boundaries —
  * must match byte-for-byte.
  */
class ExtractorParitySpec extends AnyFunSuite {
  import GoldenData._

  def compareDoc(golden: Vector[String], mine: Vector[String]): Int = {
    val n = math.max(golden.length, mine.length)
    var bad = 0
    var i = 0
    while (i < n) {
      val g = if (i < golden.length) golden(i) else "<EOF>"
      val m0 = if (i < mine.length) mine(i) else "<EOF>"
      val m = if (g != "<EOF>" && m0 != "<EOF>") normalizeGaz(m0, g) else m0
      if (m != g) bad += 1
      i += 1
    }
    bad
  }

  lazy val docs = parseSplit(s"$RefData/valid") ++ parseSplit(s"$RefData/test")

  test("59 of 60 golden docs are byte-identical; only doc 36 differs") {
    requirePresent()
    val results = docs.map(d => d.id -> compareDoc(d.lines, extractLines(d.id)))
    val failing = results.filter(_._2 > 0)
    assert(failing.map(_._1) == Vector(36),
      s"unexpected failing docs: ${failing.mkString(", ")}")
  }

  test("doc 36 mismatch is reference corpus drift, not extractor semantics") {
    requirePresent()
    // the shipped 036.html has starred surnames ("Kepler*") that the golden
    // (token "Kepler") predates; all 44 differing lines trace to them
    val html = readHtml(36)
    assert(html.contains("Kepler*"))
    val golden = docs.find(_.id == 36).get.lines
    assert(golden.exists(_.startsWith("Kepler I-PER")))
    assert(!golden.exists(_.contains("Kepler*")))
    val bad = compareDoc(golden, extractLines(36))
    assert(bad <= 44, s"doc 36 drifted further than expected: $bad lines")
  }

  test("notebook cell-2 golden for doc 001 (single-name label quirk)") {
    requirePresent()
    // RNE Dataset.ipynb cell 2 has an indentation bug: only the LAST line
    // of target_names_001.txt becomes a target name
    val golden = GoldenData.cell2Golden()
    val names = readTargetNames(1).takeRight(1)
    val sentences = Extractor.tokenize(readHtml(1), names)
    val mine = toLines(sentences)
    assert(compareDoc(golden, mine) == 0)
  }
}

/** Unit tests for the Python-parity primitives (SURVEY.md §5 quirk list). */
class PyParitySpec extends AnyFunSuite {
  import graft.dom.{Bs4TreeBuilder, Entities, LVal, Tag, TextNode}

  test("remove_accents maps the reference 80-char table") {
    assert(Extractor.removeAccents("Ærøskøbing") == "eroskobing")
    assert(Extractor.removeAccents("3×4") == "3x4")
    assert(Extractor.removeAccents("Groß") == "gros") // ß -> single 's' in the table
    assert(Extractor.removeAccents("  Ävö  ") == "avo")
    assert(Extractor.removeAccents("Łukasz") == "lukasz") // Ł not in table: lowercase ł is
    assert(Extractor.removeAccents("ŻYWIEC") == "zywiec") // ż via lowercase
  }

  test("tokenize_text keeps punct delimiters, drops whitespace") {
    assert(Extractor.tokenizeText("Smith, John (Bob)") ==
      Vector("Smith", ",", "John", "(", "Bob", ")"))
    assert(Extractor.tokenizeText("a\u00a0b") == Vector("a", "b")) // nbsp is \s in python
    assert(Extractor.tokenizeText("") == Vector())
    assert(Extractor.tokenizeText("x-y") == Vector("x", "-", "y"))
    assert(Extractor.tokenizeText("semi;colon") == Vector("semi", ";", "colon"))
  }

  test("is_title is a prefix match (reference quirk)") {
    assert(Extractor.isTitle("Dresden")) // 'dr' prefix
    assert(Extractor.isTitle("Professor"))
    assert(Extractor.isTitle("MRS.SMITH"))
    assert(!Extractor.isTitle("Ph"))
    assert(Extractor.isTitle("Ph.D."))
    assert(!Extractor.isTitle("Xyz"))
  }

  test("is_email / is_url are prefix-anchored") {
    assert(Extractor.isEmail("a@b.c,trailing"))
    assert(!Extractor.isEmail("a@b"))
    assert(Extractor.isUrl("https://x.org)garbage"))
    assert(!Extractor.isUrl("ftp://x.org"))
  }

  test("python round is banker's rounding") {
    assert(Py.round(0.5) == 0L)
    assert(Py.round(1.5) == 2L)
    assert(Py.round(2.5) == 2L)
    assert(Py.round(math.log(math.exp(2.5))) == 2L)
  }

  test("python whitespace set") {
    assert(Py.isSpace(' '))
    assert(Py.isSpace(' '))
    assert(Py.isSpace(''))
    assert(!Py.isSpace('\u200b'))
    assert(Py.strip(" x ") == "x")
    // the ASCII fast path must agree with the category formulation over
    // the whole BMP
    def ref(c: Char): Boolean =
      (c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r' ||
       (c >= '\u001C' && c <= '\u001F') || c == '\u0085') || {
        val t = Character.getType(c)
        t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
        t == Character.PARAGRAPH_SEPARATOR
      }
    var cc = 0
    while (cc <= 0xFFFF) {
      assert(Py.isSpace(cc.toChar) == ref(cc.toChar), f"isSpace mismatch at U+$cc%04X")
      cc += 1
    }
  }

  test("python isdigit includes superscripts") {
    assert(Py.anyDigit("x\u00b2"))
    assert(Py.anyDigit("a1"))
    assert(!Py.anyDigit("\u00bd")) // numeric but not digit
    assert(!Py.anyDigit("abc"))
  }

  test("html.unescape semantics (attribute values)") {
    assert(Entities.unescape("a &amp; b") == "a & b")
    assert(Entities.unescape("&copy 2020") == "\u00a9 2020") // legacy no-semicolon
    assert(Entities.unescape("&#151;") == "\u2014") // cp1252 remap
    assert(Entities.unescape("&notit;") == "\u00acit;") // longest-prefix rule
    assert(Entities.unescape("&bogusentity;") == "&bogusentity;")
    assert(Entities.unescape("&#x1F600;") == new String(Character.toChars(0x1F600)))
  }

  test("old-bs4 entity mode: HTML4 table, passthrough on miss") {
    def text(html: String): String = {
      val sents = Extractor.tokenize(html)
      sents.flatten.map(_.tkn).mkString(" ")
    }
    assert(text("<p>A &amp; B</p>") == "A & B")
    assert(text("<p>FACULTY &AMP; STAFF</p>") == "FACULTY &AMP STAFF")
    assert(text("<p>x &#151; y</p>") == "x \u2014 y")
    assert(text("<p>caf&eacute;</p>") == "caf\u00e9")
  }

  test("old-bs4 _popToTag: an unmatched end tag pops to the root") {
    val soup = Bs4TreeBuilder.parse("<div><p>a</span>b</p></div>")
    val b = soup.descendants.collect {
      case t: TextNode if t.value == "b" => t
    }.toSeq
    assert(b.map(_.parent.name) == Seq("[document]"))
  }

  test("old-bs4 class split: \\s+ keeps leading and trailing empties") {
    val soup = Bs4TreeBuilder.parse("<p class=\" a  b \">x</p>")
    val p = soup.descendants.collect { case t: Tag => t }.toSeq
    assert(p.map(_.attrs("class")) == Seq(LVal(Vector("", "a", "b", ""))))
  }
}
