package graft.corpus

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.spark.Page

/** Seeded synthetic faculty-directory corpus (FIXTURES.md §8): pages are
  * generated ON THE EXECUTORS from the row id (spark.range ->
  * mapPartitions), so corpus size scales without any driver-side data.
  * Target names are a pure function of the url, so the labeling path
  * needs no broadcast map at any scale.
  *
  * Each page lists 25 names; the hot alias appears on every 5th page
  * (~20% of pages mention the same entity).
  */
object SyntheticCorpus {

  val FirstNames: Vector[String] = Vector(
    "Alice", "Bob", "Carol", "David", "Elena", "Frank", "Grace", "Hugo",
    "Irene", "James", "Karin", "Luis", "Maria", "Nikos", "Olga", "Pedro",
    "Qing", "Rosa", "Stefan", "Tara", "Ulrich", "Vera", "Wei", "Ximena",
    "Yuki", "Zoltan", "Anders", "Beatriz", "Chen", "Dmitri", "Eva",
    "François", "Gül", "Håkon", "Inés", "Jürgen", "Kateřina", "László",
    "Miyuki", "Niamh")

  val LastNames: Vector[String] = Vector(
    "Anderson", "Brown", "Chen", "Dubois", "Eriksson", "Fischer", "García",
    "Hernández", "Ivanov", "Johnson", "Kim", "López", "Müller", "Nguyen",
    "O'Brien", "Pérez", "Quint", "Rossi", "Schmidt", "Takahashi", "Ueda",
    "Vargas", "Wang", "Xu", "Yamamoto", "Zhang", "Åberg", "Björk",
    "Čapek", "Dvořák", "Eğe", "Frömel", "Gómez", "Hansen", "Işık",
    "Jansen", "Kowalski", "Løkken", "Martínez", "Novák")

  val HotAlias = "Wei Wang"
  private val NamesPerPage = 25
  private val HotEvery = 5

  val Titles: Vector[String] = Vector(
    "Professor", "Dr.", "Prof.", "Mr.", "Mrs.", "Lecturer")

  val Depts: Vector[String] = Vector(
    "Computer Science", "Mathematics", "Physics", "Electrical Engineering",
    "Statistics", "Data Science")

  /** splitmix64 — deterministic per-key randomness. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def urlOf(id: Long): String = s"https://synth.example/faculty/$id"

  def idOfUrl(url: String): Long =
    url.substring(url.lastIndexOf('/') + 1).toLong

  /** Deterministic member names of one page. */
  def namesOf(id: Long, seed: Long): Seq[String] = {
    val base = mix(seed ^ (id * 0x9e3779b97f4a7c15L))
    val names = (0 until NamesPerPage).map { i =>
      val h = mix(base + i)
      val f = FirstNames(((h >>> 8) % FirstNames.length).toInt.abs)
      val l = LastNames(((h >>> 24) % LastNames.length).toInt.abs)
      s"$f $l"
    }
    if (id % HotEvery == 0) names :+ HotAlias else names
  }

  /** One page's HTML: a head block, nav list, and a faculty table with
    * titles, emails, and occasional inline markup — enough structure to
    * exercise the DOM parser, block segmentation, and context features.
    */
  def htmlOf(id: Long, seed: Long): String = {
    val names = namesOf(id, seed)
    val h = mix(seed ^ id)
    val dept = Depts((h % Depts.length).toInt.abs)
    val sb = new StringBuilder
    sb.append("<html><head><title>").append(dept)
      .append(" Faculty Directory</title></head>\n<body>\n")
    sb.append("<div class=\"nav\"><ul><li><a href=\"/\">Home</a></li>")
      .append("<li><a href=\"/research\">Research</a></li></ul></div>\n")
    sb.append(s"""<div class="content"><h1>Department of $dept</h1>\n""")
    sb.append("<table class=\"faculty\">\n")
    names.zipWithIndex.foreach { case (name, i) =>
      val hh = mix(h + i)
      val title = Titles((hh % Titles.length).toInt.abs)
      val user = name.toLowerCase.replace(' ', '.').replaceAll("[^a-z.]", "")
      sb.append(s"""<tr class="row$i"><td><strong>$title</strong> """)
      sb.append(s"""<a href="/people/$i">$name</a></td>""")
      sb.append(s"""<td>$user@synth.example</td>""")
      sb.append(s"""<td>Office ${(hh >>> 16) % 400}</td></tr>\n""")
    }
    sb.append("</table>\n")
    sb.append(s"""<p>The Department of $dept hosts ${names.length} """)
      .append("""faculty members. Contact us for more information.<br>""")
      .append("""Visit the <a href="/admissions">admissions page</a>.</p>""")
    sb.append("\n</div></body></html>\n")
    sb.toString
  }

  /** Distributed page generation. */
  def pages(spark: SparkSession, n: Long, seed: Long = 42L,
      numPartitions: Int = 0): Dataset[Page] = {
    import spark.implicits._
    val parts = if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism * 4
    spark.range(0L, n, 1L, parts).mapPartitions(_.map { id =>
      Page(
        url = urlOf(id),
        warc_ts = new Timestamp(1700000000000L + id * 1000L),
        html = htmlOf(id, seed)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8),
        text = null,
        lang = "en")
    })
  }

  /** The label provider for the synthetic corpus: pure function of the
    * url (reference CLI tokenization applied, like RefCorpus).
    */
  def targetNamesFn(seed: Long = 42L): String => Seq[String] = { url =>
    namesOf(idOfUrl(url), seed)
      .map(graft.extract.Extractor.normalizeTargetName)
  }
}
