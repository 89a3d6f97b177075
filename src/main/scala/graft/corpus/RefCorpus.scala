package graft.corpus

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.spark.Page
import graft.extract.{Extractor, Py}

/** The reference corpus as a `pages` table (test fixture): 145 rows from
  * `/root/reference/data/html/NNN.html` + `urls.txt` (line N ↔ doc N).
  * warc_ts is deterministic from the doc id; text is left null (the
  * engine recomputes extraction from html).
  */
object RefCorpus {
  val RefData = "/root/reference/data"

  /** Fails with one clear message when the corpus is missing, before a
    * caller trips over the first absent file.
    */
  def requirePresent(): Unit =
    if (!Files.isDirectory(Paths.get(RefData)))
      throw new IllegalStateException(s"reference corpus absent at $RefData")

  def docIds: Seq[Int] = (1 to 145).filter { id =>
    Files.exists(Paths.get(f"$RefData/html/$id%03d.html"))
  }

  lazy val urls: Map[Int, String] = {
    val lines = new String(
      Files.readAllBytes(Paths.get(s"$RefData/urls.txt")),
      StandardCharsets.UTF_8).split("\n", -1)
    lines.zipWithIndex.collect {
      case (u, i) if u.trim.nonEmpty => (i + 1) -> u.trim
    }.toMap
  }

  def urlOf(id: Int): String = urls.getOrElse(id, s"doc://$id")

  def warcTs(id: Int): Timestamp =
    new Timestamp(1546300800000L + id * 3600L * 1000L) // 2019-01-01 + id hours

  def readHtmlBytes(id: Int): Array[Byte] =
    Files.readAllBytes(Paths.get(f"$RefData/html/$id%03d.html"))

  /** Target names for one doc, reference CLI tokenization. */
  def targetNames(id: Int): Seq[String] = {
    val p = Paths.get(f"$RefData/target_names/target_names_$id%03d.txt")
    if (!Files.exists(p)) return Nil
    val content = Py.universalNewlines(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    content.split("\n", -1)
      .dropRight(if (content.endsWith("\n")) 1 else 0)
      .toSeq
      .map(Extractor.normalizeTargetName)
  }

  /** pages Dataset for a set of doc ids (default: all 145). */
  def pages(spark: SparkSession, ids: Seq[Int] = docIds): Dataset[Page] = {
    import spark.implicits._
    val rows = ids.map { id =>
      Page(urlOf(id), warcTs(id), readHtmlBytes(id), null, "en")
    }
    spark.createDataset(rows)
  }

  /** url -> target names map (for the broadcast labeling join). */
  def targetNameMap(ids: Seq[Int] = docIds): Map[String, Seq[String]] =
    ids.map(id => urlOf(id) -> targetNames(id)).toMap
}
