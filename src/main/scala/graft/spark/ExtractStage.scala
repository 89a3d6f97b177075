package graft.spark

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.LongAccumulator
import graft.extract.{Extractor, Gazetteers, Py}

/** pages → sentences/tokens extraction stage.
  *
  * Narrow (`mapPartitions`) over the pages scan: the kernel parses each
  * page's HTML with the parity DOM, emits whole sentences, and never
  * shuffles. Labels (target names) and gazetteers ride in as broadcast
  * maps — the relational equivalent is a broadcast join (SURVEY.md §2.3
  * J1-J3).
  *
  * Scale guards: pages larger than [[MaxHtmlBytes]] are skipped (counted
  * in the skipped accumulator + lineage); the DOM is bounded per page and
  * freed between pages.
  */
object ExtractStage {

  /** Largest page, in bytes, the kernel parses. */
  val MaxHtmlBytes: Int = 8 * 1024 * 1024

  /** `annotateGazetteer` runs the gazetteer flags on pages that carry no
    * target names (labels gate them otherwise, as in the reference).
    */
  def sentences(
      spark: SparkSession,
      pages: Dataset[Page],
      targetNames: Option[Broadcast[Map[String, Seq[String]]]] = None,
      gaz: Option[Broadcast[Gazetteers]] = None,
      targetNamesFn: Option[String => Seq[String]] = None,
      annotateGazetteer: Boolean = false,
      skipped: Option[LongAccumulator] = None,
      inputPages: Option[LongAccumulator] = None): Dataset[SentenceRow] = {
    import spark.implicits._
    pages.mapPartitions { it =>
      val emptyGaz = Gazetteers()
      it.flatMap { p =>
        inputPages.foreach(_.add(1))
        if (p.html == null || p.html.length > MaxHtmlBytes) {
          skipped.foreach(_.add(1))
          Iterator.empty
        } else {
          val html = Py.universalNewlines(
            new String(p.html, StandardCharsets.UTF_8))
          val names = targetNames.map(_.value.getOrElse(p.url, Nil))
            .orElse(targetNamesFn.map(_(p.url))).getOrElse(Nil)
          val g = gaz.map(_.value).getOrElse(emptyGaz)
          try {
            val sents = Extractor.tokenize(html, names, g, annotateGazetteer)
            sents.iterator.zipWithIndex.map { case (s, si) =>
              SentenceRow(
                url = p.url, warc_ts = p.warc_ts, lang = p.lang, sent_id = si,
                tkns = s.map(_.tkn),
                feats = s.map(_.features.toSeq),
                bio = s.map(_.bio))
            }
          } catch {
            case _: Throwable =>
              skipped.foreach(_.add(1))
              Iterator.empty
          }
        }
      }
    }
  }

  /** Exploded relational token view (narrow; Catalyst prunes columns). */
  def tokens(spark: SparkSession, sents: Dataset[SentenceRow]): Dataset[TokenRow] = {
    import spark.implicits._
    sents.flatMap { s =>
      s.tkns.indices.iterator.map { i =>
        val f = s.feats(i)
        TokenRow(s.url, s.sent_id, i, s.tkns(i), s.bio(i),
          f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7), f(8), f(9), f(10),
          f(11), f(12))
      }
    }
  }
}
