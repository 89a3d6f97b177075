package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.extract.{Extractor, Py}

/** SQL surface for the extraction kernel (SURVEY §2.9): a Catalyst
  * `Generator` (UDTF) so plain SQL can explode a page into its token
  * stream:
  *
  *   SELECT url, t.* FROM pages
  *   LATERAL VIEW extract_tokens(html) t AS sent_id, tok_id, tkn,
  *     unaccented, html_ctx, css_class
  *
  * One page row generates many token rows without leaving Catalyst;
  * the DOM never escapes the expression.
  */
case class ExtractTokens(child: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child)

  override def elementSchema: StructType = StructType(Seq(
    StructField("sent_id", IntegerType, nullable = false),
    StructField("tok_id", IntegerType, nullable = false),
    StructField("tkn", StringType, nullable = false),
    StructField("unaccented", StringType, nullable = false),
    StructField("html_ctx", StringType, nullable = false),
    StructField("css_class", StringType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null) return Iterator.empty
    val html = raw match {
      case b: Array[Byte] => Py.universalNewlines(
        new String(b, java.nio.charset.StandardCharsets.UTF_8))
      case s: UTF8String => Py.universalNewlines(s.toString)
      case other => Py.universalNewlines(other.toString)
    }
    try {
      val sents = Extractor.tokenize(html)
      sents.iterator.zipWithIndex.flatMap { case (sent, si) =>
        sent.iterator.zipWithIndex.map { case (t, ti) =>
          InternalRow(si, ti,
            UTF8String.fromString(t.tkn),
            UTF8String.fromString(t.features(0)),
            UTF8String.fromString(t.features(11)),
            UTF8String.fromString(t.features(12)))
        }
      }
    } catch { case _: Throwable => Iterator.empty }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExtractTokens =
    copy(child = newChildren.head)
}
