package graft.spark

import java.sql.Timestamp

/** Engine data model (SURVEY.md §1.2, FIXTURES.md).
  *
  * `pages` is the north-rule input shape; `SentenceRow` is the kernel's
  * native unit (the extract kernel emits whole sentences, so downstream
  * tagging never needs a (url, sent_id) shuffle); `TokenRow` is the
  * exploded relational view used by fit-time aggregations and golden
  * tests.
  */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** One sentence with per-token parallel arrays; feats(i) is the 13-slot
  * feature-string vector of token i (reference CoNLL cols 3-15).
  */
final case class SentenceRow(
    url: String,
    warc_ts: Timestamp,
    lang: String,
    sent_id: Int,
    tkns: Seq[String],
    feats: Seq[Seq[String]],
    bio: Seq[String])

final case class TokenRow(
    url: String,
    sent_id: Int,
    tok_id: Int,
    tkn: String,
    bio: String,
    unaccented: String,
    exact: String,
    partial: String,
    name_log: String,
    word_log: String,
    email: String,
    number: String,
    title: String,
    url_f: String,
    capitalized: String,
    punct: String,
    html_ctx: String,
    css_class: String)

final case class Mention(
    url: String,
    warc_ts: Timestamp,
    lang: String,
    sent_id: Int,
    start: Int,
    end: Int,
    name: String,
    confidence: Double)

final case class Triple(
    subj: String,
    pred: String,
    obj: String,
    url: String,
    warc_ts: Timestamp,
    confidence: Double)
