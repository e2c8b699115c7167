package graft.core

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.StructType

/** Core data model for the extraction engine.
  *
  * Mirrors the `input_hint` shape from BASELINE.json exactly:
  * `(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)`.
  *
  * Reference semantics: a Document row plus its per-page/per-entity span
  * list (see /root/reference/openfoia/models.py:244-306 and
  * /root/reference/openfoia/pipeline/extract.py:13-23 for the shapes this
  * generalizes).
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

final case class Doc(doc_id: String, spans: Seq[Span])

object Doc {
  /** The input_hint schema; lazy, so a kernel's `Doc(...)` skips it. */
  lazy val schema: StructType = Encoders.product[Doc].schema
}

/** Per-partition lineage row (SURVEY.md §2 A9, §4.3).
  * checksum is an order-insensitive fold (XOR of per-doc digest prefixes) so
  * it is invariant to row order within a partition and safe under task retry
  * (the partition's output is recomputed deterministically as a whole).
  */
final case class LineageRow(
    run_id: String,
    partition_id: Int,
    docs_in: Long,
    docs_out: Long,
    checksum: String)

/** Input span kinds emitted by the deterministic generator (FIXTURES.md §1). */
object InKind {
  val HtmlBlock = "html_block"
  val HtmlBoiler = "html_boiler"
  val HtmlLink = "html_link"
  val PdfBlock = "pdf_block"
  val Media = "media"
  val Redaction = "redaction"
}

/** Output span kinds (FIXTURES.md §2). */
object OutKind {
  val Text = "text"
  val Media = "media"
  val Redaction = "redaction"
  /** Entity spans are emitted as `entity:<TYPE>`, e.g. `entity:PERSON`. */
  def entity(tpe: String): String = s"entity:$tpe"
}
