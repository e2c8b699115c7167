package graft.sources

import java.nio.charset.StandardCharsets
import java.util.Base64

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Email-attachment ingest — the Spark re-expression of the reference's
  * `ingest_email_attachment` (/root/reference/openfoia/pipeline/ingest.py:151-186):
  * walk the MIME parts of a message, skip multipart containers and parts
  * without a Content-Disposition header (exactly the reference's two skips),
  * decode each surviving payload, and emit one attachment row per part.
  * SURVEY.md §2 S3 — the round-1 gap called out in VERDICT.md "What's
  * missing" #1.
  *
  * The sandbox has no mailbox source, so `buildMessage` deterministically
  * renders each `documents` row as an RFC2822-style multipart message
  * (the same fabricate-from-documents pattern MediaOps uses for binary
  * payloads): a text/plain body part with NO disposition (the reference
  * skips those) plus `doc_id % 3 + 1` base64 attachments whose payloads are
  * fixed slices of the text. `walkParts` then genuinely parses that string
  * back — boundary split, header scan, disposition filter, base64 decode —
  * so the oracle's arithmetic face catches any parse defect.
  *
  * Scale: one narrow flatMap per message, no shuffle; attachment payloads
  * never leave the task that parsed them except as (size, kind) facts.
  */
object MailIngest {

  final case class Attachment(
      msg_id: Long,
      att_index: Int,
      filename: String,
      mime: String,
      n_bytes: Long)

  private val Exts = Array(("application/pdf", "pdf"), ("image/png", "png"), ("text/plain", "txt"))

  private def boundary(msgId: Long) = s"=_graft_${msgId}_="

  /** Attachment payload i of a message = chars [i*11, i*11+50) of the text
    * (clipped) — mirrored by the DuckDB oracle as substr(text, i*11+1, 50). */
  private def slice(text: String, i: Int): String = {
    val from = math.min(text.length, i * 11)
    text.substring(from, math.min(text.length, from + 50))
  }

  /** Deterministic multipart message for one documents row. */
  def buildMessage(msgId: Long, text: String): String = {
    val b = boundary(msgId)
    val sb = new StringBuilder
    sb ++= s"Subject: doc $msgId\r\nFrom: records@agency.example\r\n"
    sb ++= s"Content-Type: multipart/mixed; boundary=\"$b\"\r\n\r\n"
    // body part: no Content-Disposition → the reference's walk skips it
    sb ++= s"--$b\r\nContent-Type: text/plain; charset=utf-8\r\n\r\n$text\r\n"
    val nAtts = (math.floorMod(msgId, 3L) + 1).toInt
    (0 until nAtts).foreach { i =>
      val (mime, ext) = Exts(math.floorMod(msgId + i, 3L).toInt)
      val payload = Base64.getEncoder.encodeToString(
        slice(text, i).getBytes(StandardCharsets.UTF_8))
      sb ++= s"--$b\r\nContent-Type: $mime\r\n"
      sb ++= s"Content-Disposition: attachment; filename=\"att_$i.$ext\"\r\n"
      sb ++= s"Content-Transfer-Encoding: base64\r\n\r\n$payload\r\n"
    }
    sb ++= s"--$b--\r\n"
    sb.result()
  }

  /** MIME-part walk (ingest.py:160-170): split on the boundary, read each
    * part's headers, skip multipart containers and disposition-less parts,
    * decode the payload. Pure function — runs inside a typed flatMap. */
  def walkParts(msgId: Long, raw: String): Seq[Attachment] = {
    val b = "--" + boundary(msgId)
    raw.split(java.util.regex.Pattern.quote(b), -1).toIndexedSeq
      .drop(1) // preamble/headers before the first boundary
      .filterNot(p => p.startsWith("--")) // closing delimiter
      .flatMap { part =>
        val sections = part.replace("\r\n", "\n").stripPrefix("\n").split("\n\n", 2)
        val headers = sections(0).split("\n").iterator
          .flatMap { h =>
            h.split(":", 2) match {
              case Array(k, v) => Some(k.trim.toLowerCase -> v.trim)
              case _ => None
            }
          }.toMap
        val mime = headers.getOrElse("content-type", "text/plain").split(";")(0).trim
        val disposition = headers.get("content-disposition")
        if (mime.startsWith("multipart/") || disposition.isEmpty) None // ingest.py:163-166
        else {
          val body = if (sections.length > 1) sections(1).trim else ""
          val bytes =
            if (headers.get("content-transfer-encoding").contains("base64"))
              Base64.getDecoder.decode(body)
            else body.getBytes(StandardCharsets.UTF_8)
          val filename = disposition.get.split("filename=\"", 2) match {
            case Array(_, rest) => rest.takeWhile(_ != '"')
            case _ => "attachment" // ingest.py:172 fallback naming
          }
          Some(Attachment(msgId, -1, filename, mime, bytes.length.toLong))
        }
      }
      .zipWithIndex.map { case (a, i) => a.copy(att_index = i) }
  }

  /** Full ingest over the documents table: render → parse → attachment rows. */
  def attachments(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    // not TrainingOps.docRows: read unspread (spreading adds an exchange)
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) => walkParts(id, buildMessage(id, text)) }
      .toDF()
  }

  /** Per-message aggregate face for the DuckDB oracle: attachment count and
    * total decoded bytes are pure arithmetic over the source text. */
  def perMessage(spark: SparkSession, docs: DataFrame): DataFrame =
    attachments(spark, docs)
      .groupBy(col("msg_id"))
      .agg(count(lit(1)).as("n_attachments"), sum(col("n_bytes")).cast("long").as("att_bytes"))
}
