package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Per-page OCR result structure + confidence aggregation — the Spark
  * re-expression of the reference's page loop
  * (/root/reference/openfoia/pipeline/ocr.py:84-109): every page carries
  * {page_number, text, confidence, word_count}; the document aggregates
  * page_count, mean confidence, and total words. VERDICT.md "What's
  * missing" #2.
  *
  * The sandbox has no rasterizer/OCR engine, so pages are deterministic
  * fixed-width slices of the document text (PageChars chars per page — the
  * paginate analog of MediaOps' fabricate-from-documents pattern) and a
  * page's "OCR confidence" is the fraction of its characters that are
  * lowercase-alphabetic or space — clean print scores high, dense
  * punctuation/digit noise scores low, exactly the monotonicity the real
  * tesseract confidence has. Everything is a column expression, so the
  * DuckDB oracle replays it verbatim.
  *
  * ConfidenceLevel bucketing (reference models.py:95-99 — the enum defines
  * confirmed/probable/possible/unresolved; the numeric cut points are not
  * pinned by the reference, so we document ours): ≥0.9 confirmed,
  * ≥0.7 probable, ≥0.4 possible, else unresolved.
  *
  * Scale: paginate is explode(sequence) — a generator, no shuffle; the
  * per-doc rollup is one hash aggregation on doc_id.
  */
object OcrOps {

  val PageChars = 300

  def confidenceLevel(conf: Column): Column =
    when(conf >= 0.9, "confirmed")
      .when(conf >= 0.7, "probable")
      .when(conf >= 0.4, "possible")
      .otherwise("unresolved")

  /** One row per page: (doc_id, page_number, text, confidence, word_count)
    * — the ocr.py:88-93 page dict as columns. */
  def pages(docs: DataFrame): DataFrame = {
    val nPages = ceil(length(col("text")).cast("double") / PageChars).cast("int")
    val pageText = substring(col("text"), (col("page_number") - 1) * PageChars + 1, lit(PageChars))
    docs
      .where(length(col("text")) > 0)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        explode(sequence(lit(1), nPages)).as("page_number"))
      .select(col("doc_id"), col("page_number").cast("long").as("page_number"),
        pageText.as("page_text"))
      .select(col("doc_id"), col("page_number"), col("page_text").as("text"),
        (size(regexp_extract_all(col("page_text"), lit("[a-z ]"), lit(0))).cast("double") /
          length(col("page_text"))).as("confidence"),
        Text.wordCount(col("page_text")).cast("long").as("word_count"))
  }

  /** Per-document OCRResult face (ocr.py:98-109): page_count, mean page
    * confidence (floor-based half-up 4dp — identical IEEE ops in Spark and
    * DuckDB), total words, and the ConfidenceLevel bucket. */
  def docConfidence(docs: DataFrame): DataFrame = {
    pages(docs)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("page_count"),
        Text.halfUp(avg(col("confidence")), 4).as("avg_confidence"),
        sum(col("word_count")).cast("long").as("total_words"))
      .withColumn("confidence_level", confidenceLevel(col("avg_confidence")))
  }
}
