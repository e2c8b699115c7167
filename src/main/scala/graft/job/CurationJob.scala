package graft.job

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TableIO
import graft.functions.Text

/** End-to-end training-data curation funnel — the composition the engine
  * exists for: extraction output → document text → quality gate → exact
  * dedup → curated table. Every stage is one of the already-verified
  * operators; this job wires them into the standard pre-training shape
  * (extract → filter → dedup) with a funnel report.
  *
  * Scale shape: stage 1-2 are narrow (no shuffle); the quality gate is a
  * pushed filter; dedup is one hash-groupBy shuffle on md5(text); the write
  * is the only other wide op. Per-stage counts come from one pass each over
  * cached-free lazy plans (counts are cheap relative to extraction and keep
  * the job restart-safe — no shared state).
  */
object CurationJob {

  final case class Funnel(
      docsIn: Long,
      extracted: Long,
      qualityPass: Long,
      curated: Long)

  /** Quality thresholds (standard pre-training filters, SURVEY §2.11 T10). */
  val MinWords = 8
  val MaxStopwordRatio = 0.9
  val MinAvgWordLen = 2.0

  /** Document text = the extracted `text` spans joined with single spaces
    * (media/redaction/entity spans carry no trainable text). */
  def docText(spans: DataFrame): DataFrame =
    spans.select(col("doc_id"),
      array_join(transform(
        filter(col("spans"), s => s.getField("kind") === "text"),
        s => s.getField("text")), " ").as("text"))

  /** The quality predicate as a Column — shared by the gate filter and the
    * single-pass funnel aggregation so both can never drift apart. */
  def qualityCond: org.apache.spark.sql.Column = {
    val words = Text.wordCount(col("text")).cast("double")
    val stops = Text.stopwordCount(col("text")).cast("double")
    val nChars = length(col("text")).cast("double")
    words >= MinWords &&
      (stops / words) <= MaxStopwordRatio &&
      ((nChars - (words - lit(1))) / words) >= MinAvgWordLen
  }

  def qualityGate(docs: DataFrame): DataFrame = docs.where(qualityCond)

  /** Funnel counts in ONE scan: conditional aggregation instead of one
    * recompute of the upstream pipeline per stage (round 1 ran the
    * extraction three times for three counts — at 100 TB that is three full
    * passes). curated = distinct content hashes among quality survivors;
    * copies_sum = survivors (every survivor is some hash's copy). */
  def funnelCounts(texts: DataFrame): DataFrame =
    texts.agg(
      count(lit(1)).as("docs_in"),
      sum(when(qualityCond, 1L).otherwise(0L)).as("quality_pass"),
      countDistinct(when(qualityCond, md5(col("text")))).as("curated"),
      sum(when(qualityCond, 1L).otherwise(0L)).as("copies_sum"))

  /** Exact dedup: keep the lexicographically smallest doc_id per content
    * hash (deterministic survivor). */
  def dedup(docs: DataFrame): DataFrame =
    docs.withColumn("h", md5(col("text")))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"),
        count(lit(1)).as("copies"))
      .select(col("doc_id"), col("text"), col("copies"))

  /** Full funnel over an extraction output (ExtractJob.run result dir).
    * Stage counts come from ONE conditional-aggregation read of the
    * extraction table (round 1 re-read it once per stage) plus a count of
    * the just-written curated output (reading the small result, not
    * recomputing the pipeline). */
  def run(spark: SparkSession, extractedPath: String, outputPath: String): Funnel = {
    val spans = ExtractJob.readSpans(spark, extractedPath).toDF()
    val texts = docText(spans)
    val curated = dedup(qualityGate(texts))
    TableIO.write(curated, s"$outputPath/curated")
    val counts = texts.agg(
      count(lit(1)),
      sum(when(length(col("text")) > 0, 1L).otherwise(0L)),
      sum(when(qualityCond, 1L).otherwise(0L))).head()
    Funnel(
      docsIn = counts.getLong(0),
      extracted = counts.getLong(1),
      qualityPass = counts.getLong(2),
      curated = TableIO.read(spark, s"$outputPath/curated").count())
  }
}
