package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.Doc
import graft.kernel.Extractor

/** Structured Streaming face of the extraction engine (SURVEY.md §2.10).
  *
  * The reference is batch-only; this is the "door kept open" by the typed
  * kernel design: the SAME pure `Doc => Doc` kernel runs under
  * `readStream → mapPartitions → writeStream`, so a doc the kernel extracts
  * gives the same spans in both. The outputs are not identical for every
  * input: `ExtractJob` quarantines oversize docs and docs whose extraction
  * throws (its tag=2 output), while [[extract]] runs the bare kernel, so
  * here an oversize doc is extracted and a throwing doc fails the
  * micro-batch. Exactly-once is delegated to the streaming checkpoint
  * (file-source offsets + idempotent parquet sink) — the streaming twin of
  * ExtractJob's manifest-based resume.
  *
  * Scale notes: the stream stays narrow end-to-end (no shuffle) — per
  * micro-batch cost is the kernel itself; watermarked windowed aggregation
  * (spanRates) is the only stateful op and its state is bounded by
  * (watermark horizon × distinct kinds).
  */
object StreamExtract {

  /** The kernel over any Dataset[Doc] — batch or streaming; identical plan
    * shape either way. */
  def extract(docs: Dataset[Doc]): Dataset[Doc] = {
    implicit val enc = docs.encoder
    docs.mapPartitions(_.map(Extractor.extractDoc))
  }

  /** Continuous extraction over a directory of parquet doc files:
    * each new file is one micro-batch unit; AvailableNow drains what exists
    * and stops (the batch-resume analog); checkpointed offsets make
    * restarts exactly-once. */
  def run(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery = {
    import spark.implicits._
    // the file source reads every field as nullable (its default
    // `fileSource.schema.forceNullable`), as the batch job's read does
    val in = spark.readStream
      .schema(Doc.schema)
      .option("maxFilesPerTrigger", "16")
      .parquet(inputDir)
      .as[Doc]
    val writer = extract(in).writeStream
      .format("parquet")
      .option("path", outputDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Watermarked windowed aggregation: spans/sec by output kind over an
    * event-timestamped extraction stream. Late rows beyond the watermark
    * are dropped; windows emit once closed (append mode). */
  def spanRates(
      extracted: DataFrame, // (event_time: timestamp, kind: string)
      watermark: String = "10 seconds",
      window_ : String = "1 minute"): DataFrame =
    extracted
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_), col("kind"))
      .agg(count(lit(1)).as("n_spans"))
      .select(col("window.start").as("win_start"), col("kind"), col("n_spans"))
}
