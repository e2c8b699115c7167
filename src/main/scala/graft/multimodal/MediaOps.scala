package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Multimodal columns: image/audio/video as opaque `binary` columns with
  * typed metadata, plus the decode / feature-extract / resize / frame-sample
  * stages a training-data pipeline runs over them.
  *
  * Spark-side plumbing (schema, batch shape, partitioning, typed
  * mapPartitions over Encoders — the Scala analog of `mapInPandas` batches)
  * is REAL and tested. The pixel/sample DECODE itself is a clearly-marked
  * deterministic fake (`FakeCodec`): the sandbox has no image/audio
  * libraries, so the "codec" derives metadata and features purely from the
  * bytes, which keeps every downstream stage testable and oracle-able.
  *
  * Reference analog: binary ingest of email attachments / scanned documents
  * (/root/reference/openfoia/pipeline/ingest.py:100-149) and the dark-pixel
  * redaction heuristic over rasterized pages
  * (/root/reference/openfoia/pipeline/ocr.py:288-319), which we model as a
  * byte-statistic heuristic over the binary payload.
  *
  * Scale notes: every stage here is a narrow map over the media table —
  * no shuffle at all; feature vectors feed the ANN ops (TrainingOps) whose
  * only shuffle is the bucket join. At 100 TB the binary column dominates
  * I/O, so stages `select` only (media_id, content-or-meta) — column
  * pruning reaches the parquet scan.
  */
object MediaOps {

  /** One media row: binary payload + declared kind. */
  final case class MediaRow(media_id: Long, doc_id: String, kind: String, content: Array[Byte])

  final case class MediaMeta(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      width: Int,       // images/video; 0 otherwise
      height: Int,
      duration_ms: Long, // audio/video; 0 otherwise
      sample_rate: Int,  // audio; 0 otherwise
      dark_ratio: Double // ocr.py:288-319 analog: fraction of "dark" bytes
  )

  /** The deterministic fake codec. A real deployment swaps this one object
    * for javax.imageio / ffmpeg bindings — every Spark stage is unchanged.
    * All fields are pure functions of the payload bytes. */
  object FakeCodec {
    def decode(kind: String, bytes: Array[Byte]): (Int, Int, Long, Int) = {
      // ??? <- real codec goes here; deterministic fake below.
      val n = bytes.length
      val h8 = if (n == 0) 0L else bytes.take(16).foldLeft(1469598103934665603L)((a, b) => (a ^ (b & 0xff)) * 1099511628211L)
      kind match {
        case "image" => ((math.abs(h8 % 1920) + 64).toInt, (math.abs(h8 % 1080) + 64).toInt, 0L, 0)
        case "audio" => (0, 0, n.toLong * 1000L / 16, 16000)
        case "video" => ((math.abs(h8 % 1280) + 64).toInt, (math.abs(h8 % 720) + 64).toInt, n.toLong * 40L, 0)
        case _ => (0, 0, 0L, 0)
      }
    }

    /** ocr.py:288-319 analog: grayscale threshold<30 dark-pixel ratio
      * becomes a dark-byte ratio with threshold<0x30 (so printable-ASCII
      * payloads — the sandbox's only byte source — still produce a signal),
      * rounded half-up to 4 places. */
    def darkRatio(bytes: Array[Byte]): Double =
      if (bytes.isEmpty) 0.0
      else math.round(bytes.count(b => (b & 0xff) < 0x30).toDouble / bytes.length * 10000) / 10000.0

    /** Deterministic fake feature extraction: 16-dim float vector from
      * rolling FNV over byte windows (stands in for a vision encoder). */
    def features(bytes: Array[Byte], dim: Int = 16): Array[Float] = {
      val acc = new Array[Long](dim)
      var i = 0
      while (i < bytes.length) {
        val d = i % dim
        acc(d) = (acc(d) ^ (bytes(i) & 0xffL)) * 0x100000001b3L
        i += 1
      }
      acc.map(v => ((v >>> 16) % 2000L - 1000L).toFloat / 1000f)
    }
  }

  /** Synthesize the media table from the `documents` table: the text bytes
    * become the opaque payload (encode = the only "real" byte source in the
    * sandbox), kind assigned round-robin by doc_id. Deterministic, so DuckDB
    * can rebuild the identical table with encode(). */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").cast("long").as("media_id"),
      concat(lit("d"), col("doc_id")).as("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id").cast("long"), lit(3)) + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("content"))

  /** Decode stage: typed mapPartitions over MediaRow batches (mapInPandas
    * analog — the iterator IS the batch stream; no per-row lambda dispatch,
    * codec state amortized per partition). */
  def decodeMeta(spark: SparkSession, media: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    media.select(col("media_id"), col("doc_id"), col("kind"), col("content"))
      .as[MediaRow]
      .mapPartitions { it =>
        it.map { m =>
          val bytes = if (m.content == null) Array.empty[Byte] else m.content
          val (w, h, dur, sr) = FakeCodec.decode(m.kind, bytes)
          MediaMeta(m.media_id, m.kind, bytes.length.toLong, w, h, dur, sr,
            FakeCodec.darkRatio(bytes))
        }
      }
  }

  /** Resize planning stage: pure arithmetic on decoded metadata (the real
    * pixel resample would live in FakeCodec.decode's replacement). Emits the
    * target geometry for a max-edge bound, preserving aspect ratio. */
  def resizePlan(spark: SparkSession, media: DataFrame, maxEdge: Int = 512): DataFrame = {
    import spark.implicits._
    decodeMeta(spark, media)
      .filter(m => m.kind == "image" || m.kind == "video")
      .map { m =>
        val scale = math.min(1.0, maxEdge.toDouble / math.max(m.width, m.height))
        (m.media_id, m.kind, m.width, m.height,
          math.max(1, math.round(m.width * scale).toInt),
          math.max(1, math.round(m.height * scale).toInt))
      }
      .toDF("media_id", "kind", "width", "height", "out_w", "out_h")
  }

  /** Frame sampling: one row per sampled frame (every `everyMs`), exploded
    * from video duration — generator-shaped op done with explode/sequence,
    * never a custom Generator. */
  def frameSample(spark: SparkSession, media: DataFrame, everyMs: Long = 1000L): DataFrame = {
    import spark.implicits._
    decodeMeta(spark, media)
      .filter(_.kind == "video")
      .map(m => (m.media_id, m.duration_ms))
      .toDF("media_id", "duration_ms")
      // zero-byte payload ⇒ duration_ms = 0 ⇒ sequence(0, -1) would throw
      // "illegal sequence boundaries" at runtime; empty media has no frames
      .where(col("duration_ms") > 0)
      .select(col("media_id"), col("duration_ms"),
        explode(sequence(lit(0L), (col("duration_ms") - 1).cast("long"), lit(everyMs)))
          .as("frame_ms"))
  }

  /** Feature extraction: binary → Array[Float] embedding (fake codec), the
    * input shape TrainingOps.cosineTopK / annLshTopK consume. */
  def featureExtract(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("doc_id"), col("kind"), col("content"))
      .as[MediaRow]
      .mapPartitions(_.map(m => (m.media_id,
        FakeCodec.features(if (m.content == null) Array.empty[Byte] else m.content))))
      .toDF("media_id", "embedding")
  }

  /** Metadata summary per kind — the oracle-able face of the decode stage. */
  def metaSummary(spark: SparkSession, media: DataFrame): DataFrame =
    decodeMeta(spark, media).toDF()
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("n_bytes")).cast("long").as("total_bytes"),
        Text.halfUp(avg(col("dark_ratio")), 4).as("avg_dark_ratio"))
}
