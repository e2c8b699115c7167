package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.queries.{Blocking, TrainingOps}

/** Streaming face of T41 (`TrainingOps.minhashPairsAgainstStore` /
  * `incrementalAdmit`): a continuous ingest stream is near-dup-checked
  * against the STATIC stored signature table as it arrives — the
  * crawl-frontier posture where "daily batch" shrinks to micro-batches.
  *
  * Two surfaces, matching Structured Streaming's support matrix:
  *
  *  - [[matchesAgainstStore]] — STATELESS stream-static inner equi-join
  *    on (band, bhash). The store side is pre-banded WITH its signature
  *    column attached, so the Jaccard estimate is computed row-locally on
  *    the joined row and no stream-side aggregation/distinct is needed
  *    (append-mode safe, zero state stores). A pair that collides in m
  *    bands is emitted m times — compose `.dropDuplicates` (stateful) or
  *    consume idempotently; the BATCH face's `distinct` is the per-band
  *    multiplicity contract, pinned equal in StreamingSpec.
  *
  *  - [[admitStream]] — the admission decision needs "NO store match",
  *    i.e. an anti join of the stream against a stream-derived set, which
  *    Structured Streaming cannot express statelessly. The production
  *    pattern is `foreachBatch`: each micro-batch runs the exact BATCH
  *    operator against the static store and appends the admitted sliver.
  *    T41 admission is per-doc independent (batch docs are not deduped
  *    against each other), so the union of per-micro-batch admissions
  *    EQUALS the one-shot batch admission — asserted in StreamingSpec.
  *
  * Scale notes: the banded store (16 rows/doc + signature) is the join's
  * build side; at cluster scale it is a static table both faces scan —
  * never re-shingled. Stream-side work is one narrow flatMap per doc
  * (signature + banding), the same per-doc cost as the batch face.
  */
object StreamAdmit {

  /** Static store side: banded signature rows with the signature column
    * attached for row-local verification; hot buckets capped (same
    * audit contract as the batch face). */
  def bandedStore(spark: SparkSession, storeSigs: DataFrame, k: Int = 64,
      bands: Int = 16, maxBucket: Int = 10000): DataFrame =
    Blocking.purge(TrainingOps.bandedSignatures(spark, storeSigs, k, bands),
        Seq("band", "bhash"), maxBucket)
      .join(storeSigs.select(col("doc_id").cast("long").as("doc_id"), col("sig").as("sig_store")),
        Seq("doc_id"))
      .select(col("band"), col("bhash"), col("doc_id").as("doc_store"), col("sig_store"))

  /** Stateless streaming matches: `(doc_new, doc_store, est_jaccard)`
    * with per-band multiplicity (see object doc). `stream` must have
    * `doc_id` and `text`; `store` is [[bandedStore]]'s output (static). */
  def matchesAgainstStore(spark: SparkSession, stream: DataFrame,
      store: DataFrame, k: Int = 64, bands: Int = 16,
      minSim: Double = 0.2): DataFrame = {
    val sigs = TrainingOps.minhashSignatures(spark, stream, k)
    TrainingOps.bandedSignatures(spark, sigs, k, bands)
      .join(sigs.select(col("doc_id"), col("sig").as("sig_new")), Seq("doc_id"))
      .join(store, Seq("band", "bhash"))
      .select(col("doc_id").as("doc_new"), col("doc_store"),
        TrainingOps.sigAgreement(col("sig_new"), col("sig_store"), k).as("est_jaccard"))
      .where(col("est_jaccard") >= minSim)
  }

  /** Admission stream via `foreachBatch`: every micro-batch runs the
    * batch [[TrainingOps.incrementalAdmit]] against the static store and
    * appends `(doc_id)` parquet to `outPath`. Exactly-once by Spark's
    * foreachBatch contract + idempotent overwrite of the per-batch
    * subdirectory (keyed by batchId — a replayed batch rewrites the same
    * files). */
  def admitStream(spark: SparkSession, stream: DataFrame, storeSigs: DataFrame,
      outPath: String, checkpoint: String, k: Int = 64, bands: Int = 16,
      minSim: Double = 0.2, maxBucket: Int = 10000): StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        TrainingOps.incrementalAdmit(spark, batch, storeSigs, k, bands,
            minSim, maxBucket)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        ()
      }
      .start()
  }
}
