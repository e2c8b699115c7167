package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.TableIO
import graft.gen.{CorpusWriter, SpanGen}
import graft.job.ExtractJob
import graft.streaming.StreamExtract

/** Streaming throughput at bench scale — StreamingSpec proves batch/stream
  * parity and exactly-once restart at test scale (hundreds of docs); this
  * drives the SAME StreamExtract surface over the bench corpus (default
  * 300k docs, the Bench extraction corpus size) and records, one
  * `"tool":"STREAMBENCH"` line per timed stage (wall, task cpu and run):
  *
  *  1. batch reference: one ExtractJob over the corpus (docs/s);
  *  2. stream drain: StreamExtract AvailableNow over the same files
  *     (maxFilesPerTrigger=16 → parts/16 micro-batches), docs/s;
  *  3. restart-resume at scale: append a delta of new doc files, restart
  *     the stream on the SAME checkpoint — only the delta may process, and
  *     output rows == distinct doc_ids == corpus+delta (exactly-once).
  *
  * Working set on /dev/shm like Bench (single-disk writeback is not the
  * thing under test). Backs BASELINE.md's streaming-at-scale note.
  *
  * Env: STREAMBENCH_DOCS (300000), STREAMBENCH_PARTS (128),
  * STREAMBENCH_DELTA (10000), SPARK_GRAFT_CPUS.
  */
object StreamBench {

  private def rec(t: Probe.Timing, fields: (String, Any)*): Unit =
    Probe.record("STREAMBENCH", t.fields ++ fields: _*)

  def main(args: Array[String]): Unit =
    Probe.withTmpDir("graftstream")(base => Probe.withSpark()(run(_, base)))

  private def run(spark: SparkSession, base: String): Unit = {
    val nDocs = sys.env.getOrElse("STREAMBENCH_DOCS", "300000").toLong
    val parts = sys.env.getOrElse("STREAMBENCH_PARTS", "128").toInt
    val delta = sys.env.getOrElse("STREAMBENCH_DELTA", "10000").toLong
    import spark.implicits._
    val stage = new Probe.Stages(new Probe.Tally(spark))

    val corpus = s"$base/corpus"
    CorpusWriter.write(spark, nDocs, corpus, parts)

    // 1. batch reference — the same job Bench times (warm pass first so
    // both paths are compared JIT-warm)
    ExtractJob.run(spark, corpus, s"$base/warm", "warm", parts)
    val (_, batch) = stage("batch")(ExtractJob.run(spark, corpus, s"$base/batch", "batch", parts))
    rec(batch, "docs" -> nDocs, "docs_per_sec" -> nDocs / batch.sec)

    // 2. stream drain over the same files
    val outDir = s"$base/stream_out"
    val ckpt = s"$base/ckpt"
    val (_, stream) = stage("stream") {
      val q = StreamExtract.run(spark, corpus, outDir, ckpt)
      q.awaitTermination()
    }
    val drained = spark.read.parquet(outDir).count()
    rec(stream, "docs" -> drained, "docs_per_sec" -> drained / stream.sec,
      "vs_batch" -> stream.sec / batch.sec)
    require(drained == nDocs, s"stream drained $drained of $nDocs docs")

    // 3. restart-resume: append a delta, restart on the same checkpoint —
    // the checkpointed file-source offsets must skip the already-drained
    // corpus and process only the delta, exactly once
    TableIO.write(
      spark.range(nDocs, nDocs + delta).map(i => SpanGen.genDoc(SpanGen.docId(i))).toDF(),
      corpus, mode = "append")
    val (_, resume) = stage("resume") {
      val q = StreamExtract.run(spark, corpus, outDir, ckpt)
      q.awaitTermination()
    }
    val out = spark.read.parquet(outDir)
    val rows = out.count()
    val distinct = out.select(countDistinct(col("doc_id"))).head().getLong(0)
    rec(resume, "delta" -> delta, "rows" -> rows, "distinct" -> distinct,
      "exactly_once" -> (rows == nDocs + delta && distinct == nDocs + delta))
    require(rows == nDocs + delta && distinct == nDocs + delta,
      s"resume broke exactly-once: rows=$rows distinct=$distinct expected=${nDocs + delta}")
    require(resume.sec < stream.sec / 2,
      f"resume took ${resume.sec}%.1fs — did the restart reprocess the drained corpus?")

    // 4. stateful dedup at scale (T20): flatMapGroupsWithState over the
    // same corpus volume with planted cross-micro-batch duplicates —
    // throughput vs the equivalent batch dedup, state row count, and an
    // exactly-once restart where dropping the delta's duplicates REQUIRES
    // the reloaded state (the dup originals drained before the restart)
    statefulDedup(spark, stage, base, nDocs, parts, delta)
  }

  private def statefulDedup(spark: SparkSession, stage: Probe.Stages, base: String,
      nDocs: Long, parts: Int, delta: Long): Unit = {
    import spark.implicits._
    import graft.streaming.StatefulDedup
    import graft.streaming.StatefulDedup.HashedDoc
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}

    // every 10th row duplicates an earlier original's hash; repartition
    // spreads copies across the 128 source files, so most dup pairs land
    // in different micro-batches (the cross-batch case the state exists for)
    def hashOf(i: Long): Long = if (i % 10 == 9) i - 5 else i
    val dupDir = s"$base/dedup_in"
    spark.range(0L, nDocs).map(i => HashedDoc(f"doc$i%09d", hashOf(i)))
      .repartition(parts).write.parquet(dupDir)
    val distinctHashes = nDocs - nDocs / 10

    // batch reference: same semantics (first doc_id per hash), same input
    val (_, batch) = stage("dedup_batch") {
      val n = spark.read.parquet(dupDir).groupBy(col("h"))
        .agg(min(col("doc_id"))).count()
      require(n == distinctHashes, s"batch dedup $n != $distinctHashes")
    }

    val dedupSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.LongType)))
    val outDir = s"$base/dedup_out"
    val ckpt = s"$base/dedup_ckpt"
    def drain(): org.apache.spark.sql.streaming.StreamingQuery = {
      val in = spark.readStream.schema(dedupSchema)
        .option("maxFilesPerTrigger", "16").parquet(dupDir).as[HashedDoc]
      val q = StatefulDedup.firstSeen(spark, in).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); q
    }
    rec(batch, "docs" -> nDocs)
    val (stateRows, stream) = stage("dedup_stream") {
      drain().lastProgress.stateOperators.head.numRowsTotal
    }
    val emitted = spark.read.parquet(outDir).count()
    rec(stream, "docs" -> nDocs, "emitted" -> emitted, "state_rows" -> stateRows,
      "docs_per_sec" -> nDocs / stream.sec, "vs_batch" -> stream.sec / batch.sec)
    require(emitted == distinctHashes,
      s"stateful dedup emitted $emitted of $distinctHashes distinct hashes")
    require(stateRows == distinctHashes,
      s"state holds $stateRows rows, expected one per distinct hash")

    // restart with state reload: half the delta duplicates CORPUS hashes
    // (their originals drained before the restart — only the reloaded
    // state can drop them), half are new
    def deltaHash(i: Long): Long = {
      val k = i - nDocs
      if (k % 2 == 0) 2 * nDocs + k // fresh hash
      else hashOf(k % nDocs) // duplicate of a corpus original
    }
    spark.range(nDocs, nDocs + delta)
      .map(i => HashedDoc(f"doc$i%09d", deltaHash(i)))
      .repartition(8).write.mode("append").parquet(dupDir)
    val (_, resume) = stage("dedup_resume")(drain())
    val after = spark.read.parquet(outDir).count()
    val expected = distinctHashes + delta / 2
    rec(resume, "delta" -> delta, "rows" -> after, "expected" -> expected,
      "state_reload_exactly_once" -> (after == expected))
    require(after == expected,
      s"restart emitted $after, expected $expected — state not reloaded " +
        "or duplicates re-emitted")
  }
}
