package graft.job

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Checksums, Doc, LineageRow, Spec, TableIO}
import graft.kernel.Extractor

/** The end-to-end extraction job (SURVEY.md §4.3 physical plan):
  *
  * {{{
  * parquet scan (pruned to doc_id+spans)
  *   → salted hash repartition on doc_id           [the only shuffle]
  *   → typed mapPartitions kernel (Doc => Doc), per-logical-pid lineage
  *   → single tagged write: spans (tag=0) + lineage (tag=1) + quarantine
  *     (tag=2), dynamic-partition-overwritten by (tag, pid)
  *   → driver: lineage read-back (tiny) → per-pid manifests
  * }}}
  *
  * Logical partition `pid = pmod(murmur3Hash(doc_id, Spec.Salt), P)` is a
  * pure function of doc_id, so resume (skip manifested pids) and task retry
  * are idempotent. Lineage is grouped by *logical* pid inside each task, so
  * correctness does not depend on the physical placement AQE/exchange picks
  * — a pid's rows always co-locate in exactly one task, but a task may hold
  * several pids.
  *
  * Checkpoint granularity: one Spark write action commits atomically, so
  * manifests advance per *wave*. `waveSize = k` processes k pids per wave
  * (each wave rescans the input's pid filter — cheap map-side predicate);
  * `waveSize = 0` is one wave (fastest; coarsest resume).
  *
  * Reference lifecycle collapsed here: ingest→OCR→parse→extract→link of
  * /root/reference/openfoia/pipeline/__init__.py:1-19 becomes one narrow
  * pipelined stage; per-file error-and-continue (ingest.py:211-220) becomes
  * the tag=2 quarantine output (a failing doc never fails the stage).
  */
object ExtractJob {

  /** Tagged union row for the single-pass write. tag: 0=doc, 1=lineage,
    * 2=quarantine. */
  final case class OutRow(
      tag: Int,
      pid: Int,
      doc_id: String,
      spans: Seq[graft.core.Span],
      docs_in: Long,
      docs_out: Long,
      checksum: String,
      error: String,
      run_id: String)

  final case class Report(
      runId: String,
      partitions: Int,
      processedPids: Seq[Int],
      skippedPids: Seq[Int],
      docsIn: Long,
      docsOut: Long,
      quarantined: Long)

  val TagDoc = 0
  val TagLineage = 1
  val TagQuarantine = 2

  /** pid expression — MUST equal the kernel-side recomputation below.
    * `functions.hash` is Murmur3Hash(seed=42), the same family
    * HashPartitioning uses; the extra Salt literal participates in the
    * hash, giving the "salted repartitioning on doc_id hash" of the north
    * rule. */
  private def pidCol(p: Int) =
    pmod(hash(col("doc_id"), lit(Spec.Salt)), lit(p)).cast("int").as("pid")

  def run(
      spark: SparkSession,
      inputPath: String,
      outputPath: String,
      runId: String,
      numPartitions: Int,
      resume: Boolean = false,
      waveSize: Int = 0,
      maxWaves: Int = Int.MaxValue): Report = {
    import spark.implicits._

    val p = numPartitions
    // session Hadoop conf so manifest I/O sees the same scheme config and
    // credentials (s3a keys, defaultFS, …) as the data writes
    val hconf = spark.sessionState.newHadoopConf()
    val done0 = if (resume) Checkpoint.completedPids(outputPath, hconf) else {
      Checkpoint.clear(outputPath, hconf); Set.empty[Int]
    }
    val todo = (0 until p).filterNot(done0)
    val waves: Seq[Seq[Int]] =
      (if (waveSize <= 0) Seq(todo) else todo.grouped(waveSize).toSeq).take(maxWaves)

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    val input = TableIO.read(spark, inputPath)
      .select(col("doc_id"), col("spans"))
      .withColumn("pid", pidCol(p))

    var docsIn = 0L; var docsOut = 0L; var quarantined = 0L
    val processed = Seq.newBuilder[Int]

    for (wave <- waves if wave.nonEmpty) {
      val waveSet = wave.toSet
      val filtered =
        if (waveSet.size == p) input
        else input.where(col("pid").isin(wave.map(Integer.valueOf): _*))

      // Repartition on (doc_id, Salt) — HashPartitioning computes
      // pmod(murmur3(doc_id, Salt), p), i.e. exactly `pid`, so each task
      // holds exactly one logical pid (validated by JobSpec); repartitioning
      // on the pid *column* instead would re-hash it and pile several pids
      // into one task (balls-into-bins skew).
      val out: Dataset[OutRow] = filtered
        .repartition(p, col("doc_id"), lit(Spec.Salt))
        .as[(String, Seq[graft.core.Span], Int)]
        .mapPartitions { it =>
          // per-logical-pid accumulation inside the task
          final class Acc { var in = 0L; var out = 0L; var xor = 0L }
          val accs = scala.collection.mutable.LinkedHashMap.empty[Int, Acc]
          val rows = it.flatMap { case (id, spans, pid) =>
            val a = accs.getOrElseUpdate(pid, new Acc)
            a.in += 1
            // mega-doc guard (Spec.MaxDocSpans/MaxDocChars): oversize input
            // is quarantined EXPLICITLY — 100×-scale skew must be visible in
            // tag=2 + the report, not silently clipped at MaxSpanChars
            val nSpans = if (spans == null) 0 else spans.length
            var nChars = 0L
            if (spans != null) {
              val si = spans.iterator
              while (si.hasNext && nChars <= Spec.MaxDocChars) {
                val t = si.next().text
                if (t != null) nChars += t.length
              }
            }
            if (nSpans > Spec.MaxDocSpans || nChars > Spec.MaxDocChars)
              Iterator.single(OutRow(TagQuarantine, pid, id, Seq.empty, 0, 0, "",
                s"oversize_doc: spans=$nSpans chars>=$nChars " +
                  s"(budget ${Spec.MaxDocSpans}/${Spec.MaxDocChars})", runId))
            else try {
              val res = Extractor.extractDoc(Doc(id, spans))
              val dg = Checksums.docDigest(res) // may throw → quarantine, not docs_out
              a.out += 1
              a.xor ^= dg
              Iterator.single(OutRow(TagDoc, pid, res.doc_id, res.spans, 0, 0, "", "", ""))
            } catch {
              case e: Exception =>
                Iterator.single(OutRow(TagQuarantine, pid, id, Seq.empty, 0, 0, "",
                  s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}", runId))
            }
          }
          val trailer = () => accs.iterator.map { case (pid, a) =>
            OutRow(TagLineage, pid, "", Seq.empty, a.in, a.out, Checksums.render(a.xor), "", runId)
          }
          rows ++ new Iterator[OutRow] {
            private var inner: Iterator[OutRow] = null
            def hasNext = { if (inner == null) inner = trailer(); inner.hasNext }
            def next() = { if (inner == null) inner = trailer(); inner.next() }
          }
        }

      TableIO.write(out.toDF(), s"$outputPath/data", SaveMode.Overwrite.name(),
        partitionBy = Seq("tag", "pid"))

      // read-back (tiny: ≤ P lineage rows + quarantine rows) in ONE scan.
      // List ONLY the tag=1/tag=2 subtrees: discovering the whole table
      // would list the 0..P doc-data dirs too — pure driver-side serial
      // cost repeated every wave (part of the Amdahl tail the benchmark's
      // traced run reports as `bookkeeping.s`).
      val back = TableIO.readSubtrees(spark, s"$outputPath/data",
          Seq(s"tag=$TagLineage", s"tag=$TagQuarantine"))
        .map(_.where(col("pid").isin(wave.map(Integer.valueOf): _*))
          .select(col("tag"), col("pid"), col("docs_in"), col("docs_out"), col("checksum"))
          .as[(Int, Int, Long, Long, String)]
          .collect())
        .getOrElse(Array.empty)
      val lineage = back.collect { case (TagLineage, pid, in, outN, ck) => (pid, in, outN, ck) }
      val quarCount = back.count(_._1 == TagQuarantine).toLong

      val seen = lineage.map(_._1).toSet
      lineage.foreach { case (pid, in, outN, ck) =>
        Checkpoint.write(outputPath, LineageRow(runId, pid, in, outN, ck), hconf)
        docsIn += in; docsOut += outN
      }
      // pids with zero input rows still complete (empty manifest)
      waveSet.diff(seen).foreach { pid =>
        Checkpoint.write(outputPath, LineageRow(runId, pid, 0, 0, Checksums.render(0L)), hconf)
      }
      quarantined += quarCount
      processed ++= wave
    }

    Report(runId, p, processed.result(), done0.toSeq.sorted, docsIn, docsOut, quarantined)
  }

  /** The spans table as consumers read it (tag pruning is partition
    * pruning — free). */
  def readSpans(spark: SparkSession, outputPath: String): Dataset[Doc] = {
    import spark.implicits._
    TableIO.read(spark, s"$outputPath/data")
      .where(col("tag") === TagDoc)
      .select(col("doc_id"), col("spans"))
      .as[Doc]
  }

  def readLineage(spark: SparkSession, outputPath: String): Dataset[LineageRow] = {
    import spark.implicits._
    TableIO.read(spark, s"$outputPath/data")
      .where(col("tag") === TagLineage)
      .select(col("run_id"), col("pid").cast("int").as("partition_id"),
        col("docs_in"), col("docs_out"), col("checksum"))
      .as[LineageRow]
  }

  def readQuarantine(spark: SparkSession, outputPath: String) =
    TableIO.read(spark, s"$outputPath/data")
      .where(col("tag") === TagQuarantine)
      .select(col("doc_id"), col("error"))
}
