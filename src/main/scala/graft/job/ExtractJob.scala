package graft.job

import org.apache.spark.sql.{Dataset, Encoders, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Checksums, Doc, LineageRow, Spec, TableIO}
import graft.kernel.Extractor

/** The end-to-end extraction job (SURVEY.md §4.3 physical plan):
  *
  * {{{
  * parquet scan as `Doc` (pruned to doc_id+spans; no inference job)
  *   → salted hash repartition on doc_id into `width` tasks [the only shuffle]
  *   → typed mapPartitions kernel (Doc => Doc), per-logical-pid lineage
  *     trailer rows (tag=1)
  *   → observe: collect_list(tag=1 lineage structs), count_if(tag=2)
  *   → filter tag≠1 → single write: spans (tag=0) + quarantine (tag=2),
  *     dynamic-partition-overwritten by (tag, pid)
  *   → driver: observed lineage → per-pid manifests (no read-back)
  * }}}
  *
  * Logical partition `pid = pmod(murmur3Hash(doc_id, Spec.Salt), P)` is a
  * pure function of doc_id, so resume (skip manifested pids) and task retry
  * are idempotent. The shuffle width is the smallest divisor of P that is
  * at least twice the default parallelism (else P): the exchange puts a doc
  * in `pmod(murmur3Hash(doc_id, Salt), width)` = `pid mod width`, so a task
  * holds P/width whole pids, every pid is written by exactly one task (one
  * file per (tag, pid)), and lineage is grouped by *logical* pid inside the
  * task.
  *
  * The lineage trailers never reach storage: one `Dataset.observe` on the
  * written dataset collects them (at most P structs) with the quarantine
  * count. The observe node sits in the write's result stage, where Spark
  * merges each partition's metrics once, so the counts are exact under
  * task retry; the wave commits with ONE Spark action.
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

  /** Tagged union row out of the kernel. tag: 0=doc, 1=lineage (observed,
    * never written), 2=quarantine. */
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

  /** Shuffle width for P logical pids: the smallest divisor of P that is
    * at least `2 × parallelism`, else P. Dividing P keeps every pid whole
    * in one task. */
  def shuffleWidth(p: Int, parallelism: Int): Int =
    (1 to p).find(d => p % d == 0 && d >= 2 * parallelism).getOrElse(p)

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
    val width = shuffleWidth(p, spark.sparkContext.defaultParallelism)
    // session Hadoop conf so manifest I/O sees the same scheme config and
    // credentials (s3a keys, defaultFS, …) as the data writes
    val hconf = spark.sessionState.newHadoopConf()
    val done0 = if (resume) Checkpoint.completedPids(outputPath, hconf) else {
      Checkpoint.clear(outputPath, hconf); Set.empty[Int]
    }
    val todo = (0 until p).filterNot(done0)
    val waves: Seq[Seq[Int]] =
      (if (waveSize <= 0) Seq(todo) else todo.grouped(waveSize).toSeq).take(maxWaves)

    // read as `Doc`: no schema-inference job per call, and the footer
    // check keeps a missing or mistyped column loud
    val input = TableIO.read(spark, inputPath, Encoders.product[Doc].schema)
      .select(col("doc_id"), col("spans"))
      .withColumn("pid", pidCol(p))

    var docsIn = 0L; var docsOut = 0L; var quarantined = 0L
    val processed = Seq.newBuilder[Int]

    for ((wave, w) <- waves.zipWithIndex if wave.nonEmpty) {
      val filtered =
        if (wave.size == p) input
        else input.where(col("pid").isin(wave.map(Integer.valueOf): _*))

      // Repartition on (doc_id, Salt) — HashPartitioning computes
      // pmod(murmur3(doc_id, Salt), width) = pid mod width (width | P), so
      // each task holds whole logical pids; repartitioning on the pid
      // *column* instead would re-hash it and pile pids unevenly onto
      // tasks (balls-into-bins skew).
      val out: Dataset[OutRow] = filtered
        .repartition(width, col("doc_id"), lit(Spec.Salt))
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

      // Lineage is observed on the write, not stored and read back: the
      // tag=1 trailers (≤ P) and the quarantine count come out of the same
      // action that commits the data.
      val obs = Observation(s"extract:$runId:$w")
      val written = out
        .observe(obs,
          collect_list(when(col("tag") === TagLineage,
            struct(col("pid"), col("docs_in"), col("docs_out"), col("checksum")))).as("lineage"),
          count_if(col("tag") === TagQuarantine).as("quarantined"))
        .where(col("tag") =!= TagLineage)
        .drop("docs_in", "docs_out", "checksum")
      TableIO.write(written, s"$outputPath/data", SaveMode.Overwrite.name(),
        partitionBy = Seq("tag", "pid"))

      val metrics = obs.get
      val lineage = metrics("lineage").asInstanceOf[scala.collection.Seq[Row]].map(r =>
        LineageRow(runId, r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      val seen = lineage.map(_.partition_id).toSet
      require(seen.size == lineage.size, s"a pid's lineage came from two tasks (width $width, P $p)")
      // pids with zero input rows still complete (empty manifest)
      val empty = wave.filterNot(seen).map(LineageRow(runId, _, 0, 0, Checksums.render(0L)))
      Checkpoint.write(outputPath, lineage ++ empty, hconf)
      docsIn += lineage.map(_.docs_in).sum
      docsOut += lineage.map(_.docs_out).sum
      quarantined += metrics("quarantined").asInstanceOf[Long]
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

  /** The lineage table: the committed per-pid manifests. */
  def readLineage(spark: SparkSession, outputPath: String): Dataset[LineageRow] = {
    import spark.implicits._
    spark.createDataset(Checkpoint.read(outputPath, spark.sessionState.newHadoopConf()))
  }

  def readQuarantine(spark: SparkSession, outputPath: String) =
    TableIO.read(spark, s"$outputPath/data")
      .where(col("tag") === TagQuarantine)
      .select(col("doc_id"), col("error"))
}
