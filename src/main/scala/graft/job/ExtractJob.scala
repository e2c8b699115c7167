package graft.job

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Checksums, Doc, LineageRow, Spec, TableIO}
import graft.kernel.Extractor

/** The end-to-end extraction job (SURVEY.md §4.3 physical plan):
  *
  * {{{
  * parquet scan as `Doc` (pruned to doc_id+spans; no inference job)
  *   → repartitionById(width, pid mod width) [the only shuffle]
  *   → typed mapPartitions kernel (Doc => Doc); each task adds one
  *     LineageRow per logical pid it saw to the wave's accumulator
  *   → single write: spans (tag=0) + quarantine (tag=2),
  *     dynamic-partition-overwritten by (tag, pid)
  *   → driver: accumulated lineage → per-pid manifests (no read-back)
  * }}}
  *
  * Logical partition `pid = pmod(murmur3Hash(doc_id, Spec.Salt), P)` is a
  * pure function of doc_id, so resume (skip manifested pids) and task retry
  * are idempotent. The shuffle width is `min(P, defaultParallelism)`, one
  * wave of tasks on the cluster's slots: the exchange passes `pid mod width`
  * through as the partition id, so a task holds whole pids, every pid is
  * written by exactly one task (one file per (tag, pid)), and lineage is
  * grouped by *logical* pid inside the task.
  *
  * Lineage never reaches the written rows: each kernel task adds it to the
  * wave's named `CollectionAccumulator` (at most P rows) once its input
  * runs out. The kernel sits in the write's result stage, where Spark
  * merges a partition's accumulator updates once and drops failed
  * attempts', so the counts are exact under task retry; the wave commits
  * with ONE Spark action. Quarantined = Σ(docs_in − docs_out).
  *
  * The write and the manifests set their local-FS permissions without
  * forking `chmod` (`TableIO.ForkFreeLocalFs`).
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

  /** Tagged union row out of the kernel. tag: 0=doc, 2=quarantine. The
    * lineage fields stay unset (lineage goes to the wave's accumulator). */
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
  val TagQuarantine = 2

  /** pid expression — MUST equal the kernel-side recomputation below.
    * `functions.hash` is Murmur3Hash(seed=42), the same family
    * HashPartitioning uses; the extra Salt literal participates in the
    * hash, giving the "salted repartitioning on doc_id hash" of the north
    * rule. */
  private def pidCol(p: Int) =
    pmod(hash(col("doc_id"), lit(Spec.Salt)), lit(p)).cast("int").as("pid")

  /** Shuffle width for P logical pids: one task per slot, at most one per
    * pid. Pids pass through the exchange whole, so the width need not
    * divide P. */
  def shuffleWidth(p: Int, parallelism: Int): Int = math.min(p, parallelism)

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
    // credentials (s3a keys, defaultFS, …) as the data writes, and the same
    // fork-free local FS
    val hconf = TableIO.forkFree(spark.sessionState.newHadoopConf())
    val done0 = if (resume) Checkpoint.completedPids(outputPath, hconf) else {
      Checkpoint.clear(outputPath, hconf); Set.empty[Int]
    }
    val todo = (0 until p).filterNot(done0)
    val waves: Seq[Seq[Int]] =
      (if (waveSize <= 0) Seq(todo) else todo.grouped(waveSize).toSeq).take(maxWaves)

    // read as `Doc`: no schema-inference job per call, and the footer
    // check keeps a missing or mistyped column loud
    val input = TableIO.read(spark, inputPath, Doc.schema)
      .select(col("doc_id"), col("spans"))
      .withColumn("pid", pidCol(p))

    var docsIn = 0L; var docsOut = 0L
    val processed = Seq.newBuilder[Int]

    for ((wave, w) <- waves.zipWithIndex if wave.nonEmpty) {
      val lineageAcc = spark.sparkContext.collectionAccumulator[LineageRow](s"extract:$runId:$w")
      val filtered =
        if (wave.size == p) input
        else input.where(col("pid").isin(wave.map(Integer.valueOf): _*))

      // The partition id IS pid mod width, so each task holds whole logical
      // pids and the tasks' pid counts differ by at most one;
      // `repartition(width, col("pid"))` would re-hash the pid and pile
      // pids unevenly onto tasks (balls-into-bins skew).
      val out: Dataset[OutRow] = filtered
        .repartitionById(width, pmod(col("pid"), lit(width)))
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
          // `++` takes its suffix by name: the lineage is added only once
          // `rows` is exhausted, so it holds every pid's final counts
          rows ++ {
            accs.foreach { case (pid, a) =>
              lineageAcc.add(LineageRow(runId, pid, a.in, a.out, Checksums.render(a.xor)))
            }
            Iterator.empty
          }
        }

      TableIO.write(out.drop("docs_in", "docs_out", "checksum"), s"$outputPath/data",
        SaveMode.Overwrite.name(), partitionBy = Seq("tag", "pid"))

      val lineage = lineageAcc.value.asScala.toSeq
      val seen = lineage.map(_.partition_id).toSet
      require(seen.size == lineage.size, s"a pid's lineage came from two tasks (width $width, P $p)")
      // pids with zero input rows still complete (empty manifest)
      val empty = wave.filterNot(seen).map(LineageRow(runId, _, 0, 0, Checksums.render(0L)))
      Checkpoint.write(outputPath, lineage ++ empty, hconf)
      docsIn += lineage.map(_.docs_in).sum
      docsOut += lineage.map(_.docs_out).sum
      processed ++= wave
    }

    Report(runId, p, processed.result(), done0.toSeq.sorted, docsIn, docsOut, docsIn - docsOut)
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
