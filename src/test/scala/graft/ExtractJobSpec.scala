package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.core.Checksums
import graft.gen.{CorpusWriter, SpanGen}
import graft.golden.GoldenExtractor
import graft.job.{Checkpoint, ExtractJob}

/** End-to-end job tests (SURVEY.md §5.2 items 2-4): span equality vs golden
  * at scale sf-test, lineage conservation, parallelism invariance, resume. */
class ExtractJobSpec extends AnyFunSuite with BeforeAndAfterAll with TimeLimits {

  // an observation that never completes would block the run forever
  private implicit val signaler: Signaler = ThreadSignaler

  private lazy val spark = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val base = Files.createTempDirectory("extractjobspec").toString
  private val nDocs = 2000L
  private val P = 16

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    CorpusWriter.write(spark, nDocs, s"$base/in", 8)
  }

  override def afterAll(): Unit = spark.stop()

  test("end-to-end span-sequence equality vs golden on the full sf-test corpus") {
    val rep = ExtractJob.run(spark, s"$base/in", s"$base/out", "r1", P)
    assert(rep.docsIn == nDocs && rep.docsOut == nDocs && rep.quarantined == 0)

    val got = ExtractJob.readSpans(spark, s"$base/out")
      .collect().map(d => d.doc_id -> d.spans).toMap
    assert(got.size == nDocs)
    var i = 0L
    while (i < nDocs) {
      val id = SpanGen.docId(i)
      val golden = GoldenExtractor.extract(SpanGen.genDoc(id))
      val mine = got(id)
      if (mine != golden.spans) {
        val d = mine.zip(golden.spans).indexWhere { case (a, b) => a != b }
        fail(s"doc $id first divergence at $d: got=${mine.lift(d)} want=${golden.spans.lift(d)}")
      }
      i += 1
    }
  }

  test("lineage conservation: sum(docs_in)=N, sum(docs_out)=N-quarantined, all pids present") {
    val rows = ExtractJob.readLineage(spark, s"$base/out").collect()
    assert(rows.map(_.partition_id).sorted.toSeq == (0 until P).filter(p => rows.exists(_.partition_id == p)))
    assert(rows.map(_.docs_in).sum == nDocs)
    assert(rows.map(_.docs_out).sum == nDocs)
    assert(Checkpoint.completedPids(s"$base/out") == (0 until P).toSet)
  }

  test("each task holds exactly one logical pid (identity placement)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dist = spark.read.parquet(s"$base/in")
      .select(pmod(hash(col("doc_id"), lit(graft.core.Spec.Salt)), lit(P)).cast("int").as("pid"))
      .repartition(P, col("doc_id"), lit(graft.core.Spec.Salt))
      .mapPartitions { it =>
        Iterator.single((org.apache.spark.TaskContext.getPartitionId(), it.map(_.getInt(0)).toSet))
      }.collect()
    assert(dist.forall { case (phys, pids) => pids.forall(_ == phys) },
      s"placement broke: ${dist.filter { case (ph, pids) => pids.exists(_ != ph) }.toSeq}")
  }

  test("output invariant to parallelism and partition count") {
    val outA = s"$base/outP7"
    val rep = ExtractJob.run(spark, s"$base/in", outA, "r7", numPartitions = 7)
    assert(rep.docsOut == nDocs)
    val a = ExtractJob.readSpans(spark, outA).collect().map(d => d.doc_id -> d.spans).toMap
    val b = ExtractJob.readSpans(spark, s"$base/out").collect().map(d => d.doc_id -> d.spans).toMap
    assert(a == b)
  }

  test("resume: killed-after-k-waves restart produces identical output, no double processing") {
    val out = s"$base/outResume"
    val partial = ExtractJob.run(spark, s"$base/in", out, "rA", P, waveSize = 3, maxWaves = 2)
    assert(partial.processedPids.size == 6)
    assert(Checkpoint.completedPids(out).size == 6)

    val resumed = ExtractJob.run(spark, s"$base/in", out, "rB", P, resume = true, waveSize = 3)
    assert(resumed.skippedPids.toSet == partial.processedPids.toSet)
    assert(resumed.processedPids.toSet.intersect(partial.processedPids.toSet).isEmpty)

    val a = ExtractJob.readSpans(spark, out).collect().map(d => d.doc_id -> d.spans).toMap
    val b = ExtractJob.readSpans(spark, s"$base/out").collect().map(d => d.doc_id -> d.spans).toMap
    assert(a == b)

    // lineage checksums of matching pids agree between the two outputs
    val la = ExtractJob.readLineage(spark, out).collect().map(r => r.partition_id -> r.checksum).toMap
    val lb = ExtractJob.readLineage(spark, s"$base/out").collect().map(r => r.partition_id -> r.checksum).toMap
    assert(la == lb)
  }

  test("resume works over a file:-scheme URI output (the non-local-URI code path)") {
    // Checkpoint I/O goes through the Hadoop FileSystem of the path's
    // scheme; a java.nio implementation sees NOTHING here — completedPids
    // would return empty and the restart would re-process all 16 pids.
    val out = s"file:$base/outUriResume"
    val partial = ExtractJob.run(spark, s"$base/in", out, "uA", P, waveSize = 3, maxWaves = 2)
    assert(partial.processedPids.size == 6)
    assert(Checkpoint.completedPids(out).size == 6)

    val resumed = ExtractJob.run(spark, s"$base/in", out, "uB", P, resume = true, waveSize = 3)
    assert(resumed.skippedPids.toSet == partial.processedPids.toSet)
    assert(resumed.processedPids.toSet.intersect(partial.processedPids.toSet).isEmpty)
    assert(Checkpoint.completedPids(out) == (0 until P).toSet)

    val a = ExtractJob.readSpans(spark, out).collect().map(d => d.doc_id -> d.spans).toMap
    val b = ExtractJob.readSpans(spark, s"$base/out").collect().map(d => d.doc_id -> d.spans).toMap
    assert(a == b)
  }

  test("tag filter on job output is partition pruning, not a data scan") {
    Seq(ExtractJob.readSpans(spark, s"$base/out").toDF(),
        ExtractJob.readQuarantine(spark, s"$base/out")).foreach { ds =>
      val plan = ds.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("tag"),
        s"tag pruning missing from:\n$plan")
      // no post-scan Filter on tag: the predicate never reaches row level
      assert(!plan.split("\n").exists(l => l.trim.startsWith("+- Filter") && l.contains("tag#")),
        s"tag filtered at row level:\n$plan")
    }
  }

  test("shuffle width divides P: P=64 at local[8] runs 16 tasks of 4 whole pids") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val P64 = 64
    assert(ExtractJob.shuffleWidth(P64, spark.sparkContext.defaultParallelism) == 16)
    val out = s"$base/outP64"
    val rep = ExtractJob.run(spark, s"$base/in", out, "r64", P64)
    assert(rep.docsIn == nDocs && rep.docsOut == nDocs && rep.quarantined == 0)
    val a = ExtractJob.readSpans(spark, out).collect().map(d => d.doc_id -> d.spans).toMap
    val b = ExtractJob.readSpans(spark, s"$base/out").collect().map(d => d.doc_id -> d.spans).toMap
    assert(a == b)

    val lin = ExtractJob.readLineage(spark, out).collect()
    assert(lin.map(_.partition_id).toSeq == (0 until P64), "exactly one lineage row per pid")
    assert(lin.map(_.docs_in).sum == nDocs)
    val golden = spark.read.parquet(s"$base/in")
      .select(col("doc_id"), pmod(hash(col("doc_id"), lit(graft.core.Spec.Salt)), lit(P64)).cast("int"))
      .as[(String, Int)].collect()
      .groupBy(_._2)
      .map { case (pid, ds) => pid -> Checksums.render(Checksums.fold(ds.iterator.map { case (id, _) =>
        Checksums.docDigest(GoldenExtractor.extract(SpanGen.genDoc(id))) })) }
    lin.foreach { r =>
      assert(r.checksum == golden.getOrElse(r.partition_id, Checksums.render(0L)), s"pid ${r.partition_id}")
    }
    // a pid split across two tasks would leave two files in its directory
    (0 until P64).foreach { pid =>
      val dir = Paths.get(s"$out/data/tag=${ExtractJob.TagDoc}/pid=$pid")
      if (Files.exists(dir)) {
        val files = Files.list(dir)
        try assert(files.iterator.asScala.count(_.toString.endsWith(".parquet")) == 1, s"pid $pid")
        finally files.close()
      }
    }
  }

  test("salted repartition balances docs across pids on the Zipf corpus") {
    val counts = ExtractJob.readLineage(spark, s"$base/out").collect().map(_.docs_in)
    assert(counts.length == P)
    val avg = counts.sum.toDouble / counts.length
    assert(counts.max < 3 * avg, s"skewed distribution: max=${counts.max} avg=$avg")
    assert(counts.min > 0, "some pid starved")
  }

  test("more partitions than docs: empty pids still complete with manifests") {
    import spark.implicits._
    val in = s"$base/in_tiny"
    spark.range(0, 10).map(i => graft.gen.SpanGen.genDoc(graft.gen.SpanGen.docId(i)))
      .write.mode("overwrite").parquet(in)
    val rep = ExtractJob.run(spark, in, s"$base/out_tiny", "rt", numPartitions = 64)
    assert(rep.docsIn == 10 && rep.docsOut == 10)
    assert(Checkpoint.completedPids(s"$base/out_tiny") == (0 until 64).toSet)
  }

  test("empty waves commit their manifests: 10 docs, P=64, waves of 4, resumed from nothing") {
    val out = s"$base/out_tiny_waves"
    val rep = failAfter(Span(300, Seconds)) {
      ExtractJob.run(spark, s"$base/in_tiny", out, "rw", numPartitions = 64, resume = true, waveSize = 4)
    }
    assert(rep.processedPids.sorted == (0 until 64))
    assert(rep.docsIn == 10 && rep.docsOut == 10 && rep.quarantined == 0)
    assert(Checkpoint.completedPids(out) == (0 until 64).toSet)
    val lin = ExtractJob.readLineage(spark, out).collect()
    assert(lin.length == 64 && lin.map(_.docs_in).sum == 10 && lin.map(_.docs_out).sum == 10)
  }

  test("a run leaves the session's partitionOverwriteMode as it found it") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.get(key)
    ExtractJob.run(spark, s"$base/in_tiny", s"$base/out_tiny_conf", "rc", numPartitions = 4)
    assert(spark.conf.get(key) == before)
  }

  test("torn write: missing manifest forces exactly that pid to reprocess") {
    val out = s"$base/outTorn"
    ExtractJob.run(spark, s"$base/in", out, "rT", P)
    val before = ExtractJob.readSpans(spark, out).collect().map(d => d.doc_id -> d.spans).toMap
    // simulate a crash after data commit but before manifest write
    val mp = Checkpoint.manifestPath(out, 5)
    assert(mp.getFileSystem(spark.sessionState.newHadoopConf()).delete(mp, false))
    assert(Checkpoint.completedPids(out) == (0 until P).toSet - 5)

    val resumed = ExtractJob.run(spark, s"$base/in", out, "rT2", P, resume = true)
    assert(resumed.processedPids == Seq(5))
    assert(resumed.skippedPids.toSet == (0 until P).toSet - 5)
    assert(Checkpoint.completedPids(out) == (0 until P).toSet)
    val after = ExtractJob.readSpans(spark, out).collect().map(d => d.doc_id -> d.spans).toMap
    assert(after == before) // dynamic pid overwrite replaced, not duplicated
  }

  test("input missing or mistyping doc_id/spans fails before any job, naming the column") {
    import spark.implicits._
    val bad = Seq(
      "spans" -> Seq(("d1", 1)).toDF("doc_id", "n"),
      "spans" -> Seq(("d1", "not spans")).toDF("doc_id", "spans"),
      "doc_id" -> Seq(Tuple1(Vector(graft.core.Span("pdf_block", "p=1;y=0;x=0|x", "", 0)))).toDF("spans"),
      "spans" -> Seq(("d1", Vector(("pdf_block", "x")))).toDF("doc_id", "spans")) // struct lacks fields
    val tally = new graft.tools.Probe.Tally(spark)
    bad.zipWithIndex.foreach { case ((column, df), i) =>
      val in = s"$base/in_bad$i"
      df.write.mode("overwrite").parquet(in)
      val (e, _, window) = tally.measure(intercept[IllegalArgumentException](
        ExtractJob.run(spark, in, s"$base/out_bad$i", s"rb$i", 4)))
      assert(e.getMessage.contains(s"column $column"), e.getMessage)
      assert(window.jobs.isEmpty, s"input $i ran ${window.jobs.size} jobs before failing")
    }
    spark.sparkContext.removeSparkListener(tally)
  }

  test("quarantine: a poison doc never fails the stage") {
    import spark.implicits._
    // text crafted to blow up nothing in the kernel — so instead poison via
    // an enormous offset duplication? The kernel is total; simulate poison by
    // a null doc_id (digest NPE averted? doc_id null -> NPE in checksum)
    val in2 = s"$base/in_poison"
    val docs = Seq(
      graft.core.Doc(null, Vector(graft.core.Span("pdf_block", "p=1;y=0;x=0|x", "", 0))),
      graft.core.Doc("ok1", Vector(graft.core.Span("pdf_block", "p=1;y=0;x=0|fine", "", 0))))
    spark.createDataset(docs).write.mode("overwrite").parquet(in2)
    val rep = ExtractJob.run(spark, in2, s"$base/out_poison", "rp", 4)
    assert(rep.docsIn == 2)
    assert(rep.docsOut + rep.quarantined == 2)
    // the observed count is the quarantine table's
    assert(rep.quarantined == ExtractJob.readQuarantine(spark, s"$base/out_poison").count())
  }

  test("mega-doc guard: oversize docs land in quarantine explicitly, conservation holds") {
    import spark.implicits._
    val in = s"$base/in_mega"
    // over the span-count budget (tiny spans, many of them)
    val manySpans = Vector.tabulate(graft.core.Spec.MaxDocSpans + 1)(i =>
      graft.core.Span("pdf_block", s"p=1;y=$i;x=0|t", "", i))
    // over the byte budget but under the span-count budget AND under the
    // per-span MaxSpanChars clip — only the doc-level guard can catch it
    val fat = "x" * 50000
    val fatSpans = Vector.tabulate(200)(i =>
      graft.core.Span("pdf_block", s"p=1;y=$i;x=0|" + fat, "", i))
    assert(fatSpans.length < graft.core.Spec.MaxDocSpans)
    assert(fatSpans.map(_.text.length.toLong).sum > graft.core.Spec.MaxDocChars)
    val docs = Seq(
      graft.core.Doc("mega_spans", manySpans),
      graft.core.Doc("mega_chars", fatSpans),
      graft.core.Doc("ok", Vector(graft.core.Span("pdf_block", "p=1;y=0;x=0|fine", "", 0))))
    spark.createDataset(docs).write.mode("overwrite").parquet(in)

    val rep = ExtractJob.run(spark, in, s"$base/out_mega", "rm", 4)
    assert(rep.docsIn == 3 && rep.docsOut == 1 && rep.quarantined == 2)
    val q = ExtractJob.readQuarantine(spark, s"$base/out_mega").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(q.keySet == Set("mega_spans", "mega_chars"))
    assert(rep.quarantined == ExtractJob.readQuarantine(spark, s"$base/out_mega").count())
    assert(q.values.forall(_.startsWith("oversize_doc")), q.toString)
    assert(ExtractJob.readSpans(spark, s"$base/out_mega").collect().map(_.doc_id).toSeq == Seq("ok"))
    val lin = ExtractJob.readLineage(spark, s"$base/out_mega").collect()
    assert(lin.map(_.docs_in).sum == 3 && lin.map(_.docs_out).sum == 1)
  }
}
