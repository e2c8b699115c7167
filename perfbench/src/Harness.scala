package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{Checksums, Doc, Spec, TableIO}
import graft.gen.SpanGen
import graft.golden.GoldenExtractor
import graft.job.{Checkpoint, CurationJob, ExtractJob}
import graft.kernel.Extractor

/** JVM side of the benchmark. It sets up one workload, times its operation
  * from outside the engine's public entry points, and writes raw
  * observations (timings, lineage checksums, funnels, query outputs) as one
  * JSON file. `run.py` judges the observations and prints the result.
  *
  * Arguments: workload seed seconds trace workDir tablesDir outFile.
  */
object Harness {

  // Corpus size and logical partitions of every extraction the benchmark
  // runs. P = 32 rather than the job's usual 128: each ExtractJob.run pays a
  // per-pid cost (dynamic partition dirs, manifests) that at 128 pids takes
  // over 6 s on a 4-core host even for 5k docs, more than a run can repeat.
  val Docs = 8000
  val Parts = 32
  // the traced profile's resume cycle: 8 restarts, Parts / 8 pids each
  val Waves = 8
  // pids whose lineage checksums are checked against the golden extractor
  val CheckedPids = 0 until 4

  // query_suite: a fixed sample of SparkEntry.queries, one or two per
  // family, sized so one warm pass takes about 4 s on 4 cores at sf0.001.
  // The full 113 take 85-95 s per warm pass on that host, more than one run
  // may last. GraphOps' cheapest query (gr_triangles, ~2.4 s) would take
  // more than half the pass, so it is timed only in the traced profile.
  val QuerySample: Seq[String] = Seq(
    "ta_fingerprints", "dd_exact_summary", "ex_spans_per_doc", "mm_resize_plan",
    "sim_cosine_topk", "ret_bm25_topk", "ocr_page_confidence", "q1_agg")
  val ProfileQueries: Seq[String] = QuerySample :+ "gr_triangles"

  final case class Rec(name: String, start: Long, end: Long, parent: String, runId: String)

  // ------------------------------------------------------------------ state
  private var spark: SparkSession = _
  private var tracing = false
  private var runId = ""
  private val spans = mutable.ArrayBuffer.empty[Rec]
  private val tally = new Tally
  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def cpuNs(): Long = osBean.getProcessCpuTime
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Times `body`; when tracing, records a span and tags the Spark jobs it
    * starts with `name` so the listener can attribute them. */
  def timed[T](name: String, parent: String = "")(body: => T): (T, Double) = {
    if (tracing) spark.sparkContext.setLocalProperty(Tally.Key, name)
    val t0 = System.nanoTime(); val w0 = System.currentTimeMillis()
    try {
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      if (tracing) spans += Rec(name, w0, System.currentTimeMillis(), parent, runId)
      (r, dt)
    } finally if (tracing) spark.sparkContext.setLocalProperty(Tally.Key, null)
  }

  private def sync(): Unit = new ProcessBuilder("sync").inheritIO().start().waitFor()

  private def rmrf(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path))
      Files.walk(path).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  // ------------------------------------------------------------ host noise
  private def readFile(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8) catch { case _: Exception => "" }

  /** (steal jiffies, total jiffies) from the aggregate cpu line. */
  private def procStat(): (Long, Long) = {
    val f = readFile("/proc/stat").linesIterator.find(_.startsWith("cpu ")).getOrElse("cpu")
      .split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  /** Cumulative µs some task waited for a CPU (-1 if PSI is unavailable). */
  private def psiSomeUs(): Long =
    readFile("/proc/pressure/cpu").linesIterator.find(_.startsWith("some"))
      .flatMap(_.split("\\s+").find(_.startsWith("total=")))
      .map(_.stripPrefix("total=").toLong).getOrElse(-1L)

  /** A fixed JDK-only loop (no repo code): its time drifts only with the
    * host, so a drifting run can be told apart from a slower program. */
  private def calibrate(): Double = median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    val a = new Array[Long](1 << 16)
    var x = 88172645463325252L; var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      val k = (x & 0xffff).toInt; a(k) += x; i += 1
    }
    if (a.sum == 42) println("") // keeps the loop's result live
    (System.nanoTime() - t0) / 1e9
  })

  private def peakRssMib(): Double =
    readFile("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  // -------------------------------------------------------------- corpus
  private def writeCorpus(path: String, seed: Long): Unit = {
    val s = spark; import s.implicits._
    val offset = 1000000L + Math.floorMod(seed, 10000L) * Docs
    TableIO.write(s.range(0L, Docs.toLong).map(i => SpanGen.genDoc(SpanGen.docId(offset + i))).toDF(), path)
  }

  private def pidOf(p: Int) = pmod(hash(col("doc_id"), lit(Spec.Salt)), lit(p)).cast("int")

  /** Golden lineage for the checked pids: GoldenExtractor over regenerated
    * docs, folded with Checksums.docDigest — no engine code involved. */
  private def goldenLineage(input: String): Map[Int, String] = {
    val s = spark; import s.implicits._
    TableIO.read(s, input).select(col("doc_id"), pidOf(Parts).as("pid"))
      .where(col("pid").isin(CheckedPids: _*))
      .as[(String, Int)]
      .map { case (id, pid) => (pid, Checksums.docDigest(GoldenExtractor.extract(SpanGen.genDoc(id)))) }
      .collect().groupBy(_._1)
      .map { case (pid, ds) => pid -> Checksums.render(Checksums.fold(ds.iterator.map(_._2))) }
  }

  private def lineageOf(out: String): Seq[(Int, Long, String)] = {
    val s = spark; import s.implicits._
    ExtractJob.readLineage(s, out).collect().toSeq.map(r => (r.partition_id, r.docs_in, r.checksum))
  }

  // ------------------------------------------------------------ workloads

  /** One workload: set-up, then a timed operation repeated for `seconds`.
    * `op(i)` returns its observation as a JSON value. */
  trait Workload {
    def setup(): Unit
    def op(i: Int): String
    def cleanup(i: Int): Unit = ()
    /** ops timed together as one unit (query_suite: a pass over the sample) */
    def group: Int = 1
    def items: Double // items per op
    /** warm-up ops before timing: every op of a group, at least twice */
    def warmOps: Int
    def check: String = "{}"
  }

  final class ExtractBulk(work: String, seed: Long) extends Workload {
    val in = s"$work/in"
    var golden: Map[Int, String] = Map.empty
    def out(i: Int) = s"$work/bulk$i"
    def setup(): Unit = { writeCorpus(in, seed); golden = goldenLineage(in) }
    def op(i: Int): String = {
      val (r, _) = timed("extract.run")(ExtractJob.run(spark, in, out(i), s"r$i", Parts))
      s"""{"docs_in":${r.docsIn},"docs_out":${r.docsOut},"lineage":${lineageJson(lineageOf(out(i)))}}"""
    }
    override def cleanup(i: Int): Unit = rmrf(out(i))
    def items: Double = Docs
    // after two warm-up calls the next ones still speed up by ~15% as the
    // JIT compiles the write path; from the fifth call on they are steady
    def warmOps: Int = 4
    override def check: String = s"""{"docs":$Docs,"golden":${mapJson(golden)}}"""
  }

  final class QuerySuite(work: String, tables: String, seed: Long) extends Workload {
    // Warm-up passes run the sample in its fixed order, so every run's JIT
    // sees the queries in the same sequence: a seed-shuffled warm-up left
    // some orders ~35% slower for the whole run. Each timed pass then runs
    // its own seed-derived permutation.
    private def order(pass: Int): Seq[String] =
      if (pass < warmOps / group) QuerySample
      else new scala.util.Random(seed * 7919 + pass).shuffle(QuerySample)
    def setup(): Unit = ()
    def op(i: Int): String = {
      val name = order(i / group)(i % group)
      timed(s"query.$name")(SparkEntry.queries(name)(spark, tables).write.format("noop").mode("overwrite").save())
      s"""{"query":"$name"}"""
    }
    override def group: Int = QuerySample.length
    // the first pass compiles every query's code and takes ~4x a warm one;
    // later passes keep getting a few percent faster as the JIT reaches more
    // of Spark's planner, longer than a run can wait; five take the steep part
    def warmOps: Int = 5 * group
    def items: Double = 1
    /** Outside the timed region: each sampled query's result as parquet,
      * with its oracle SQL, for the DuckDB replay in run.py. */
    override def check: String = {
      val warehouse = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
      QuerySample.map { name =>
        val dir = s"$work/qout/$name"
        SparkEntry.queries(name)(spark, tables).coalesce(1).write.mode("overwrite").parquet(dir)
        val sql = SparkEntry.oracleSql(name).replace("__SF_DIR__", tables).replace("__WAREHOUSE__", warehouse)
        s"${js(name)}:{${js("dir")}:${js(dir)},${js("sql")}:${js(sql)}}"
      }.mkString("{", ",", "}")
    }
  }

  // ---------------------------------------------------------------- JSON
  def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  private def mapJson(m: Map[Int, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${js(v)}""" }.mkString("{", ",", "}")
  private def lineageJson(l: Seq[(Int, Long, String)]): String =
    l.sortBy(_._1).map { case (p, n, c) => s"[$p,$n,${js(c)}]" }.mkString("[", ",", "]")
  private def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${js(k)}:$v" }.mkString("{", ",", "}")

  // ---------------------------------------------------------------- loop
  final case class Sample(wall: Double, cpu: Double, obs: String)

  /** Runs whole groups of ops, as many as bring the op time nearest to
    * `seconds` (at least one group). `sync` before and cleanup after each
    * op stay outside the timing. */
  private def loop(w: Workload, seconds: Double, first: Int): Seq[Sample] = {
    val out = mutable.ArrayBuffer.empty[Sample]
    var i = first; var spent = 0.0; var groups = 0
    while (groups == 0 || spent + spent / groups / 2 < seconds) {
      (0 until w.group).foreach { _ =>
        sync()
        val c0 = cpuNs(); val t0 = System.nanoTime()
        val obs = w.op(i)
        val wall = (System.nanoTime() - t0) / 1e9; val cpu = (cpuNs() - c0) / 1e9
        w.cleanup(i)
        out += Sample(wall, cpu, obs); spent += wall; i += 1
      }
      groups += 1
    }
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, tables, outFile) = args
    val seed = seedS.toLong; val seconds = secondsS.toDouble
    runId = s"$workload-$seed-${ProcessHandle.current().pid()}"
    // Spark gets one core fewer than the host has: the driver thread, the JIT
    // and the collector run on the spare one instead of preempting tasks. On
    // 4 cores local[3] ran as fast as local[4] and its runs spread half as much.
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() - 1)

    val setupT0 = System.nanoTime()
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(tally)

    val w: Workload = workload match {
      case "extract_bulk" => new ExtractBulk(work, seed)
      case "query_suite" => new QuerySuite(work, tables, seed)
      case other => sys.error(s"unknown workload $other")
    }
    def phase(name: String): Unit =
      System.err.println(f"perfbench: $name at ${(System.nanoTime() - setupT0) / 1e9}%.2f s")
    phase("session")
    w.setup()
    phase("inputs")
    val warmOps = w.warmOps
    val warm = (0 until warmOps).map { i =>
      val t0 = System.nanoTime(); w.op(i); w.cleanup(i); phase(s"warm-up $i"); (System.nanoTime() - t0) / 1e9
    }
    val setupS = (System.nanoTime() - setupT0) / 1e9

    val calib = calibrate()
    val (st0, tot0) = procStat(); val psi0 = psiSomeUs(); val hostT0 = System.nanoTime()
    val first = (warmOps + w.group - 1) / w.group * w.group
    // a traced run splits its time between the untraced and traced loops
    val loopSeconds = if (traceS == "1") seconds / 2 else seconds
    val samples = loop(w, loopSeconds, first)
    val (st1, tot1) = procStat(); val psi1 = psiSomeUs(); val hostDt = (System.nanoTime() - hostT0) / 1e3
    val host = Seq(
      "host.steal_pct" -> num(if (tot1 > tot0) 100.0 * (st1 - st0) / (tot1 - tot0) else 0.0),
      "host.cpu_some_pct" -> num(if (psi0 < 0) -1.0 else 100.0 * (psi1 - psi0) / hostDt),
      "host.loadavg1" -> num(readFile("/proc/loadavg").split("\\s+").headOption.map(_.toDouble).getOrElse(-1.0)),
      "host.calib_s" -> num(calib))

    val (layers, profileCheck) =
      if (traceS == "1") Profile.traced(w, work, tables, seed, loopSeconds, samples.map(_.wall), first + samples.length)
      else (Nil, "null")

    val body = obj(Seq(
      "workload" -> js(workload),
      "setup_s" -> num(setupS),
      "warm_up_s" -> warm.map(num).mkString("[", ",", "]"),
      "items_per_op" -> num(w.items),
      "group" -> w.group.toString,
      "peak_rss_mib" -> num(peakRssMib()),
      "samples" -> samples.map(s => obj(Seq("wall" -> num(s.wall), "cpu" -> num(s.cpu), "obs" -> s.obs)))
        .mkString("[", ",", "]"),
      "check" -> w.check,
      "host" -> obj(host),
      "layers" -> obj(layers),
      "profile_check" -> profileCheck))
    Files.write(Paths.get(outFile), body.getBytes(StandardCharsets.UTF_8))
    if (traceS == "1") {
      val lines = spans.map(r => obj(Seq("name" -> js(r.name), "start_ms" -> r.start.toString,
        "end_ms" -> r.end.toString, "parent" -> js(r.parent), "run_id" -> js(r.runId))))
      Files.write(Paths.get(outFile + ".spans.jsonl"), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
  }

  // ------------------------------------------------------- traced profile

  /** The per-layer numbers. Every traced run measures every layer, so each
    * per-layer metric is measured on every workload's traced run; the
    * listener figures (`spark.*`) and `trace.overhead_pct` belong to the
    * workload's own operation. Also returns, for run.py to check, the
    * profile's curation funnel and its resume cycle's observations. */
  object Profile {
    private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    private def mib(b: Double) = b / (1024.0 * 1024.0)

    private def dirBytes(p: String): (Long, Int) = {
      val files = Files.walk(Paths.get(p)).iterator().asScala.filter(Files.isRegularFile(_))
        .filter(f => f.getFileName.toString.endsWith(".parquet")).toSeq
      (files.map(Files.size(_)).sum, files.length)
    }

    def traced(w: Workload, work: String, tables: String, seed: Long, seconds: Double,
        untraced: Seq[Double], nextOp: Int): (Seq[(String, String)], String) = {
      tracing = true
      val s = spark; import s.implicits._
      val m = mutable.ArrayBuffer.empty[(String, String)]
      def put(k: String, v: Double): Unit = m += (k -> num(v))

      // the workload's own op, traced: listener + spans per op. In local
      // mode the executors share this JVM, so its collectors' time is the
      // application's GC time (task-level jvmGCTime misses short tasks).
      tally.reset()
      val gc0 = gcMs()
      val tracedOps = loop(w, seconds, nextOp)
      val gcS = (gcMs() - gc0) / 1e3
      PerfbenchBus.drain(s.sparkContext)
      val ops = tracedOps.length.toDouble
      val g = tally.total(_ != Tally.Untagged) // the timed calls, not the checks
      put("trace.overhead_pct", 100.0 * (median(tracedOps.map(_.wall)) / median(untraced) - 1))
      put("spark.jobs", g.jobs / ops); put("spark.stages", g.stages / ops); put("spark.tasks", g.tasks / ops)
      put("spark.task_cpu_s", g.cpuNs / 1e9 / ops); put("spark.gc_s", gcS / ops)
      put("spark.deser_s", g.deserMs / 1e3 / ops); put("spark.input_mib", mib(g.inputB) / ops)
      put("spark.input_records", g.inputRecs.toDouble / ops)
      put("spark.shuffle_write_mib", mib(g.shufWB) / ops); put("spark.shuffle_read_mib", mib(g.shufRB) / ops)
      put("spark.spill_mib", mib(g.spillB) / ops)
      put("spark.driver_only_s", tally.driverOnly(spans.toSeq.filter(_.parent == "")) / ops)

      // extraction prefixes over a corpus of this seed
      val in = s"$work/prof_in"
      writeCorpus(in, seed)
      val base = TableIO.read(s, in).select(col("doc_id"), col("spans")).withColumn("pid", pidOf(Parts))
      val shuffled = base.repartition(Parts, col("doc_id"), lit(Spec.Salt))
      val decoded = shuffled.as[(String, Seq[graft.core.Span], Int)]
      def kerneled = decoded.mapPartitions(_.map { case (id, sp, pid) => (pid, Extractor.extractDoc(Doc(id, sp))) })
      def encoded = kerneled.map { case (pid, d) =>
        ExtractJob.OutRow(ExtractJob.TagDoc, pid, d.doc_id, d.spans, 0, 0, "", "", "") }
      val prefixes: Seq[(String, () => Unit)] = Seq(
        "scan" -> (() => noop(base)),
        "shuffle" -> (() => noop(shuffled)),
        "decode" -> (() => decoded.mapPartitions(it => Iterator.single(it.size)).collect()),
        "kernel" -> (() => kerneled.mapPartitions(it => Iterator.single(it.size)).collect()),
        "encode" -> (() => noop(encoded.toDF())),
        "write" -> (() => { TableIO.write(encoded.toDF(), s"$work/prof_plain", partitionBy = Seq("tag", "pid"));
          rmrf(s"$work/prof_plain") }),
        "bookkeeping" -> (() => { ExtractJob.run(s, in, s"$work/prof_full", "prof", Parts) }))
      var prev = 0.0
      prefixes.foreach { case (name, f) =>
        sync()
        val t = (1 to 2).map(_ => timed(s"prefix.$name", "profile.extract") { f() }._2).min
        put(s"$name.s", t - prev); prev = t
      }
      val (outB, outFiles) = dirBytes(s"$work/prof_full/data")
      val (inB, _) = dirBytes(in)
      put("write.output_mib", mib(outB)); put("write.files", outFiles)
      put("write.bytes_per_input_byte", outB.toDouble / inB)

      // kernel alone, single-threaded, fixed 10k-doc sample
      val sample = (0L until 10000L).map(i => SpanGen.genDoc(SpanGen.docId(i)))
      sample.take(2000).foreach(Extractor.extractDoc)
      val (_, kt) = timed("kernel.single_thread", "profile.kernel") { sample.foreach(Extractor.extractDoc) }
      put("kernel.us_per_doc", kt * 1e6 / sample.length)

      // curation prefixes over the profile's extraction output
      val full = s"$work/prof_full"
      val spansDf = ExtractJob.readSpans(s, full).toDF()
      val texts = CurationJob.docText(spansDf)
      val gated = CurationJob.qualityGate(texts)
      var funnel: CurationJob.Funnel = null
      val cprefixes: Seq[(String, () => Unit)] = Seq(
        "read_spans" -> (() => noop(spansDf)),
        "doc_text" -> (() => noop(texts)),
        "quality" -> (() => noop(gated)),
        "dedup" -> (() => noop(CurationJob.dedup(gated))),
        "write" -> (() => { funnel = CurationJob.run(s, full, s"$work/prof_cur"); rmrf(s"$work/prof_cur") }))
      prev = 0.0
      cprefixes.foreach { case (name, f) =>
        sync()
        val t = (1 to 2).map(_ => timed(s"curate.prefix.$name", "profile.curate") { f() }._2).min
        put(s"curate.$name.s", t - prev); prev = t
      }

      // checkpointing and waves: 8 resume restarts of a fresh output, each
      // processing one wave of Parts / 8 pids
      val res = s"$work/prof_resume"
      tally.reset()
      val cycle = (0 until Waves).map { i =>
        val (r, t) = timed(s"wave.$i", "profile.waves") {
          ExtractJob.run(s, in, res, s"w$i", Parts, resume = true, waveSize = Parts / Waves, maxWaves = 1)
        }
        val tail =
          if (i < Waves - 1) ""
          else s""","manifests":${Checkpoint.completedPids(res).size},"lineage":${lineageJson(lineageOf(res))}"""
        (t, s"""{"docs_in":${r.docsIn},"processed":[${r.processedPids.mkString(",")}]$tail}""")
      }
      PerfbenchBus.drain(s.sparkContext)
      put("wave.latency_first_s", cycle.head._1); put("wave.latency_last_s", cycle.last._1)
      put("wave.input_mib", mib(tally.total(_.startsWith("wave.")).inputB) / Waves)
      put("checkpoint.manifests", Checkpoint.completedPids(res).size)
      put("checkpoint.completed_pids_s",
        median((1 to 20).map(_ => timed("checkpoint.completed_pids", "profile.waves")(Checkpoint.completedPids(res))._2)))
      val resumeCheck = s"""{"docs":$Docs,"parts":$Parts,"golden":${mapJson(goldenLineage(in))}}"""
      Seq(in, full, res).foreach(rmrf)

      // query families: one pass over the sample, per query attribution
      tally.reset()
      val qt = ProfileQueries.map { name =>
        name -> timed(s"query.$name", "profile.query") {
          noop(SparkEntry.queries(name)(s, tables))
        }._2
      }
      PerfbenchBus.drain(s.sparkContext)
      val families = Seq("ta", "dd", "gr", "ex", "mm", "sim", "ret", "ocr")
      def family(q: String) = families.find(f => q.startsWith(f + "_")).getOrElse("rel")
      (families :+ "rel").foreach { f => put(s"query.family.$f.s", qt.filter(q => family(q._1) == f).map(_._2).sum) }
      val qg = tally.total(_.startsWith("query."))
      put("query.jobs", qg.jobs); put("query.tasks", qg.tasks)
      put("query.driver_s", tally.driverOnly(spans.toSeq.filter(_.parent == "profile.query")))
      put("query.shuffle_mib", mib(qg.shufWB)); put("query.spill_mib", mib(qg.spillB))
      tracing = false
      val funnelJson = s"""{"docs_in":${funnel.docsIn},"extracted":${funnel.extracted},""" +
        s""""quality_pass":${funnel.qualityPass},"curated":${funnel.curated}}"""
      (m.toSeq, obj(Seq("docs" -> Docs.toString, "funnel" -> funnelJson,
        "resume" -> cycle.map(c => obj(Seq("wall" -> num(c._1), "obs" -> c._2))).mkString("[", ",", "]"),
        "resume_check" -> resumeCheck)))
    }
  }
}

/** Per-group Spark task/job/stage totals. Jobs are attributed through the
  * `perfbench.group` local property the harness sets around each call. */
final class Tally extends SparkListener {
  final class G { var jobs = 0; var stages = 0; var tasks = 0; var cpuNs = 0L
    var deserMs = 0L; var inputB = 0L; var inputRecs = 0L; var shufWB = 0L; var shufRB = 0L; var spillB = 0L }
  private val groups = mutable.Map.empty[String, G]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobSpan = mutable.Map.empty[Int, (Long, Long)]

  private def g(k: String) = groups.getOrElseUpdate(k, new G)

  def reset(): Unit = synchronized { groups.clear(); stageGroup.clear(); jobSpan.clear() }

  def total(keep: String => Boolean): G = synchronized {
    val t = new G
    groups.iterator.filter(kv => keep(kv._1)).foreach { case (_, x) =>
      t.jobs += x.jobs; t.stages += x.stages; t.tasks += x.tasks; t.cpuNs += x.cpuNs
      t.deserMs += x.deserMs; t.inputB += x.inputB; t.inputRecs += x.inputRecs
      t.shufWB += x.shufWB; t.shufRB += x.shufRB; t.spillB += x.spillB
    }
    t
  }

  /** Seconds of the given spans not covered by any Spark job's interval. */
  def driverOnly(spans: Seq[Harness.Rec]): Double = synchronized {
    val jobs = jobSpan.values.toSeq.sortBy(_._1)
    spans.map { sp =>
      var covered = 0L; var reach = sp.start
      jobs.foreach { case (a0, b0) =>
        val a = math.max(a0, reach); val b = math.min(b0, sp.end)
        if (b > a) { covered += b - a; reach = b }
      }
      (sp.end - sp.start - covered) / 1e3
    }.sum
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = Option(e.properties).flatMap(p => Option(p.getProperty(Tally.Key))).getOrElse(Tally.Untagged)
    g(k).jobs += 1
    e.stageIds.foreach(stageGroup(_) = k)
    jobSpan(e.jobId) = (e.time, Long.MaxValue)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach { case (a, _) => jobSpan(e.jobId) = (a, e.time) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    g(stageGroup.getOrElse(e.stageInfo.stageId, Tally.Untagged)).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val x = g(stageGroup.getOrElse(e.stageId, Tally.Untagged)); x.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      x.cpuNs += m.executorCpuTime; x.deserMs += m.executorDeserializeTime
      x.inputB += m.inputMetrics.bytesRead; x.inputRecs += m.inputMetrics.recordsRead
      x.shufWB += m.shuffleWriteMetrics.bytesWritten
      x.shufRB += m.shuffleReadMetrics.totalBytesRead; x.spillB += m.diskBytesSpilled
    }
  }
}

object Tally {
  val Key = "perfbench.group"
  val Untagged = "untagged"
}
