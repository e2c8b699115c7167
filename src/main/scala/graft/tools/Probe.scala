package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The harness every dev probe in `graft.tools` shares: one session
  * builder, wall timing, interleaved min-of-reps, the log-log growth
  * exponent, a tmpfs working dir, one listener tallying stages and jobs,
  * one record line and one size ladder.
  *
  * Every result a tool prints is a [[record]]: one JSON object per line,
  * `{"tool":"<TAG>", <fields in order>}`, so any run's output parses with
  * one `json.loads` per line.
  *
  * Env: SPARK_GRAFT_CPUS (local slots and shuffle width; default the
  * machine's core count).
  */
object Probe {

  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Runs `body` on a `local[slots]` session with as many shuffle
    * partitions as slots, stopped when `body` ends. `localDir`, when
    * given, holds the session's shuffle and spill files. */
  def withSpark[T](slots: Int = cpus, localDir: Option[String] = None)(body: SparkSession => T): T = {
    val b = SparkSession.builder().master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = localDir.fold(b)(b.config("spark.local.dir", _)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try body(spark) finally spark.stop()
  }

  /** Comma-separated sizes from env `key`, else from `default`. */
  def sizes(key: String, default: String): Seq[Long] =
    sys.env.getOrElse(key, default).split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq

  /** `body`'s result and its wall seconds. */
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs every body `reps` times, interleaved so a host slowdown hits all
    * of them alike; per body, its last result and its minimum seconds. */
  def minOf[T](reps: Int)(bodies: (() => T)*): Seq[(T, Double)] = {
    val runs = (1 to reps).map(_ => bodies.map(b => time(b())))
    bodies.indices.map(i => (runs.last(i)._1, runs.map(_(i)._2).min))
  }

  /** Growth exponent of a cost going `a` → `b` while the size goes `n0` →
    * `n1` (1.00 = linear, 2.00 = quadratic). A zero cost (no pairs at the
    * smallest size, say) has no exponent: "n/a", not a NaN or Infinity. */
  def alpha(n0: Double, n1: Double, a: Double, b: Double): String =
    if (a <= 0 || b <= 0 || n0 <= 0 || n1 == n0) "n/a"
    else f"${math.log(b / a) / math.log(n1 / n0)}%.2f"

  private val json = new ObjectMapper()

  /** Prints one observation as one JSON object line: `tool` first, then
    * `fields` in their order. Numbers stay numbers; a `Seq` is an array and
    * a `Map` an object (in its iteration order). */
  def record(tool: String, fields: (String, Any)*): Unit = {
    def plain(v: Any): Any = v match {
      case m: collection.Map[_, _] =>
        val o = new java.util.LinkedHashMap[String, Any]()
        m.foreach { case (k, x) => o.put(k.toString, plain(x)) }
        o
      case s: Iterable[_] => s.map(plain).toSeq.asJava
      case x => x
    }
    println(json.writeValueAsString(plain(collection.immutable.ListMap(("tool" -> tool) +: fields: _*))))
  }

  /** The size ladder: runs `rung` once per size and records `key -> size`
    * and the rung's fields as one `tool` line. After the last of two or
    * more rungs it records one growth line, `growth`/`from`/`to` and the
    * exponent of every numeric field from the first rung to the last as
    * `<field>_alpha` ([[alpha]]'s rule: a number, or "n/a"). */
  def sweep(tool: String, sizes: Seq[Long], key: String = "n")(
      rung: Long => Seq[(String, Any)]): Unit = {
    val rows = sizes.map { n =>
      val fields = rung(n)
      record(tool, (key -> n) +: fields: _*)
      fields
    }
    if (rows.size >= 2) {
      val (n0, n1) = (sizes.head.toDouble, sizes.last.toDouble)
      val last = rows.last.toMap
      val alphas = rows.head.flatMap {
        case (k, a: Number) => last.get(k).collect { case b: Number =>
          val x = alpha(n0, n1, a.doubleValue, b.doubleValue)
          s"${k}_alpha" -> (if (x == "n/a") x else x.toDouble)
        }
        case _ => None
      }
      record(tool, Seq("growth" -> key, "from" -> sizes.head, "to" -> sizes.last) ++ alphas: _*)
    }
  }

  /** Runs `body` in a fresh directory, deleted with its contents when
    * `body` ends. The directory is on tmpfs (/dev/shm) when the host has
    * one, like the Bench working set: one local disk's writeback is not
    * the cluster cost the probes model. */
  def withTmpDir[T](prefix: String)(body: String => T): T = {
    val shm = Paths.get("/dev/shm")
    val dir = if (Files.isDirectory(shm)) Files.createTempDirectory(shm, prefix)
      else Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally scala.util.Try(Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists))
  }

  /** One completed stage's summed task metrics. */
  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long, cpuNs: Long,
      deserMs: Long, gcMs: Long, shuffleReadB: Long, shuffleWriteB: Long)

  /** One job: description, start and end (epoch ms) and the stages
    * credited to it (a stage several jobs list goes to the last one that
    * registered it). */
  final case class Job(id: Int, desc: String, startMs: Long, endMs: Long, stages: Seq[Stage]) {
    def sec: Double = (endMs - startMs) / 1e3
  }

  /** The jobs and stages one measured body ran, and `driverSec`: the
    * body's wall that no job's `[start, end]` covers (planning, codegen
    * and driver-side work before, between and after the jobs). */
  final case class Window(jobs: Seq[Job], stages: Seq[Stage], driverSec: Double) {
    def tasks: Int = stages.map(_.tasks).sum
    def cpuSec: Double = stages.map(_.cpuNs).sum / 1e9
    def runSec: Double = stages.map(_.runMs).sum / 1e3
    def shuffleReadB: Long = stages.map(_.shuffleReadB).sum
    def shuffleWriteB: Long = stages.map(_.shuffleWriteB).sum
  }

  /** The probes' one listener, attached to `spark` on construction. Task
    * CPU never includes host steal, which inflates only wall and run time,
    * so a cpu ratio across sizes reads work growth steal-robustly. */
  final class Tally(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    private val stages = mutable.LinkedHashMap.empty[Int, Stage]
    private val jobs = mutable.LinkedHashMap.empty[Int, (String, Long, Long)]
    private val owner = mutable.HashMap.empty[Int, Int]
    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs(e.jobId) = (desc, e.time, e.time)
      e.stageIds.foreach(owner(_) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(_3 = e.time))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null)
        stages(si.stageId) = Stage(si.stageId, si.name, si.numTasks, m.executorRunTime,
          m.executorCpuTime, m.executorDeserializeTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten)
    }

    /** `body`'s result, wall seconds, and the jobs and stages it ran. The
      * listener bus is drained before and after, so the window holds
      * exactly `body`'s events. */
    def measure[T](body: => T): (T, Double, Window) = {
      GraftBus.drain(sc)
      synchronized { stages.clear(); jobs.clear(); owner.clear() }
      val from = System.currentTimeMillis()
      val (r, sec) = time(body)
      val until = System.currentTimeMillis()
      GraftBus.drain(sc)
      synchronized {
        val js = jobs.toSeq.map { case (id, (desc, t0, t1)) =>
          Job(id, desc, t0, t1, stages.values.filter(s => owner.get(s.id).contains(id)).toSeq)
        }
        (r, sec, Window(js, stages.values.toSeq, uncoveredSec(from, until, js)))
      }
    }
  }

  /** Seconds of `[from, until]` (epoch ms) that no job's `[start, end]`
    * covers. */
  private[graft] def uncoveredSec(from: Long, until: Long, jobs: Seq[Job]): Double = {
    var covered = 0L
    var reach = from
    jobs.map(j => (j.startMs max from, j.endMs min until)).sortBy(_._1).foreach { case (a, b) =>
      val lo = a max reach
      if (b > lo) { covered += b - lo; reach = b }
    }
    (until - from - covered) / 1e3
  }

  /** One named stage's wall seconds and the jobs and stages it ran;
    * `fields` is its record: `stage`, `sec` (wall), `cpu` and `run` (summed
    * task seconds). */
  final case class Timing(stage: String, sec: Double, window: Window) {
    def cpu: Double = window.cpuSec
    def run: Double = window.runSec
    def fields: Seq[(String, Any)] = Seq("stage" -> stage, "sec" -> sec, "cpu" -> cpu, "run" -> run)
  }

  /** Named stages measured on one [[Tally]]; `total` sums every stage
    * measured so far, wall and task time alike. */
  final class Stages(tally: Tally) {
    private val done = mutable.ArrayBuffer.empty[Timing]

    /** `body`'s result and its [[Timing]] as stage `name`. */
    def apply[T](name: String)(body: => T): (T, Timing) = {
      val (r, sec, w) = tally.measure(body)
      val t = Timing(name, sec, w)
      done += t
      (r, t)
    }

    def total: Timing = Timing("total", done.map(_.sec).sum,
      Window(done.flatMap(_.window.jobs).toSeq, done.flatMap(_.window.stages).toSeq,
        done.map(_.window.driverSec).sum))
  }
}
