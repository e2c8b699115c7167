package graft.tools

import java.util.concurrent.{Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

import graft.gen.{CorpusWriter, SpanGen}
import graft.job.ExtractJob
import graft.kernel.Extractor

/** Diagnoses where N→4N scaling is lost: raw JVM thread scaling of the
  * kernel against full-job scaling.
  * Records `"tool":"PROBE"` lines: per `face` (`raw_kernel`, `full_job`)
  * the wall of each level, then the N→4N `efficiency` of every level pair
  * both faces ran. Dev tool, not part of the Bench/Verify contract.
  * Env: PROBE_DOCS, PROBE_PARTS, PROBE_RAW, PROBE_RAW_DOCS, PROBE_LEVELS,
  * PROBE_REPS. */
object ScaleProbe {

  // raw thread scaling: extract the same docs on a fixed thread pool
  private def rawKernel(threads: Int, docsPerThread: Int): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    val (_, t) = Probe.time {
      val futs = (0 until threads).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            var i = 0
            var acc = 0L
            while (i < docsPerThread) {
              val d = Extractor.extractDoc(SpanGen.genDoc(SpanGen.docId((t * docsPerThread + i).toLong)))
              acc += d.spans.size
              i += 1
            }
            if (acc == Long.MinValue) println("") // keep acc alive
          }
        })
      }
      futs.foreach(_.get())
    }
    pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES)
    t
  }

  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("PROBE_DOCS", "100000").toLong
    val parts = sys.env.getOrElse("PROBE_PARTS", "128").toInt

    // ---- raw JVM scaling (includes generation cost, same per doc)
    rawKernel(8, 500) // warm JIT
    val rawLevels = Probe.sizes("PROBE_RAW", "8,32").map(_.toInt)
    val rawDocs = sys.env.getOrElse("PROBE_RAW_DOCS", "20000").toInt
    val raws = rawLevels.map { th =>
      val ts = (1 to 3).map(_ => rawKernel(th, rawDocs / th)).sorted
      th -> ts(1)
    }.toMap
    rawLevels.foreach(th => Probe.record("PROBE", "face" -> "raw_kernel", "threads" -> th,
      "sec" -> raws(th), "docs_per_sec" -> rawDocs / raws(th)))
    efficiency("raw_kernel", raws)

    Probe.withTmpDir("scaleprobe")(base => jobLevels(base, nDocs, parts))
  }

  /** One record per level pair n → 4n that `secs` holds: t(n) / t(4n) / 4. */
  private def efficiency(face: String, secs: Map[Int, Double]): Unit =
    for (n <- secs.keys.toSeq.sorted; if secs.contains(n * 4))
      Probe.record("PROBE", "face" -> face, "from" -> n, "to" -> n * 4,
        "efficiency" -> secs(n) / secs(n * 4) / 4)

  private def jobLevels(base: String, nDocs: Long, parts: Int): Unit = {
    def fullJob(s: SparkSession, tag: String): Unit =
      ExtractJob.run(s, s"$base/corpus", s"$base/out_$tag", tag, parts)

    // deep-warm the shared JVM so later levels aren't flattered
    Probe.withSpark() { spark =>
      CorpusWriter.write(spark, nDocs, s"$base/corpus", parts)
      fullJob(spark, "deep1"); fullJob(spark, "deep2")
    }

    val levels = Probe.sizes("PROBE_LEVELS", "4,8,16,32").map(_.toInt)
    if (levels.isEmpty) return
    val reps = sys.env.getOrElse("PROBE_REPS", "3").toInt
    def sync(): Unit = { // flush dirty pages so writeback stalls don't land randomly
      new ProcessBuilder("sync").inheritIO().start().waitFor()
    }
    val times = levels.map { c =>
      val ts = Probe.withSpark(c) { s =>
        val stage = new Probe.Stages(new Probe.Tally(s))
        fullJob(s, s"w$c"); sync()
        (1 to reps).map { r => val (_, t) = stage(s"m$c$r")(fullJob(s, s"m$c$r")); sync(); t }
          .sortBy(_.sec)
      }
      val med = ts(ts.length / 2)
      Probe.record("PROBE", "face" -> "full_job", "slots" -> c, "median_sec" -> med.sec,
        "median_cpu" -> med.cpu, "secs" -> ts.map(_.sec), "docs_per_sec" -> nDocs / med.sec)
      c -> med.sec
    }.toMap
    efficiency("full_job", times)
  }
}
