package graft.tools

import java.util.concurrent.{Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

import graft.gen.{CorpusWriter, SpanGen}
import graft.job.ExtractJob
import graft.kernel.Extractor

/** Diagnoses where N→4N scaling is lost: raw JVM thread scaling of the
  * kernel against full-job scaling.
  * Prints PROBE lines. Dev tool, not part of the driver contract.
  * Env: PROBE_DOCS, PROBE_PARTS, PROBE_RAW, PROBE_RAW_DOCS, PROBE_LEVELS,
  * PROBE_REPS. */
object ScaleProbe {

  private def time(body: => Any): Double = Probe.time(body)._2

  // raw thread scaling: extract the same docs on a fixed thread pool
  private def rawKernel(threads: Int, docsPerThread: Int): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    val t = time {
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
    rawLevels.foreach(th => println(f"PROBE raw kernel @ $th threads: ${raws(th)}%.2fs (${rawDocs / raws(th)}%.0f docs/s)"))
    for (n <- rawLevels; if raws.contains(n) && raws.contains(n * 4))
      println(f"PROBE raw efficiency $n->${n * 4}: ${raws(n) / raws(n * 4) / 4}%.3f")

    Probe.withTmpDir("scaleprobe")(base => jobLevels(base, nDocs, parts))
  }

  private def jobLevels(base: String, nDocs: Long, parts: Int): Unit = {
    def fullJob(s: SparkSession, tag: String): Double =
      time(ExtractJob.run(s, s"$base/corpus", s"$base/out_$tag", tag, parts))

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
        fullJob(s, s"w$c"); sync()
        (1 to reps).map { r => val t = fullJob(s, s"m$c$r"); sync(); t }.sorted
      }
      val med = ts(ts.length / 2)
      println(f"PROBE full-job @ local[$c]: median=$med%.2fs all=${ts.map(t => f"$t%.2f").mkString(",")} (${nDocs / med}%.0f docs/s)")
      c -> med
    }.toMap
    for (n <- levels; if times.contains(n) && times.contains(n * 4))
      println(f"PROBE efficiency $n->${n * 4}: ${times(n) / times(n * 4) / 4}%.3f " +
        f"(t$n=${times(n)}%.2fs t${n * 4}=${times(n * 4)}%.2fs)")
  }
}
