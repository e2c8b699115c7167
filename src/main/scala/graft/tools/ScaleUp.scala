package graft.tools

import graft.gen.CorpusWriter
import graft.job.ExtractJob

/** Large-corpus flat-cost validation: run the extraction job once at a
  * configurable corpus size / partition count / core count and print
  * docs/sec (min of reps). Dev tool backing BASELINE.md's scale-up row.
  * Env: SCALEUP_DOCS, SCALEUP_PARTS, SCALEUP_REPS, SPARK_GRAFT_CPUS. */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("SCALEUP_DOCS", "1000000").toLong
    val parts = sys.env.getOrElse("SCALEUP_PARTS", "512").toInt
    val reps = sys.env.getOrElse("SCALEUP_REPS", "2").toInt
    Probe.withTmpDir("graftscaleup") { base =>
      Probe.withSpark() { spark =>
        CorpusWriter.write(spark, nDocs, s"$base/in", parts)
        ExtractJob.run(spark, s"$base/in", s"$base/warm", "w", parts) // warm
        val secs = (1 to reps).map { r =>
          val (rep, t) = Probe.time(ExtractJob.run(spark, s"$base/in", s"$base/out$r", s"m$r", parts))
          require(rep.docsOut == nDocs, s"docsOut=${rep.docsOut}")
          Probe.record("SCALEUP", "rep" -> r, "sec" -> t)
          t
        }
        Probe.record("SCALEUP", "docs" -> nDocs, "parts" -> parts, "cpus" -> Probe.cpus,
          "sec" -> secs.min, "docs_per_sec" -> nDocs / secs.min)
      }
    }
  }
}
