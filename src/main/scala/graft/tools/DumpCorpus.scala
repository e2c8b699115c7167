package graft.tools

import graft.gen.CorpusWriter

/** Writes the deterministic corpus to a path (for the reference-architecture
  * throughput stand-in in tools/ref_baseline.py). Dev tool. */
object DumpCorpus {
  def main(args: Array[String]): Unit = Probe.withSpark() { spark =>
    val n = if (args.length > 0) args(0).toLong else 10000L
    val path = if (args.length > 1) args(1) else "/tmp/graft_corpus"
    CorpusWriter.write(spark, n, path, 32)
    Probe.record("DUMP", "docs" -> n, "path" -> path)
  }
}
