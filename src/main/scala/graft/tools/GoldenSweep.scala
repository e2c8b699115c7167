package graft.tools

import org.apache.spark.sql.functions._

/** One-off wide kernel-vs-golden equality sweep (bigger than the committed
  * 300-doc query and 2000-doc job test). Dev tool. */
object GoldenSweep {
  def main(args: Array[String]): Unit = Probe.withSpark() { spark =>
    val n = sys.env.getOrElse("SWEEP_DOCS", "20000").toLong
    import spark.implicits._
    import graft.gen.SpanGen
    val kernel = spark.range(0L, n)
      .map(i => graft.kernel.Extractor.extractDoc(SpanGen.genDoc(SpanGen.docId(i))))
      .select(col("doc_id"), col("spans").as("k_spans"))
    val golden = spark.range(0L, n)
      .map(i => graft.golden.GoldenExtractor.extract(SpanGen.genDoc(SpanGen.docId(i))))
      .select(col("doc_id"), col("spans").as("g_spans"))
    val r = kernel.join(golden, Seq("doc_id"), "full_outer")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("k_spans").isNull || col("g_spans").isNull ||
          col("k_spans") =!= col("g_spans"), 1L).otherwise(0L)).as("n_mismatches"))
      .collect().head
    Probe.record("SWEEP", "docs" -> r.getLong(0), "mismatches" -> r.getLong(1))
  }
}
