package graft.tools

/** Prints `explain("formatted")` for selected queries so plan properties
  * (filter/column pushdown into parquet, broadcast joins, whole-stage
  * codegen spans, single-exchange extraction) can be audited. Dev tool.
  *
  * Usage: runMain graft.tools.Plans [queryName ...]  (default: audit set)
  * Runs at a fixed local[4], so a plan's partition counts do not depend on
  * the machine that printed it.
  */
object Plans {
  def main(args: Array[String]): Unit = Probe.withSpark(4) { spark =>
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q1_agg", "q3_top_orders", "j1_fk_navigation", "p2_eq_filter",
        "s1_ingest_checksum", "w1_topk_docs", "dd_minhash_pairs", "sim_cosine_topk")

    names.foreach { n =>
      graft.SparkEntry.queries.get(n) match {
        case Some(fn) =>
          println(s"===== PLAN $n =====")
          fn(spark, sfDir).explain("formatted")
        case None => println(s"===== PLAN $n: no such query =====")
      }
    }
  }
}
