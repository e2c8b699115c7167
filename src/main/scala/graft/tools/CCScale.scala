package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Materialize
import graft.queries.TrainingOps

/** Connected-components volume probe: rounds + wall time for
  * `TrainingOps.connectedComponents` on two adversarial graph families at
  * increasing sizes — evidence for the O(log n) round bound and for linear
  * work per round, not just the unit-test graphs. Backs BASELINE.md's
  * cluster-resolution table.
  *
  * Families (deterministic, no RNG):
  *  - CHAIN: one path 0-1-2-…-(n-1) — the diameter-maximal worst case.
  *    Plain min-propagation needs n rounds; hooked-min + pointer jump
  *    roughly doubles the labelled distance per round, so rounds ≈ log₂ n.
  *    Exact invariant (required): every node lands in component 0.
  *  - CLUSTERS: n/5 disjoint 5-cliques — the realistic near-dup shape
  *    (LSH components are band-cliques). Rounds stay O(1); required:
  *    n/5 components, each labelled by its minimum member.
  *
  * The growth record's α: 1.0 = linear; the chain carries a log factor
  * from its rounds, the cliques should be about flat to linear.
  *
  * Env: CCSCALE_SIZES (csv, default "10000,100000"), SPARK_GRAFT_CPUS.
  */
object CCScale {
  import Probe.time

  def chain(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
  }

  def cliques(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    // 10 edges per 5-clique {5c, …, 5c+4}
    spark.range(0L, n / 5).flatMap { c =>
      val base = c * 5
      for (i <- 0 until 5; j <- (i + 1) until 5)
        yield (base + i, base + j)
    }.toDF("doc_a", "doc_b")
  }

  def main(args: Array[String]): Unit = Probe.withSpark() { spark =>
    val sizes = Probe.sizes("CCSCALE_SIZES", "10000,100000")

    // warm codepaths so the smallest size isn't charged JVM/codegen startup
    TrainingOps.connectedComponents(spark, chain(spark, 500)).count()

    Probe.sweep("CCSCALE", sizes) { n =>
      val ((chainLbl, chainRounds), chainSec) =
        time(TrainingOps.connectedComponentsIter(spark, chain(spark, n)))
      val chainBad = chainLbl.where(col("comp") =!= 0L).count()
      Materialize.release(chainLbl)

      val ((clLbl, clRounds), clSec) =
        time(TrainingOps.connectedComponentsIter(spark, cliques(spark, n)))
      val nComps = clLbl.select(col("comp")).distinct().count()
      val clBad = clLbl.where(col("comp") =!= (col("node") - pmod(col("node"), lit(5L)))).count()
      Materialize.release(clLbl)

      require(chainBad == 0, s"chain n=$n: $chainBad nodes not labelled 0")
      require(clBad == 0, s"cliques n=$n: $clBad nodes not labelled by their clique minimum")
      require(nComps == n / 5, s"cliques n=$n: $nComps components, expected ${n / 5}")
      Seq("chain_rounds" -> chainRounds, "chain_sec" -> chainSec, "chain_mislabeled" -> chainBad,
        "cliques_rounds" -> clRounds, "cliques_sec" -> clSec, "cliques_components" -> nComps,
        "cliques_mislabeled" -> clBad, "log2n" -> math.log(n.toDouble) / math.log(2))
    }
  }
}
