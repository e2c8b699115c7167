package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.TrainingOps

/** Volume probe for T38 token-budget selection: the two-phase distributed
  * prefix sum ([[TrainingOps.budgetSelectFromBase]]) vs the naive
  * single-window form (one `PARTITION BY source` running sum — the oracle
  * face) at corpus sizes where the naive shape's weakness is measurable.
  *
  * Why this matters: with S sources the naive window stage runs S tasks
  * no matter how many cores exist — a mixture with 4 sources on 32 cores
  * leaves 28 cores idle while each task sorts-and-scans n/4 rows
  * serially; at 100 TB a whole source must stream through ONE partition,
  * which is not just slow but impossible. The two-phase form exchanges on
  * (source, ratio) — a quality-slice of a source — so its parallelism is
  * min(cores, sources × distinct ratios) and its biggest single-task
  * state is one slice.
  *
  * The probe synthesizes the pre-scored base table `(doc_id, source,
  * ratio, tokens)` directly (deterministic arithmetic — the textual
  * scoring in budgetBase is shared by both formulations and is pinned
  * bit-equal in OpsSpec; here only the selection shapes are under test),
  * caches it, and times each formulation to a 2-value aggregate sink.
  * Per size it ASSERTS result parity via full row checksums (sum of
  * murmur hash over all six columns + kept/cum totals) and, at the
  * smallest rung, an exact two-sided exceptAll. The growth record's α:
  * 1.0 = linear.
  *
  * Env: BUDGETSCALE_SIZES (csv, default "250000,1000000,4000000"),
  * BUDGETSCALE_SOURCES (default 4), BUDGETSCALE_REPS (default 3, min
  * taken, formulations interleaved), SPARK_GRAFT_CPUS.
  */
object BudgetScale {

  /** Deterministic pre-scored base: ratio uniform over the 10⁴ 4-dp grid
    * (the parameter bound the group table is sized by), tokens 5..40. */
  def base(spark: SparkSession, n: Long, nSources: Int): DataFrame =
    spark.range(0L, n).select(
      col("id").as("doc_id"),
      concat(lit("src"), pmod(col("id"), lit(nSources.toLong))).as("source"),
      (pmod(col("id") * lit(2654435761L), lit(10001L)).cast("double") / 10000.0)
        .as("ratio"),
      (pmod(col("id") * lit(40503L), lit(36L)) + 5L).as("tokens"))

  private def checksum(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(
      sum(hash(col("doc_id"), col("source"), col("ratio"), col("tokens"),
        col("cum_tokens"), col("kept")).cast("long")).as("h"),
      sum(col("cum_tokens")).as("ct"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("k")).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def main(args: Array[String]): Unit = Probe.withSpark() { spark =>
    val sizes = Probe.sizes("BUDGETSCALE_SIZES", "250000,1000000,4000000")
    val nSources = sys.env.getOrElse("BUDGETSCALE_SOURCES", "4").toInt
    val reps = sys.env.getOrElse("BUDGETSCALE_REPS", "3").toInt

    // warm both codepaths so the smallest size isn't charged JVM/codegen
    val warm = base(spark, 20000, nSources).cache(); warm.count()
    checksum(TrainingOps.budgetSelectFromBase(warm, 1000L))
    checksum(TrainingOps.budgetSelectNaiveFromBase(warm, 1000L))
    warm.unpersist()

    Probe.sweep("BUDGETSCALE", sizes) { n =>
      val b = base(spark, n, nSources).cache(); b.count()
      // ~half the per-source token mass: E[tokens] = 22.5 per doc
      val budget = 22L * n / (nSources.toLong * 2L)
      val Seq((nvCk, nvSec), (twoCk, twoSec)) = Probe.minOf(reps)(
        () => checksum(TrainingOps.budgetSelectNaiveFromBase(b, budget)),
        () => checksum(TrainingOps.budgetSelectFromBase(b, budget)))
      require(twoCk == nvCk,
        s"parity broke at n=$n: two-phase $twoCk vs naive $nvCk")
      if (n == sizes.min) {
        val two = TrainingOps.budgetSelectFromBase(b, budget)
        val nv = TrainingOps.budgetSelectNaiveFromBase(b, budget)
        val diff = two.exceptAll(nv).count() + nv.exceptAll(two).count()
        require(diff == 0L, s"exceptAll found $diff differing rows at n=$n")
      }
      b.unpersist()
      Seq("sources" -> nSources, "kept" -> twoCk._3, "naive_sec" -> nvSec,
        "two_phase_sec" -> twoSec, "speedup" -> nvSec / twoSec, "checksum_parity" -> true)
    }
  }
}
