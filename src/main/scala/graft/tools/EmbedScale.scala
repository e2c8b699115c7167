package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.immutable.ListMap
import scala.util.hashing.MurmurHash3

import graft.queries.{Blocking, TrainingOps}

/** Embedding-family volume probe — the [[DedupScale]] companion for the
  * round-4 hyperplane-bucket cap (`embedCosinePairsLsh`) and the IVF index
  * (`annIvfTopK` / `ivfCellHistogram`): candidate-pair counts, wall time,
  * cap engagement, and cell balance over a duplicate-heavy adversarial
  * corpus at increasing sizes. Evidence that the caps bound LSH fan-out at
  * volume and that the nProbe/nCells cost model (probe cost ∝
  * corpus·nProbe/nCells) rests on measured occupancy, not just the balance
  * unit test. Backs BASELINE.md's embedding-at-scale table.
  *
  * Corpus mix (deterministic, no RNG — murmur-seeded components, the
  * avalanche lesson from DedupScale's FNV gotcha): 5% ONE mega-cluster of
  * IDENTICAL vectors (byte-identical media / mirrored pages — the cap's
  * target: one bucket of m identical vectors emits m²/2 candidates), 25%
  * near-dup clusters of 5 (one dimension nudged per member — cosine ≥ 0.99,
  * the signal the operator must keep), 70% unique quasi-random vectors
  * (pairwise cosine ≈ 0 — below any minSim). With the cap engaged the
  * mega-cluster is dropped and true-pair volume grows LINEARLY in n.
  *
  * Records: `EMBEDSCALE` and `SEMDEDUP` size ladders (growth α: pairs
  * 1.0 = linear, 2.0 = quadratic; SemDeDup's seconds model is 1.5 at
  * nCells = √n), then `EMBEDIVF` cell balance and `EMBEDCURVE`
  * recall operating points at the largest size.
  *
  * Env: EMBEDSCALE_SIZES (csv, default "5000,20000,50000"),
  * EMBEDSCALE_CAP (default 200 — < 5% of the smallest size, so the
  * mega-bucket is dropped at every probe size), EMBEDSCALE_PLANES
  * (default 12 → 4096 buckets: the cap only isolates mega-clusters when
  * the MEAN bucket stays well under it, so the bucket count must scale
  * with the corpus — at 8 planes and 50k vectors the mean bucket is ~195
  * ≈ the cap and ordinary buckets start dropping; measured: 87 buckets
  * dropped, pair growth bent to α=0.67. That is the production tuning
  * rule this probe documents: nPlanes ≳ log2(n/cap) + margin),
  * SPARK_GRAFT_CPUS.
  */
object EmbedScale {
  import Probe.time

  private def comp(key: String): Float =
    (MurmurHash3.stringHash(key, 40503).toDouble / Int.MaxValue).toFloat

  /** Deterministic adversarial embedding corpus (vec_id, embedding). */
  def corpus(spark: SparkSession, n: Long, dims: Int = 64): DataFrame = {
    import spark.implicits._
    spark.range(0L, n).map { i =>
      val mod = i % 20
      val v =
        if (mod == 19) Array.tabulate(dims)(d => comp(s"mega:$d"))
        else if (mod < 5) {
          val c = i / 20
          val base = Array.tabulate(dims)(d => comp(s"c$c:$d"))
          // one nudged dimension per member: cosine(base, member) ≥ 0.99
          base(mod.toInt % dims) = base(mod.toInt % dims) + 0.05f
          base
        } else Array.tabulate(dims)(d => comp(s"u$i:$d"))
      (i, v)
    }.toDF("vec_id", "embedding")
  }

  def main(args: Array[String]): Unit = Probe.withSpark() { spark =>
    val sizes = Probe.sizes("EMBEDSCALE_SIZES", "5000,20000,50000")
    val cap = sys.env.getOrElse("EMBEDSCALE_CAP", "200").toInt
    val planes = sys.env.getOrElse("EMBEDSCALE_PLANES", "12").toInt

    // warm codepaths so the smallest size isn't charged JVM/codegen startup
    TrainingOps.embedCosinePairsLsh(spark, corpus(spark, 2000),
      nPlanes = planes, maxBucket = cap).count()
    TrainingOps.annIvfTopK(spark, corpus(spark, 2000)).count()

    Probe.sweep("EMBEDSCALE", sizes) { n =>
      val emb = corpus(spark, n).cache()
      emb.count()
      // exact cap-engagement audit: hyperplane buckets over the cap; the
      // n/20 identical mega-cluster vectors share one bucket
      val droppedBuckets = Blocking.purgedGroups(
        TrainingOps.hyperplaneBuckets(spark, emb, planes), Seq("bucket"), cap)
      if (n / 20 > cap)
        require(droppedBuckets == 1, s"n=$n: $droppedBuckets buckets dropped, expected the mega bucket")
      val (lshPairs, lshSec) = time(
        TrainingOps.embedCosinePairsLsh(spark, emb, minSim = 0.95,
          nPlanes = planes, maxBucket = cap).count())
      val (ivfRows, ivfSec) = time(TrainingOps.annIvfTopK(spark, emb).count())
      emb.unpersist()
      Seq("cap" -> cap, "dropped_buckets" -> droppedBuckets, "lsh_pairs" -> lshPairs,
        "lsh_sec" -> lshSec, "ivf_rows" -> ivfRows, "ivf_sec" -> ivfSec)
    }

    // SemDeDup (T37) volume: pairwise cosine only WITHIN a Lloyd cell.
    // nCells follows the √n rule (assignment costs n·nCells·d, the
    // within-cell triangles cost n²/nCells — balanced at nCells ≈ √n, so
    // total work grows n^1.5 instead of n²); the cap = 3× mean occupancy
    // isolates the 5% mega-cluster's cell (n/20 members ≥ 3.9× the cap at
    // every size) without touching ordinary cells. Every clusters-of-5
    // member pair sits at cosine ≥ 0.99, so expected true pairs = 10·n/20
    // = n/2 and sem_recall reads the within-cell recall of the planted
    // near-dups directly.
    Probe.sweep("SEMDEDUP", sizes) { n =>
      val emb = corpus(spark, n).cache()
      emb.count()
      val k = math.ceil(math.sqrt(n.toDouble)).toInt
      val semCap = 3 * (n / k).toInt
      val droppedCells = Blocking.purgedGroups(
        TrainingOps.semanticCells(spark, emb, nCells = k), Seq("cell"), semCap)
      if (n / 20 > semCap)
        require(droppedCells == 1, s"n=$n: $droppedCells cells dropped, expected the mega cell")
      val (pairs, sec) = time(TrainingOps.semanticDupPairs(spark, emb,
        nCells = k, minSim = 0.95, maxCell = semCap).count())
      emb.unpersist()
      Seq("nCells" -> k, "cap" -> semCap, "dropped_cells" -> droppedCells, "pairs" -> pairs,
        "expected_true" -> n / 2, "recall" -> pairs.toDouble / (n / 2), "sec" -> sec)
    }

    // IVF cell-occupancy at the largest size: the balance evidence behind
    // the nProbe/nCells cost model (probe scans corpus·nProbe/nCells only
    // if cells are roughly even)
    val big = corpus(spark, sizes.last).cache()
    big.count()
    val hist = TrainingOps.ivfCellHistogram(spark, big, nCells = 16).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    big.unpersist()
    val counts = hist.map(_._2)
    val mean = counts.sum.toDouble / counts.length
    Probe.record("EMBEDIVF", "n" -> sizes.last, "cells" -> counts.length,
      "mean" -> mean, "max" -> counts.max, "max_over_mean" -> counts.max / mean,
      "histogram" -> ListMap(hist.sorted.toSeq: _*))

    // operating-point curves at the largest size: recall@5 vs the index
    // knobs, against the exact cosineTopK ground truth — the knee a
    // production caller reads to trade scanned volume for recall (the
    // OpsSpec gates pin single points; this records the curve). Queries
    // are vec_id < 8: a mix of near-dup cluster members (the LSH regime)
    // and unique isotropic vectors (the IVF regime).
    big.cache(); big.count()
    def sets(df: DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    val exact = sets(TrainingOps.cosineTopK(spark, big))
    def recall(approx: Map[Long, Set[Long]]): Double = {
      val per = exact.toSeq.map { case (q, e) =>
        approx.getOrElse(q, Set.empty[Long]).intersect(e).size.toDouble / e.size }
      per.sum / per.size
    }
    for (nProbe <- 1 to 8) {
      val r = recall(sets(TrainingOps.annIvfTopK(spark, big, nCells = 16, nProbe = nProbe)))
      Probe.record("EMBEDCURVE", "index" -> "ivf", "n" -> sizes.last, "nCells" -> 16,
        "nProbe" -> nProbe, "recall_at_5" -> r, "scan_frac" -> nProbe / 16.0)
    }
    for (np <- Seq(8, 12, 16); ph <- 0 to 2) {
      val r = recall(sets(TrainingOps.annLshTopK(spark, big, nPlanes = np,
        probeHamming = ph)))
      Probe.record("EMBEDCURVE", "index" -> "lsh", "n" -> sizes.last, "nPlanes" -> np,
        "probeHamming" -> ph, "recall_at_5" -> r)
    }
    big.unpersist()
  }
}
