package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.TrainingOps

/** Dedup/LSH volume probe: candidate-pair counts + wall time for
  * `minhashPairs` and `ngramJaccardPairs` over a duplicate-heavy corpus at
  * increasing sizes — evidence that the hot-bucket / df caps bound fan-out
  * at volume (sub-quadratic growth in corpus size), not just in the
  * 10k-identical-docs unit test. Backs BASELINE.md's dedup-at-scale table.
  *
  * Corpus mix (deterministic, no RNG): 5% ONE mega-cluster of identical
  * boilerplate (the caps' target — at web scale this is the mirror/
  * boilerplate mass whose pairs belong to exact dedup, not LSH), 25%
  * near-dup clusters of 5 (one word in 40 varies per member — the signal
  * the operators must keep), 70% unique docs. With the cap engaged the
  * mega-cluster is dropped and true-pair volume grows LINEARLY with n
  * (clusters/doc is constant), so measured growth ≈ n^1 proves the caps
  * hold; uncapped, the mega-cluster alone contributes (n/20)²/2 pairs.
  * The growth record's α: 1.0 = linear, 2.0 = quadratic.
  *
  * Env: DEDUPSCALE_SIZES (csv, default "5000,20000,50000"),
  * DEDUPSCALE_CAP (default 200 — must stay < 5% of the smallest size so
  * the mega-cluster is dropped at every probe size), SPARK_GRAFT_CPUS.
  */
object DedupScale {
  import Probe.time

  // vocab draw MUST be murmur, not FNV-1a: an FNV state difference from a
  // differing prefix propagates near-affinely through a shared suffix, so
  // mod a small vocab two clusters' word sequences come out correlated
  // (observed: identical 30-word tails across clusters) — murmur's
  // avalanche finalization kills the structure
  private[tools] def vocabWord(key: String): String =
    s"w${math.floorMod(scala.util.hashing.MurmurHash3.stringHash(key, 9001), 5000)}"

  def corpus(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, n).map { i =>
      val mod = i % 20
      val text =
        if (mod == 19)
          "mirror boilerplate " + (0 until 40).map(w => s"word${w % 7}").mkString(" ")
        else if (mod < 5) {
          val c = i / 20
          (0 until 40).map { w =>
            if (w == 17) s"member$mod" else vocabWord(s"c$c:$w")
          }.mkString(" ")
        } else
          (0 until 40).map(w => vocabWord(s"u$i:$w")).mkString(" ")
      (i, text)
    }.toDF("doc_id", "text")
  }

  def main(args: Array[String]): Unit = Probe.withSpark() { spark =>
    val sizes = Probe.sizes("DEDUPSCALE_SIZES", "5000,20000,50000")
    // default cap 200 < 5%·min(size): the mega-cluster is dropped at EVERY
    // probe size, so the growth curve measures the capped regime throughout
    val cap = sys.env.getOrElse("DEDUPSCALE_CAP", "200").toInt

    // warm codepaths so the smallest size isn't charged JVM/codegen startup
    TrainingOps.minhashPairs(spark, corpus(spark, 2000), minSim = 0.5, maxBucket = cap).count()
    TrainingOps.ngramJaccardPairs(spark, corpus(spark, 2000), minJaccard = 0.5, maxDf = cap).count()

    Probe.sweep("DEDUPSCALE", sizes) { n =>
      val docs = corpus(spark, n).cache()
      docs.count()
      val megaBuckets = TrainingOps.minhashDroppedBuckets(spark, docs, maxBucket = cap)
      // the mega-cluster (n/20 identical docs) fills one bucket per band
      if (n / 20 > cap)
        require(megaBuckets == 16, s"n=$n: $megaBuckets buckets dropped, expected the 16 mega bands")
      val (mhPairs, mhSec) = time(
        TrainingOps.minhashPairs(spark, docs, minSim = 0.5, maxBucket = cap).count())
      val (ngPairs, ngSec) = time(
        TrainingOps.ngramJaccardPairs(spark, docs, minJaccard = 0.5, maxDf = cap).count())
      docs.unpersist()
      Seq("cap" -> cap, "dropped_buckets" -> megaBuckets, "minhash_pairs" -> mhPairs,
        "minhash_sec" -> mhSec, "ngram_pairs" -> ngPairs, "ngram_sec" -> ngSec)
    }
  }
}
