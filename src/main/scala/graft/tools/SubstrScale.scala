package graft.tools

import org.apache.spark.sql.functions._

import graft.queries.TrainingOps

/** Volume probe for the round-7 operators (T34 substring dedup, T35 DSIR,
  * T36 BPE) over the DedupScale adversarial corpus — the mix whose 5%
  * mega-cluster of IDENTICAL docs is precisely the hot-window worst case
  * for substring dedup: every one of the boilerplate doc's 33 8-token
  * windows occurs in n/20 documents, so a pair-generating formulation
  * would go (n/20)² while [[TrainingOps.substringDupStats]]'s
  * occurrence⋈distinct-dup join must stay at 1 row per occurrence.
  *
  * The corpus makes every expected count EXACT (no estimates to eyeball):
  *
  *  - mega-cluster (i % 20 == 19, identical 42-token docs — "mirror
  *    boilerplate" + 40 words): 1 canonical, n/20 − 1 docs fully covered
  *    (42 dup tokens each);
  *  - near-dup clusters of 5 (i % 20 < 5; word 17 varies per member):
  *    windows not touching position 17 are shared 5-way, so the 4
  *    non-canonical members cover positions 0..16 and 18..39 → exactly
  *    39 dup tokens each (ratio 0.975), n/5 docs;
  *  - unique docs (70%): murmur-drawn 40-word texts over a 5,000-word
  *    vocab — an 8-token window collision is ~5000⁻⁸, zero dup tokens.
  *
  * So flagged must equal (n/20 − 1) + n/5 and total dup tokens
  * 42·(n/20 − 1) + 39·(n/5) at every size, and both grow LINEARLY.
  * T35's per-doc output is n-rows by construction (wall α is the
  * interesting number — one scan + one bucketed shuffle); T36's pair
  * stage runs on the DISTINCT-word vocabulary, which this corpus caps at
  * ~5,012 words regardless of n, so its wall should be nearly FLAT while
  * the corpus grows 10× (only the vocab-agg scan grows). The growth
  * record's α: 1.0 = linear.
  *
  * Env: SUBSTRSCALE_SIZES (csv, default "5000,20000,50000"),
  * SPARK_GRAFT_CPUS.
  */
object SubstrScale {
  import Probe.time

  def main(args: Array[String]): Unit = Probe.withSpark() { spark =>
    val sizes = Probe.sizes("SUBSTRSCALE_SIZES", "5000,20000,50000")

    // warm codepaths so the smallest size isn't charged JVM/codegen startup
    TrainingOps.substringDupStats(spark, DedupScale.corpus(spark, 2000),
      hashWindows = true).count()
    TrainingOps.dsirWeights(spark, DedupScale.corpus(spark, 2000),
      DedupScale.corpus(spark, 2000).where(pmod(col("doc_id"), lit(20)) < 5)).count()
    TrainingOps.bpePairCounts(spark, DedupScale.corpus(spark, 2000)).count()

    Probe.sweep("SUBSTRSCALE", sizes) { n =>
      val docs = DedupScale.corpus(spark, n).cache()
      docs.count()
      // hashWindows = the scale posture (8-byte longs on the shuffle);
      // OpsSpec pins row parity with the string/oracle face
      val (sub, subSec) = time {
        val out = TrainingOps.substringDupStats(spark, docs, hashWindows = true)
        out.agg(sum(when(col("flagged"), 1L).otherwise(0L)).cast("long"),
            sum(col("n_dup_tok")).cast("long"))
          .collect()(0) match { case r => (r.getLong(0), r.getLong(1)) }
      }
      val expFlagged = (n / 20 - 1) + n / 5
      val expDupTok = 42L * (n / 20 - 1) + 39L * (n / 5)
      require(sub._1 == expFlagged,
        s"flagged ${sub._1} != expected $expFlagged at n=$n")
      require(sub._2 == expDupTok,
        s"dup tokens ${sub._2} != expected $expDupTok at n=$n")
      val (kept, dsirSec) = time(
        TrainingOps.dsirWeights(spark, docs,
          docs.where(pmod(col("doc_id"), lit(20)) < 5))
          .where(col("keep")).count())
      val (topPair, bpeSec) = time {
        val r = TrainingOps.bpePairCounts(spark, docs).collect()(0)
        s"${r.getString(0)}${r.getString(1)}:${r.getLong(2)}"
      }
      docs.unpersist()
      Seq("substr_flagged" -> sub._1, "substr_dup_tok" -> sub._2, "substr_sec" -> subSec,
        "dsir_kept" -> kept, "dsir_sec" -> dsirSec, "bpe_top" -> topPair, "bpe_sec" -> bpeSec)
    }
  }
}
