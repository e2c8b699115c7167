package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TableIO
import graft.queries.TrainingOps

/** T41 volume probe: incremental near-dup (batch vs STORED signature
  * table) against the full re-dedup it replaces — evidence for the
  * daily-ingest claim that an increment's cost is bounded by the BATCH
  * (shingle the batch, scan the store, cross-set bucket join), while
  * re-deduping from scratch re-pays the whole corpus' shingle + self-join
  * every day.
  *
  * Corpus (deterministic, no RNG): store = `storeN` unique 40-word docs;
  * batch = `b` docs of which every 10th is an EXACT copy of a store doc
  * (sig-identical ⇒ every band collides ⇒ est_jaccard = 1.0 — the planted
  * recall is an exact-count assert, not a sample) and the rest unique.
  * Store signatures are built ONCE and written through TableIO (the
  * `dd_minhash_stored` seam); each rung times
  *   incr  = minhashSignatures(batch) + pairsAgainstStore + admit count
  *   full  = minhashPairs over (store ∪ batch) re-shingled from text
  * and asserts matched = b/10, admitted = b − b/10, full cross-set pairs
  * == incremental pairs.
  *
  * Env: INCRSCALE_STORE (default 200000), INCRSCALE_BATCHES (csv,
  * default "5000,20000,80000"), SPARK_GRAFT_CPUS.
  * Working set on /dev/shm like Bench (single-disk writeback is not the
  * cluster bottleneck being modeled).
  *
  * Records: `INCRSCALE` (the one-off store build, then the batch ladder,
  * whose growth α is vs BATCH size: the full re-dedup's cost is corpus-
  * dominated, so its α reads ~0 and the point is the LEVEL gap at small
  * b), `INCRSCALE_STORE` (batch fixed, store grown; α 1.0 = linear in
  * STORE size) and `INCRSCALE_REFRESH` (the snapshot-diff refresh).
  */
object IncrementalScale {
  import Probe.time

  // two independent murmur seeds combined into a 64-bit draw: a SINGLE
  // 32-bit murmur state birthday-collides across ~1e5+ doc-key prefixes
  // (measured here: "b30982:" and "s43821:" reach the same internal
  // state, so every common suffix collides too and two "unique" docs
  // come out word-for-word identical — 4 such docs at 280k corpus);
  // requiring both seeds' states to collide pushes that to ~2^-64
  private def word(key: String): String = {
    import scala.util.hashing.MurmurHash3.stringHash
    val h = (stringHash(key, 9001).toLong << 32) | (stringHash(key, 1337).toLong & 0xffffffffL)
    s"w${math.floorMod(h, 50000L)}"
  }

  // INCRSCALE_WORDS scales per-doc length (default 40 — the historical
  // rungs; production documents are KBs, and the shingle term the
  // incremental path avoids grows with it)
  private val wordsPerDoc: Int =
    sys.env.getOrElse("INCRSCALE_WORDS", "40").toInt

  private def text(tag: String, i: Long): String =
    (0 until wordsPerDoc).map(w => word(s"$tag$i:$w")).mkString(" ")

  def storeDocs(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, n).map(i => (i, text("s", i))).toDF("doc_id", "text")
  }

  /** Batch ids live above the store id space; every 10th copies store doc
    * (j·13 mod storeN) — exact dup, sig-identical. */
  def batchDocs(spark: SparkSession, storeN: Long, b: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, b).map { j =>
      val id = storeN + j
      if (j % 10 == 0) (id, text("s", (j * 13) % storeN))
      else (id, text("b", j))
    }.toDF("doc_id", "text")
  }

  def main(args: Array[String]): Unit =
    Probe.withTmpDir("graftincr")(base => Probe.withSpark(localDir = Some(base))(run(_, base)))

  private def run(spark: SparkSession, base: String): Unit = {
    val storeN = sys.env.getOrElse("INCRSCALE_STORE", "200000").toLong
    val batches = Probe.sizes("INCRSCALE_BATCHES", "5000,20000,80000")

    val sigPath = s"$base/store_sigs"
    val (_, buildSec) = time {
      TableIO.write(
        TrainingOps.minhashSignatures(spark, storeDocs(spark, storeN)), sigPath)
    }
    Probe.record("INCRSCALE", "store" -> storeN, "sig_build_once_sec" -> buildSec)

    // warm codepaths so the smallest rung isn't charged codegen startup
    TrainingOps.minhashPairsAgainstStore(spark,
      TrainingOps.minhashSignatures(spark, batchDocs(spark, storeN, 500)),
      TableIO.read(spark, sigPath), minSim = 0.5).count()

    Probe.sweep("INCRSCALE", batches, key = "b") { b =>
      val batch = batchDocs(spark, storeN, b)
      val planted = (b + 9) / 10
      // the timed job is the daily deliverable — ONE action producing the
      // admitted set (pairs + anti join inside); the matched-count audit
      // below re-runs the pair face untimed
      val (admitted, incrSec) = time {
        TrainingOps.incrementalAdmit(spark, batch,
          TableIO.read(spark, sigPath), minSim = 0.5).count()
      }
      val matched = TrainingOps.minhashPairsAgainstStore(spark,
          TrainingOps.minhashSignatures(spark, batch),
          TableIO.read(spark, sigPath), minSim = 0.5)
        .select(col("doc_new")).distinct().count()
      assert(matched == planted, s"b=$b matched=$matched != planted=$planted")
      assert(admitted == b - planted, s"b=$b admitted=$admitted != ${b - planted}")
      // the daily alternative: re-dedup the whole (store ∪ batch) corpus
      // from text — every doc re-shingled, self-join over everything
      val (fullPairs, fullSec) = time {
        TrainingOps.minhashPairs(spark,
          storeDocs(spark, storeN).unionAll(batch), minSim = 0.5).count()
      }
      assert(fullPairs == planted,
        s"b=$b full self-join found $fullPairs pairs != planted=$planted")
      Seq("incr_sec" -> incrSec, "full_sec" -> fullSec, "matched" -> matched,
        "admitted" -> admitted, "speedup" -> fullSec / incrSec)
    }

    // Scenario B — batch FIXED, store grown: the axis that actually grows
    // in production. The full re-dedup must re-shingle and self-join the
    // whole corpus every day (cost ∝ store); the incremental face only
    // scans/bands the stored signatures (narrow columnar work, no
    // shingling) — its growth in storeN is the scan, not the compute.
    val bFix = sys.env.getOrElse("INCRSCALE_FIXED_BATCH", "5000").toLong
    val storeSizes = Probe.sizes("INCRSCALE_STORES", "100000,200000,400000")
    Probe.sweep("INCRSCALE_STORE", storeSizes, key = "store") { sN =>
      val sp = s"$base/store_sigs_$sN"
      val (_, bld) = time {
        TableIO.write(TrainingOps.minhashSignatures(spark, storeDocs(spark, sN)), sp)
      }
      val batch = batchDocs(spark, sN, bFix)
      val planted = (bFix + 9) / 10
      val (admitted, incrSec) = time {
        TrainingOps.incrementalAdmit(spark, batch,
          TableIO.read(spark, sp), minSim = 0.5).count()
      }
      assert(admitted == bFix - planted, s"store=$sN admitted=$admitted")
      val (fullPairs, fullSec) = time {
        TrainingOps.minhashPairs(spark,
          storeDocs(spark, sN).unionAll(batch), minSim = 0.5).count()
      }
      assert(fullPairs == planted, s"store=$sN full pairs=$fullPairs != $planted")
      Seq("b" -> bFix, "sig_build_sec" -> bld, "incr_sec" -> incrSec, "full_sec" -> fullSec,
        "speedup" -> fullSec / incrSec)
    }

    // Scenario C — the T48→T41 REFRESH composition: a new corpus VERSION
    // arrives (removals, radical rewrites, additions); snapshotDiff
    // isolates the delta (added ∪ changed) and ONLY the delta flows
    // through incrementalAdmit against the v1 signature store — vs
    // re-deduping the whole v2 from text. Every count is an exact assert:
    // removals = ids%remMod==0 (~1%), rewrites = %chMod==0 surviving
    // (~1%), adds carry an exact store copy every 10th (distinct store
    // targets by construction, so expected full-pairs is closed-form).
    {
      import spark.implicits._
      val addN = sys.env.getOrElse("INCRSCALE_REFRESH_ADDS", "20000").toLong
      // production refresh churn: ~1% removals, ~1% radical rewrites
      val remMod = sys.env.getOrElse("INCRSCALE_REFRESH_REM_MOD", "101").toLong
      val chMod = sys.env.getOrElse("INCRSCALE_REFRESH_CH_MOD", "97").toLong
      // copies land only at j % 10 == 0, i.e. targets are (70·k) mod
      // storeN for k in 0..(addN-1)/10 — distinct iff no positive k in
      // range has 70·k ≡ 0 (mod storeN), i.e. storeN/gcd(70, storeN)
      // exceeds the max copy index (ADVICE r7: the old
      // `addN*7 < storeN*10` guard let storeN%7==0 configs collide,
      // e.g. store 70000 / adds 20000; a plain no-wrap bound would
      // over-reject valid configs like store 100000 / adds 20000)
      val maxCopyIdx = (addN - 1) / 10
      require(storeN / BigInt(70).gcd(BigInt(storeN)).toLong > maxCopyIdx,
        "copy targets must stay distinct")
      val v1 = storeDocs(spark, storeN).withColumn("source", lit("s"))
      val v2docs = spark.range(0L, storeN).flatMap { i =>
        if (i % remMod == 0) None
        else if (i % chMod == 0) Some((i, text("c", i))) // radical rewrite
        else Some((i, text("s", i)))
      }.toDF("doc_id", "text")
      val adds = spark.range(0L, addN).map { j =>
        val id = storeN + j
        if (j % 10 == 0) (id, text("s", (j * 7) % storeN)) // exact store copy
        else (id, text("a", j))
      }.toDF("doc_id", "text")
      // materialize both versions as tables (untimed): in production the
      // snapshots ARE parquet tables; leaving them as lazy generators
      // would re-pay the synthetic text() per scan and charge the
      // multi-scan refresh path for generator recompute, not real work
      val v1Path = s"$base/refresh_v1"
      val v2Path = s"$base/refresh_v2"
      TableIO.write(v1, v1Path)
      TableIO.write(v2docs.unionAll(adds).withColumn("source", lit("s")), v2Path)
      val v1t = TableIO.read(spark, v1Path)
      val v2t = TableIO.read(spark, v2Path)
      val nRem = (storeN - 1) / remMod + 1
      val nCh = ((storeN - 1) / chMod + 1) - ((storeN - 1) / (remMod * chMod) + 1)
      val (diffCounts, diffSec) = time {
        TrainingOps.snapshotDiff(spark, v1t, v2t)
          .groupBy(col("status")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      assert(diffCounts == Map("removed" -> nRem, "changed" -> nCh,
        "added" -> addN, "unchanged" -> (storeN - nRem - nCh)),
        s"refresh diff $diffCounts != exact expectation")
      val nCopies = (addN + 9) / 10
      val (deltaAdmitted, refreshSec) = time {
        val deltaIds = TrainingOps.snapshotDiff(spark, v1t, v2t)
          .where(col("status").isin("added", "changed")).select(col("doc_id"))
        val delta = v2t.join(deltaIds, "doc_id").select(col("doc_id"), col("text"))
        TrainingOps.incrementalAdmit(spark, delta,
          TableIO.read(spark, sigPath), minSim = 0.5).count()
      }
      assert(deltaAdmitted == nCh + addN - nCopies,
        s"refresh delta admitted $deltaAdmitted != ${nCh + addN - nCopies}")
      // the alternative: re-dedup all of v2 from text; expected pairs =
      // copies whose store target SURVIVES UNCHANGED in v2
      val expFull = (0L until addN).count(j =>
        j % 10 == 0 && { val k = (j * 7) % storeN
          k % remMod != 0 && k % chMod != 0 }).toLong
      val (fullPairs2, fullSec2) = time {
        TrainingOps.minhashPairs(spark,
          v2t.select(col("doc_id"), col("text")), minSim = 0.5).count()
      }
      assert(fullPairs2 == expFull, s"refresh full pairs $fullPairs2 != $expFull")
      val deltaSize = nCh + addN
      val v2Size = storeN - nRem + addN
      Probe.record("INCRSCALE_REFRESH", "store" -> storeN, "adds" -> addN,
        "delta" -> deltaSize, "v2" -> v2Size, "diff_sec" -> diffSec,
        "refresh_sec" -> refreshSec, "full_sec" -> fullSec2,
        "speedup" -> fullSec2 / refreshSec, "removed" -> nRem, "changed" -> nCh,
        "admitted" -> deltaAdmitted)
    }
  }
}
