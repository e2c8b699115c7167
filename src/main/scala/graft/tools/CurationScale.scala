package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Materialize, TableIO}
import graft.gen.CorpusWriter
import graft.job.{CurationJob, ExtractJob}
import graft.queries.TrainingOps

/** Composed curation-pipeline probe at scale-up size (VERDICT r5 #6): the
  * seven stages a pre-training corpus build actually chains —
  *
  *   extract → quality gate → exact dedup → near-dup cluster resolution
  *   (T26) → train/eval contamination check (T24) → unigram-LM perplexity
  *   gate (T28) → sequence packing into context windows (T29)
  *
  * — run as ONE pipeline over a generated corpus (default 1M docs, the
  * ScaleUp shape), every inter-stage table materialized through TableIO
  * (the production posture: each stage restartable from the previous
  * stage's table) and each stage timed. Because the generated corpus has
  * no natural duplicates, the probe PLANTS a deterministic 2% of exact
  * clones and 2% of near clones (appended-tail texts, Jaccard ≈ 0.9) after
  * the quality gate, so the dedup stages have real work whose expected
  * drop counts are known — the probe reports recall against the plant
  * (the DedupScale α discipline) instead of trivially passing everything
  * through.
  *
  * Near-dup candidates use the minhash-LSH path (banded self-equi-join,
  * hot-bucket capped — the family whose pair volume DedupScale pins at
  * α = 1.00), NOT the exact n-gram posting-list path: posting lists
  * generate df² candidate pairs per gram, and on a Zipf-vocabulary corpus
  * at ≥50k docs the df band under the exactness cap alone costs minutes
  * (measured: 155 s at 50k docs) and grows quadratically — the exact path
  * is the bench-scale oracle face, LSH is the 100 TB face. Cluster
  * resolution on top is pair-family agnostic (OpsSpec pins it).
  *
  * Env knobs: CURATION_DOCS (1000000), CURATION_PARTS (512),
  * SPARK_GRAFT_CPUS.
  *
  * Each stage records (`"tool":"CURATION"`), besides its wall clock
  * (`sec`), the summed task `executorCpuTime` (`cpu`) and
  * `executorRunTime` (`run`) from the probes' tally listener, then its
  * counts; the `total` record sums the stages' own timings. Host steal is
  * never credited to task CPU — it inflates only
  * wall and run — so the cross-SIZE cpu ratio measures the job's work
  * growth steal-robustly, and run/cpu per stage exposes each stage's wave
  * exposure. (A boot-wide system-time pathology — see CLAUDE.md — inflates
  * cpu too, but identically at both ladder sizes within one boot, so it
  * divides out of the ratio.)
  */
object CurationScale {

  // shuffle spill on memory-backed storage, like the bench working set:
  // on a real cluster per-executor local disks scale with the cluster,
  // while this box's one root disk (17 GB free) is the fixed resource
  // the probe must not be throttled by (the 1M contamination join's
  // string-gram spill exhausted it — see hashGrams)
  def main(args: Array[String]): Unit =
    Probe.withTmpDir("graftcuration")(base => Probe.withSpark(localDir = Some(base))(run(_, base)))

  private def run(spark: SparkSession, base: String): Unit = {
    val nDocs = sys.env.getOrElse("CURATION_DOCS", "1000000").toLong
    val parts = sys.env.getOrElse("CURATION_PARTS", "512").toInt
    val stage = new Probe.Stages(new Probe.Tally(spark))
    def rec(t: Probe.Timing, fields: (String, Any)*): Unit =
      Probe.record("CURATION", t.fields ++ fields: _*)
    CorpusWriter.write(spark, nDocs, s"$base/in", parts) // setup, untimed

    // stage 1: extraction (the north-rule job)
    val (rep, t1) = stage("extract")(ExtractJob.run(spark, s"$base/in", s"$base/ex", "cur", parts))
    require(rep.docsOut == nDocs, s"docsOut=${rep.docsOut}")
    rec(t1, "out" -> rep.docsOut)

    // stage 2: document text + quality gate (narrow + pushed filter),
    // then the deterministic dup plant: ids d9…/d8… (numerically and
    // lexicographically above every original, so the min-survivor rule
    // always keeps the original) carrying an exact copy / a copy with a
    // 6-token tail (shingle-set Jaccard ≈ 0.9 at ~100-word docs)
    val texts = CurationJob.docText(ExtractJob.readSpans(spark, s"$base/ex").toDF())
    val (_, t2) = stage("quality") {
      // truncated once: the plant unions four branches over `q`, and a lazy
      // `q` re-ran spans scan, docText and the gate per branch (cpu= ×4)
      val q = Materialize.truncate(CurationJob.qualityGate(texts))
      val idNum = substring(col("doc_id"), 2, 18).cast("long")
      val exactClones = q.where(pmod(idNum, lit(50)) === 0)
        .select(concat(lit("d9"), substring(col("doc_id"), 2, 18)).as("doc_id"),
          col("text"))
      val nearClones = q.where(pmod(idNum, lit(50)) === 1)
        .select(concat(lit("d8"), substring(col("doc_id"), 2, 18)).as("doc_id"),
          concat(col("text"), lit(" qv wq zx near dup tail marker")).as("text"))
      // contamination plant: new EVAL-slice docs (id ≡ 0 mod 20, d7…
      // range) whose first 8 words are copied verbatim from a TRAIN doc
      // (source id % 50 == 2 is never ≡ 0 mod 20) and whose tail is
      // unique (contains the source id as a token) — each must register
      // exactly as contaminated at stage 5, while its Jaccard to the
      // source (~6 shared trigrams) is far below every dedup threshold
      val contamClones = q.where(pmod(idNum, lit(50)) === 2)
        .select(concat(lit("d"),
            (lit(70000000000L) + idNum * 20).cast("string")).as("doc_id"),
          concat(substring_index(col("text"), " ", 8),
            lit(" contamination probe filler "), col("doc_id")).as("text"))
      TableIO.write(q.union(exactClones).union(nearClones).union(contamClones),
        s"$base/texts")
      Materialize.release(q)
    }
    val textsT = TableIO.read(spark, s"$base/texts")
    val nWithPlant = textsT.count()
    val nPlantExact = textsT.where(col("doc_id").startsWith("d9")).count()
    val nPlantNear = textsT.where(col("doc_id").startsWith("d8")).count()
    val nPlantContam = textsT.where(col("doc_id").startsWith("d7")).count()
    val nQuality = nWithPlant - nPlantExact - nPlantNear - nPlantContam
    rec(t2, "out" -> nQuality, "plant_exact" -> nPlantExact, "plant_near" -> nPlantNear,
      "plant_contam" -> nPlantContam)

    // stage 3: exact dedup (one hash-groupBy shuffle) — must drop
    // exactly the planted exact clones on this corpus
    val (_, t3) = stage("exact_dedup")(TableIO.write(
      CurationJob.dedup(TableIO.read(spark, s"$base/texts")), s"$base/curated"))
    val nCurated = TableIO.read(spark, s"$base/curated").count()
    rec(t3, "out" -> nCurated, "dropped" -> (nWithPlant - nCurated), "expected" -> nPlantExact)

    // stage 4: near-dup cluster resolution — minhash-LSH candidate pairs
    // (estimated sim ≥ 0.5; planted tails sit at ≈ 0.9 where the 16×4
    // band recall is ≈ 1.0) → connected components → drop non-minimum
    // members
    val curNum = TableIO.read(spark, s"$base/curated")
      .select(substring(col("doc_id"), 2, 18).cast("long").as("doc_id"), col("text"))
    val (_, t4) = stage("neardup_cc")(TableIO.write(
      TrainingOps.connectedComponents(spark,
          TrainingOps.minhashPairs(spark, curNum, minSim = 0.5)
            .select(col("doc_a"), col("doc_b")))
        .select(col("node").as("doc_id"), col("comp").as("component")),
      s"$base/clusters"))
    val clusters = TableIO.read(spark, s"$base/clusters")
    val members = clusters.count()
    val comps = clusters.select("component").distinct().count()
    val dropped = members - comps
    val nSurvive = nCurated - dropped
    rec(t4, "out" -> nSurvive, "cluster_members" -> members, "clusters" -> comps,
      "dropped" -> dropped, "expected" -> nPlantNear,
      "recall" -> dropped.toDouble / math.max(1, nPlantNear))

    // stage 5: contamination check over the near-dup survivors
    val survivors = curNum.join(
      clusters.where(col("doc_id") =!= col("component")).select("doc_id"),
      Seq("doc_id"), "left_anti")
    val (_, t5) = stage("contamination")(TableIO.write(
      TrainingOps.contaminationCheck(spark, survivors, hashGrams = true),
      s"$base/contam"))
    val contam = TableIO.read(spark, s"$base/contam")
    val nEval = contam.count()
    val nContaminated = contam.where(col("contaminated")).count()
    rec(t5, "eval" -> nEval, "contaminated" -> nContaminated, "expected" -> nPlantContam)

    // stage 6: unigram-LM perplexity gate (T28) over the decontaminated
    // corpus — contaminated eval docs drop, the rest score against the
    // corpus's own unigram distribution. A fixed nats/token threshold is
    // a property of a particular corpus (the graded query pins 3.5 on
    // the testdata vocabulary; this generator's murmur vocab sits much
    // higher), so the composed pipeline does what CCNet does: score,
    // then cut the worst tail — here the exact p99 of the score
    val decontam = survivors.join(
      contam.where(col("contaminated")).select("doc_id"),
      Seq("doc_id"), "left_anti")
    val (_, t6) = stage("perplexity")(TableIO.write(
      TrainingOps.unigramLogProb(decontam), s"$base/scored"))
    val scored = TableIO.read(spark, s"$base/scored")
    val nScored = scored.count()
    val cut = scored.agg(expr("percentile(avg_neg_logprob, 0.99)"))
      .collect()(0).getDouble(0)
    val nFlagged = scored.where(col("avg_neg_logprob") > cut).count()
    rec(t6, "scored" -> nScored, "p99_cut" -> cut, "flagged" -> nFlagged)

    // stage 7: greedy sequence packing (T29) of the kept corpus into
    // 512-token context windows — the step that turns curated documents
    // into training samples; fill = token mass / window capacity across
    // the packed bins (oversize docs overflow a bin of their own)
    val kept = decontam.join(
      scored.where(col("avg_neg_logprob") > cut).select("doc_id"),
      Seq("doc_id"), "left_anti")
    val (_, t7) = stage("seq_pack")(TableIO.write(
      TrainingOps.sequencePack(spark, kept, capacity = 512,
        nShards = math.max(64, parts)), s"$base/packed"))
    val p = TableIO.read(spark, s"$base/packed")
      .agg(count(lit(1)).as("docs"),
        countDistinct(col("shard"), col("bin")).as("bins"),
        sum(col("n_tok")).as("tokens")).collect()(0)
    val fill = p.getLong(2).toDouble / (p.getLong(1) * 512.0)
    rec(t7, "docs" -> p.getLong(0), "windows" -> p.getLong(1), "tokens" -> p.getLong(2),
      "fill" -> fill)

    val total = stage.total
    rec(total, "docs" -> nDocs, "parts" -> parts, "cpus" -> Probe.cpus,
      "docs_per_sec" -> nDocs / total.sec, "quality_ratio" -> nQuality.toDouble / nDocs,
      "exact_drop" -> (nWithPlant - nCurated), "neardup_drop" -> dropped,
      "contam_drop" -> nContaminated, "ppl_drop" -> nFlagged, "windows" -> p.getLong(1))
  }
}
