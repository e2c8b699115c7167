package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Materialize
import graft.queries.TrainingOps

/** Contamination-check + repetition-filter volume probe, the T23/T24
  * counterpart of [[DedupScale]]: wall time and output volume for
  * `contaminationCheck` and `repetitionStats` over the same adversarial
  * duplicate-heavy corpus at increasing sizes.
  *
  * What the corpus stresses (see [[DedupScale.corpus]]): every 20th doc is
  * IDENTICAL mirror boilerplate, so each of its word-8-grams occurs in
  * n/20 train documents — the hot-gram case where a naive eval×train gram
  * join fans out n/20 rows per eval gram. `contaminationCheck` reduces the
  * train side to DISTINCT grams before the join (fan-out exactly 1), so
  * output rows stay = eval docs and wall time grows ~linearly; a quadratic
  * bend here would falsify the fan-out claim. Eval docs (doc_id % 20 == 0)
  * are near-dup cluster members whose siblings sit in train — genuine
  * contamination the check must KEEP reporting while the boilerplate mass
  * is collapsed.
  *
  * Also audits the T30 Bloom pre-filter face per size: aggregate parity
  * with the exact path (must be identical) and the candidate-volume
  * reduction (eval grams admitted to the exact join = true overlaps + fpp
  * false positives — the measured check of both Bloom guarantees).
  * The growth record's α: 1.0 = linear, 2.0 = quadratic.
  *
  * Env: CONTAMSCALE_SIZES (csv, default "5000,20000,50000"),
  * SPARK_GRAFT_CPUS.
  */
object ContamScale {
  import Probe.time

  /** (eval docs, summed overlap, contaminated docs) of a check's output. */
  private def agg3(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col("n_overlap")),
      sum(when(col("contaminated"), 1L).otherwise(0L))).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def main(args: Array[String]): Unit = Probe.withSpark() { spark =>
    val sizes = Probe.sizes("CONTAMSCALE_SIZES", "5000,20000,50000")

    // warm codepaths so the smallest size isn't charged JVM/codegen startup
    TrainingOps.contaminationCheck(spark, DedupScale.corpus(spark, 2000)).count()
    TrainingOps.repetitionStats(spark, DedupScale.corpus(spark, 2000)).count()

    Probe.sweep("CONTAMSCALE", sizes) { n =>
      val docs = DedupScale.corpus(spark, n).cache()
      docs.count()
      val (contam, cSec) = time(agg3(TrainingOps.contaminationCheck(spark, docs)))
      val (flagged, rSec) = time(
        TrainingOps.repetitionStats(spark, docs).where(col("flagged")).count())
      // Bloom pre-filter face (T30): same aggregate must come back
      // identical (no false negatives + exact join kills false positives),
      // and the candidate audit quantifies the join-input reduction — the
      // fraction of eval grams the broadcast Bloom admits to the exact
      // join. The timed call and the audit share ONE set of parameters
      // (drift here would make the printed reduction describe a different
      // configuration than the path being timed); the audit's own train
      // build is materialized once and reused for sizing, Bloom, and count
      val (gramN, evalMod, fpp) = (8, 20, 0.01)
      val (bloom, bSec) = time(agg3(
        TrainingOps.contaminationCheckBloom(spark, docs, gramN, evalMod, fpp)))
      val parity = bloom == contam
      val evalG = Materialize.truncate(TrainingOps.gramsOf(spark,
        docs.where(pmod(col("doc_id").cast("long"), lit(evalMod)) === 0),
        gramN, hashed = true))
      val evalGrams = evalG.count()
      val trainG = Materialize.truncate(TrainingOps.contaminationTrainGrams(spark, docs,
        gramN, evalMod, hashGrams = true))
      val bf = trainG.stat.bloomFilter("g", math.max(trainG.count(), 1L), fpp)
      val bbf = spark.sparkContext.broadcast(bf)
      val candidates = {
        import spark.implicits._
        evalG.as[(Long, Long)].filter(r => bbf.value.mightContainLong(r._2)).count()
      }
      // per-size hygiene: the audit builds its own Bloom + two checkpoint
      // tables each iteration — release them or block-manager memory grows
      // with every rung of the size ladder
      bbf.destroy()
      Materialize.release(evalG)
      Materialize.release(trainG)
      docs.unpersist()
      require(parity, s"Bloom face $bloom != exact path $contam at n=$n")
      Seq("eval_docs" -> contam._1, "overlap_sum" -> contam._2, "contaminated" -> contam._3,
        "contam_sec" -> cSec, "repetition_flagged" -> flagged, "repetition_sec" -> rSec,
        "bloom_sec" -> bSec, "bloom_parity" -> parity, "eval_grams" -> evalGrams,
        "bloom_candidates" -> candidates,
        "join_input_kept" -> candidates.toDouble / math.max(evalGrams, 1))
    }

    prodShape(spark)
  }

  /** One doc of 40 unique-vocab words; `plantOf` maps a doc index to the
    * planted-text id it copies (negative = unique). Planted texts are a
    * pure function of the plant id, so any two docs given the same plant
    * id share EVERY word 8-gram. */
  private def synthDocs(spark: SparkSession, n: Long, keyPrefix: String)(
      plantOf: Long => Long) = {
    import spark.implicits._
    spark.range(0L, n).map { i =>
      val p = plantOf(i)
      val text =
        if (p >= 0) (0 until 40).map(w => DedupScale.vocabWord(s"plant$p:$w")).mkString(" ")
        else (0 until 40).map(w => DedupScale.vocabWord(s"$keyPrefix$i:$w")).mkString(" ")
      (i, text)
    }.toDF("doc_id", "text")
  }

  /** Production-decontamination measurements for the T30 Bloom face — the
    * two regimes the operator scaladoc claims, with overlap ≪ 1% (every
    * 250th checked doc copies a reference doc; everything else is unique
    * vocab, so join input ≈ true overlap + fpp):
    *
    * A. VERDICT-r6-prescribed shape — eval slice FIXED (~2.5k docs), train
    *    corpus grown. Here both paths pay the same dominant cost (shingle
    *    + distinct over every train gram) and the eval join is tiny, so
    *    the Bloom can only ADD its per-call build pass: bloom ≥ plain is
    *    the EXPECTED result, recorded to pin where the operator does NOT
    *    pay (pick the plain stored-gram path there).
    *
    * B. The decontamination sweep — reference-gram table FIXED (250k
    *    reference docs ⇒ ~8M distinct hashed grams), corpus being checked
    *    grown with evalMod=1 (ALL corpus docs are checked — corpus is the
    *    BIG side). The reference Bloom is built ONCE (the per-snapshot
    *    artifact, its cost and tree-agg exchange reported separately) and
    *    every sweep reuses it. Each rung runs BOTH paths under BOTH join
    *    regimes:
    *      - regime=broadcastable (default threshold): the engine
    *        broadcasts the exact ref-gram side, the corpus never shuffles
    *        in EITHER path — plain wins (the Bloom probe pass is pure
    *        overhead). This pins where NOT to pay for the Bloom.
    *      - regime=oversize (autoBroadcastJoinThreshold=-1 — simulates a
    *        reference-gram table past executor broadcast capacity, the
    *        actual 100 TB posture where benchmark suites × dedup against
    *        them produce multi-e9-gram reference sets): plain must shuffle
    *        EVERY corpus gram into a shuffled join; the Bloom face
    *        broadcasts ~10 MB, drops ~95% of corpus grams map-side, and
    *        only the admitted sliver reaches the exchange. Expect
    *        bloom < plain in both seconds and shuffled bytes, widening
    *        with corpus size.
    *
    * Env: CONTAMSCALE_FIXED_EVAL_SIZES (default "50000,200000,500000"),
    * CONTAMSCALE_SWEEP_SIZES (default "100000,400000"),
    * CONTAMSCALE_REF_DOCS (default 250000), CONTAMSCALE_SKIP_PROD=1 to
    * skip. */
  private def prodShape(spark: SparkSession): Unit = {
    if (sys.env.get("CONTAMSCALE_SKIP_PROD").contains("1")) return
    import spark.implicits._
    val fpp = 0.01

    // --- scenario A: fixed ~2.5k-doc eval slice, train grown
    val aSizes = Probe.sizes("CONTAMSCALE_FIXED_EVAL_SIZES", "50000,200000,500000")
    Probe.sweep("CONTAMPROD_A", aSizes) { n =>
      val evalMod = math.max(2L, n / 2500L).toInt
      // every 250th eval doc copies its train neighbor (doc_id + 1)
      val docs = synthDocs(spark, n, "a") { i =>
        val isEval = i % evalMod == 0
        val k = i / evalMod
        if (isEval && k % 250 == 0) k / 250
        else if (i % evalMod == 1 && k % 250 == 0) k / 250
        else -1L
      }.cache()
      docs.count()
      val (plain, pSec) = time(agg3(
        TrainingOps.contaminationCheck(spark, docs, 8, evalMod, hashGrams = true)))
      val (bloom, bSec) = time(agg3(
        TrainingOps.contaminationCheckBloom(spark, docs, 8, evalMod, fpp)))
      docs.unpersist()
      require(plain == bloom, s"CONTAMPROD_A Bloom face $bloom != plain $plain at n=$n")
      Seq("train_docs" -> (n - plain._1), "eval_docs" -> plain._1, "contaminated" -> plain._3,
        "plain_sec" -> pSec, "bloom_sec" -> bSec, "parity" -> true)
    }

    // --- scenario B: fixed large reference-gram table, corpus sweep grown
    val bSizes = Probe.sizes("CONTAMSCALE_SWEEP_SIZES", "100000,400000")
    if (bSizes.isEmpty) return
    val refDocs = sys.env.getOrElse("CONTAMSCALE_REF_DOCS", "250000").toLong
    val ref = synthDocs(spark, refDocs, "r")(i => if (i % 250 == 0) i / 250 else -1L)
    val refGrams = Materialize.truncate(TrainingOps.gramsOf(spark, ref, 8, hashed = true)
      .select(col("g")).distinct())
    val refGramCount = refGrams.count()
    // shuffle-WRITE bytes are the cluster-scale cost a single-box wall
    // clock hides (local tmpfs shuffle is nearly free here; on a real
    // cluster exchanged bytes cross the network)
    val stage = new Probe.Stages(new Probe.Tally(spark))
    def shuffled(t: Probe.Timing) = t.fields :+ ("shuffle_mib" -> t.window.shuffleWriteB / 1048576.0)
    // the per-snapshot Bloom artifact: built ONCE, reused by every sweep
    // (its tree-agg exchanges one ~10 MB partial per partition — a
    // cluster-width cost, constant in corpus size)
    val (bloom, build) = stage("bloom_build")(TrainingOps.trainGramBloom(refGrams, fpp))
    Probe.record("CONTAMPROD_BLOOM_BUILD", Seq("ref_grams" -> refGramCount, "fpp" -> fpp,
      "bits" -> bloom.bitSize()) ++ shuffled(build): _*)
    for (n <- bSizes) {
      // every 250th corpus doc copies a reference doc (plant ids cycle
      // through the reference's planted texts)
      val nPlants = refDocs / 250
      val corpus = synthDocs(spark, n, "c") { i =>
        if (i % 250 == 0) (i / 250) % nPlants else -1L
      }.cache()
      corpus.count()
      for (regime <- Seq("broadcastable", "oversize")) {
        val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        if (regime == "oversize")
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          // evalMod=1: EVERY corpus doc is checked (the sweep direction)
          val (plain, p) = stage("plain")(agg3(
            TrainingOps.contaminationFromTrainGrams(
              spark, corpus, refGrams, 8, evalMod = 1, hashGrams = true)))
          val (bl, b) = stage("bloom")(agg3(
            TrainingOps.contaminationBloomPrebuilt(
              spark, corpus, refGrams, bloom, 8, evalMod = 1)))
          val rung = Seq("regime" -> regime, "ref_grams" -> refGramCount, "corpus_docs" -> n,
            "contaminated" -> plain._3)
          Probe.record("CONTAMPROD_B", rung ++ shuffled(p): _*)
          Probe.record("CONTAMPROD_B", rung ++ shuffled(b) :+ ("parity" -> (plain == bl)): _*)
          require(plain == bl,
            s"CONTAMPROD_B regime=$regime Bloom face $bl != plain $plain at n=$n")
        } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      }
      // join-input reduction audit: corpus grams admitted by the Bloom
      val bbf = spark.sparkContext.broadcast(bloom)
      val corpusG = Materialize.truncate(TrainingOps.gramsOf(spark, corpus, 8, hashed = true))
      val corpusGrams = corpusG.count()
      val admitted = corpusG.as[(Long, Long)]
        .filter(r => bbf.value.mightContainLong(r._2)).count()
      bbf.destroy()
      Materialize.release(corpusG)
      corpus.unpersist()
      Probe.record("CONTAMPROD_B_AUDIT", "corpus_docs" -> n, "corpus_grams" -> corpusGrams,
        "admitted" -> admitted, "join_input_kept" -> admitted.toDouble / math.max(corpusGrams, 1))
    }
    Materialize.release(refGrams)
  }
}
