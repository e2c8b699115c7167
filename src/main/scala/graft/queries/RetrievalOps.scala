package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Corpus retrieval scoring — the search face a curation pipeline uses for
  * targeted decontamination sweeps ("find everything that looks like this
  * eval prompt") and for seed-set expansion (pull the top-k documents for a
  * domain query before fitting a DSIR/classifier target).
  *
  * Reference behavior: openfoia's search surface is substring `ilike`
  * matching over request/document text (p1_ilike_search); BM25 is the
  * ranked-retrieval generalization a 100 TB corpus needs — a fixed query
  * cannot eyeball an unranked 10M-row ilike result.
  */
object RetrievalOps {

  /** Okapi BM25 top-k retrieval (Robertson et al., TREC-3 1994; the
    * `ln(1 + (N - df + ½)/(df + ½))` idf form is the Lucene variant that
    * stays positive at high df).
    *
    * Scale shape: ONE corpus scan and ONE `doc_id` shuffle — per-document
    * length and every per-query-term tf come out of the same aggregation
    * as |q| conditional columns (map-side combinable), so the plan never
    * builds a corpus-sized (doc, term) join. Document frequencies and the
    * average length reduce that table to a 1-row broadcast; scoring is a
    * narrow codegen'd projection over it. Top-k is semantic
    * (TakeOrderedAndProject — k rows ever collected). The score is a
    * genuinely floating-point sum over ≤ |q| terms evaluated in fixed
    * expression order on both engines; 4-decimal floor-half-up
    * quantization narrows (not eliminates) cross-engine boundary risk —
    * the [[TrainingOps.unigramLogProb]] caveat applies. Ranking ties on
    * the QUANTIZED score break by doc_id, so the k-boundary is
    * engine-deterministic.
    */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    require(queryTerms.distinct == queryTerms, "query terms must be distinct")
    // tokens are lowercased below; a mixed-case term would silently score
    // 0 everywhere, and "Fox"/"fox" would evade the distinct check —
    // make the contract loud (ADVICE r7)
    require(queryTerms.forall(t => t == t.toLowerCase),
      s"query terms must be lowercase (tokens are lowercased): $queryTerms")
    val q = queryTerms.length
    val toks = Text.words(docs, "tok", col("doc_id").cast("long").as("doc_id"))
    val tfCols = queryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("tok") === t, 1L).otherwise(0L)).as(s"tf_$i")
    }
    val perDoc = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    // corpus stats: N, avgdl, per-term df — one tiny broadcast row
    val dfCols = (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl") +:
      (0 until q).map(i => sum((col(s"tf_$i") > 0).cast("long")).as(s"df_$i"))
    val stats = perDoc.agg(count(lit(1)).as("n_docs"), dfCols: _*)
    def termScore(i: Int): Column = {
      val tf = col(s"tf_$i").cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5)))
      val norm = tf * lit(k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
      when(col(s"tf_$i") > 0, idf * norm).otherwise(lit(0.0))
    }
    val nHit = (0 until q).map(i => (col(s"tf_$i") > 0).cast("long")).reduce(_ + _)
    val score = (0 until q).map(termScore).reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl").cast("long").as("n_tokens"),
        nHit.as("n_terms"),
        Text.halfUp(score, 4).as("score"))
      .where(col("n_terms") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }
}
