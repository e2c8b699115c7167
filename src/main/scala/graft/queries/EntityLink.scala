package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Doc
import graft.gen.SpanGen
import graft.kernel.Extractor

/** Cross-document entity linking — the Spark re-expression of the
  * reference's `EntityLinker._find_or_create_canonical`
  * (/root/reference/openfoia/pipeline/extract.py:296-377), which is an
  * O(n²) Python nested loop over canonicals. SURVEY.md §2 J2.
  *
  * Two tiers, exactly as the reference's match logic (extract.py:310-344):
  *  1. exact tier: lowercase-normalized equality within entity type
  *     → a plain equi-groupBy (shuffle on (type, norm); partial agg
  *       map-side — linear, not quadratic);
  *  2. containment tier: `a in b or b in a` with both lengths > 3
  *     (extract.py:327-331) → broadcast the (small, already-deduped)
  *     canonical set against itself; canonical = lexicographically smallest
  *     member of the containment cluster (deterministic; the reference's
  *     "first seen wins" is insertion-order-dependent and not reproducible
  *     under parallelism, so we pin min() — semantics documented here).
  *
  * Scale: tier 1 is the only full-data shuffle. Tier 2 operates on
  * DISTINCT canonical strings per type (orders of magnitude smaller than
  * mentions — that's the point of tiering); it broadcasts that dedup'd set,
  * so no quadratic pair shuffle ever touches the mention table.
  */
object EntityLink {

  /** Mentions table from the extraction kernel over the generated corpus:
    * (doc_id, entity_type, raw, norm). */
  def mentions(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, nDocs)
      .map(i => Extractor.extractDoc(SpanGen.genDoc(SpanGen.docId(i))))
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .where(col("s.kind").startsWith("entity:"))
      .select(
        col("doc_id"),
        substring(col("s.kind"), 8, 64).as("entity_type"),
        col("s.text").as("raw"),
        lower(col("s.text")).as("norm"))
  }

  /** Mentions from a MATERIALIZED exploded-spans table (doc_id, seq, kind,
    * text) — the production shape: extraction runs once and every linking
    * query scans the store, instead of a lazy plan re-running the kernel
    * once per DataFrame reference (linkStats references the mention table
    * up to 4×). Content-identical to [[mentions]] over the same corpus by
    * construction (the store is the kernel's output). */
  def mentionsFromStore(store: DataFrame): DataFrame =
    store.where(col("kind").startsWith("entity:"))
      .select(
        col("doc_id"),
        substring(col("kind"), 8, 64).as("entity_type"),
        col("text").as("raw"),
        lower(col("text")).as("norm"))

  /** Tier-1 exact canonicals: one row per (type, norm) with mention count
    * and alias count, argmax-by-count raw form kept as display form
    * (reference keeps max-confidence member, extract.py:250-255; counts are
    * our deterministic stand-in for its LLM confidences). `n_aliases` counts
    * the distinct raw surface forms — the cardinality of the reference's
    * per-canonical alias set (extract.py:363-377 exports `aliases`). */
  def exactCanonicals(mentionsDf: DataFrame): DataFrame = {
    val base = mentionsDf
      .groupBy(col("entity_type"), col("norm"))
      .agg(
        count(lit(1)).as("occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("raw")).as("n_aliases"))
    // display form = most frequent raw variant (ties → lexicographically
    // greatest, a total order); pre-aggregated so max_by sees a plain column
    val display = mentionsDf
      .groupBy(col("entity_type"), col("norm"), col("raw"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("entity_type"), col("norm"))
      .agg(max_by(col("raw"), struct(col("c"), col("raw"))).as("display"))
    base.join(display, Seq("entity_type", "norm"))
  }

  /** Tier-2 containment clusters over the deduped canonicals of one type:
    * edges where a ⊂ b or b ⊂ a (len > 3 both sides, extract.py:327-331);
    * cluster representative = min(norm) over the edge closure (1 hop —
    * the reference also does single-pass matching, not transitive closure).
    *
    * Plan: 4-gram blocking instead of the all-pairs NLJ. If `short` is a
    * substring of `long`, then short's first 4 characters occur in long as
    * a 4-gram (both are > 3 chars here), so an equi-join of each
    * canonical's 4-char PREFIX against an inverted index of every
    * canonical's distinct 4-grams generates a candidate superset with NO
    * false negatives; contains() verifies exactly. The gram index is linear
    * in total canonical text, so the tier stays an equi-shuffle at any
    * canonical count — the round-1 broadcast NLJ was quadratic per type
    * (VERDICT.md plan audit, j4_entity_link). */
  def containmentLinks(spark: SparkSession, canon: DataFrame): DataFrame = {
    import spark.implicits._
    val slim = canon.select(col("entity_type"), col("norm")).where(length(col("norm")) > 3)
    val grams = slim.as[(String, String)]
      .flatMap { case (t, n) =>
        val gs = scala.collection.mutable.LinkedHashSet.empty[String]
        var i = 0
        while (i + 4 <= n.length) { gs += n.substring(i, i + 4); i += 1 }
        gs.iterator.map(g => (t, g, n))
      }.toDF("entity_type", "gram", "long")
    val probes = slim.select(col("entity_type"),
      substring(col("norm"), 1, 4).as("gram"), col("norm").as("short"))
    val contained = probes.join(grams, Seq("entity_type", "gram"))
      .where(col("short") =!= col("long") && col("long").contains(col("short")))
      .select(col("entity_type"), col("short"), col("long")).distinct()
    // the NLJ emitted both orientations of every containment pair; replay
    // that from the directed (short ⊂ long) edges
    val edges = contained
      .select(col("entity_type"), col("short").as("norm"),
        least(col("short"), col("long")).as("cand"))
      .union(contained.select(col("entity_type"), col("long").as("norm"),
        least(col("short"), col("long")).as("cand")))
    edges.groupBy(col("entity_type"), col("norm"))
      .agg(min(col("cand")).as("canonical_norm"))
  }

  /** Full linking output: every canonical with its final cluster id, alias
    * count, and a ConfidenceLevel bucket (models.py:95-99 enum). The numeric
    * confidence is a deterministic stand-in for the reference's LLM
    * per-entity score (extract.py:323 keeps the max over merged members):
    * corroboration across documents ⇒ 0.5 + 0.1·n_docs, capped at 1.0.
    * Bucketing: ≥0.9 confirmed, ≥0.7 probable, ≥0.4 possible, else
    * unresolved (cut points documented — the reference enum pins no
    * numbers). */
  def linked(spark: SparkSession, nDocs: Long): DataFrame =
    linkedFrom(spark, mentions(spark, nDocs))

  /** [[linked]] over an arbitrary mentions table (see [[mentionsFromStore]]). */
  def linkedFrom(spark: SparkSession, mentionsDf: DataFrame): DataFrame = {
    val canon = exactCanonicals(mentionsDf)
    val links = containmentLinks(spark, canon)
    val confidence = least(lit(1.0), lit(0.5) + col("n_docs") * 0.1)
    canon.join(links, Seq("entity_type", "norm"), "left")
      .select(
        col("entity_type"),
        col("norm"),
        coalesce(col("canonical_norm"), col("norm")).as("canonical"),
        col("occurrences"),
        col("n_docs"),
        col("n_aliases"),
        OcrOps.confidenceLevel(confidence).as("confidence_level"))
  }

  /** Alias sets per canonical — the reference's export shape
    * (extract.py:363-377: every canonical carries `aliases`, the list of
    * raw surface forms merged into it). Kept as an API (array column) for
    * library users; driver-facing queries expose the scalar aggregate face
    * instead (array result columns crash the harness's comparer). */
  def aliasSets(spark: SparkSession, nDocs: Long): DataFrame =
    mentions(spark, nDocs)
      .groupBy(col("entity_type"), col("norm"))
      .agg(sort_array(collect_set(col("raw"))).as("aliases"))

  /** Scalar face: canonicals and alias volume per (type, confidence level). */
  def aliasStats(spark: SparkSession, nDocs: Long): DataFrame =
    aliasStatsFrom(spark, mentions(spark, nDocs))

  /** [[aliasStats]] over an arbitrary mentions table. */
  def aliasStatsFrom(spark: SparkSession, mentionsDf: DataFrame): DataFrame =
    linkedFrom(spark, mentionsDf)
      .groupBy(col("entity_type"), col("confidence_level"))
      .agg(
        count(lit(1)).as("n_canonicals"),
        sum(col("n_aliases")).cast("long").as("total_aliases"),
        max(col("n_aliases")).cast("long").as("max_aliases"))

  /** Entity co-occurrence edges — the deterministic analog of the
    * reference's LLM relationship extraction (extract.py:99-103 →
    * entity_links table, models.py:114-122 `EntityRelationship(relation,
    * evidence)`): two canonical mentions related iff they appear in the
    * same document; weight = #docs. The edge carries the reference's
    * `relation` label (always "co_mentioned" — the LLM-free analog of its
    * free-text relation) and `evidence_doc`, the smallest doc_id
    * witnessing the edge (the reference keeps an evidence excerpt; the
    * deterministic scalar face keeps the pointer to one witnessing doc).
    * Self-join on doc_id over the (small) distinct (doc, type, norm)
    * projection — never over raw mention volume. */
  def cooccurrence(spark: SparkSession, nDocs: Long, minDocs: Long = 3): DataFrame =
    cooccurrenceFrom(mentions(spark, nDocs), minDocs)

  /** [[cooccurrence]] over an arbitrary mentions table. */
  def cooccurrenceFrom(mentionsDf: DataFrame, minDocs: Long = 3): DataFrame = {
    // ONE pinned-width exchange on doc_id serves the dedup AND both
    // self-join sides (r8, the Blocking.purge doctrine): hash(doc_id)
    // satisfies the dedup's clustered distribution (equal (doc, type,
    // norm) rows share a doc_id), so distinct() runs in place with no
    // second exchange, and the self-join on doc_id is co-partitioned.
    // Pinned width because the join's pair fan-out is quadratic per doc —
    // AQE would size the read by the (small) mention bytes and serialize
    // the pair generation onto one task.
    val n = mentionsDf.sparkSession.sessionState.conf.numShufflePartitions
    val m = mentionsDf
      .select(col("doc_id"), col("entity_type"), col("norm"))
      .repartition(n, col("doc_id")).distinct()
    m.as("a").join(m.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          (col("a.entity_type") < col("b.entity_type") ||
            (col("a.entity_type") === col("b.entity_type") && col("a.norm") < col("b.norm"))))
      .groupBy(col("a.entity_type").as("type_a"), col("a.norm").as("norm_a"),
        col("b.entity_type").as("type_b"), col("b.norm").as("norm_b"))
      .agg(count(lit(1)).as("n_docs"), min(col("a.doc_id")).as("evidence_doc"))
      .where(col("n_docs") >= minDocs)
      .withColumn("relation", lit("co_mentioned"))
      .select(col("type_a"), col("norm_a"), col("type_b"), col("norm_b"),
        col("relation"), col("n_docs"), col("evidence_doc"))
  }

  /** Per-type linking stats — the stable, orderable face for the driver. */
  def linkStats(spark: SparkSession, nDocs: Long): DataFrame =
    linkStatsFrom(spark, mentions(spark, nDocs))

  /** [[linkStats]] over an arbitrary mentions table. */
  def linkStatsFrom(spark: SparkSession, mentionsDf: DataFrame): DataFrame =
    linkedFrom(spark, mentionsDf)
      .groupBy(col("entity_type"))
      .agg(
        count(lit(1)).as("n_canonicals"),
        countDistinct(col("canonical")).as("n_clusters"),
        sum(col("occurrences")).cast("long").as("n_mentions"))
}
