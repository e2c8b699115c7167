package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The blocking primitive behind every near-dup pair family: rows are keyed
  * into blocks (LSH bands, simhash chunks, shingles, hyperplane buckets,
  * k-means cells), blocks over a cap are purged, and each block's members
  * are paired — within one set ([[selfPairs]]) or across two
  * ([[crossPairs]]). Callers add only their score column and, where one
  * pair can share several blocks, a `distinct`. This is the token
  * blocking → block purging → pair generation pipeline of SparkER
  * (Gagliardelli et al., EDBT 2019).
  *
  * One rule for every cap: `cap ≤ 0` means no cap.
  *
  * Why purge at all: a web-scale corpus has mega-clusters of identical
  * rows (mirrors, boilerplate, byte-identical media), and one block of b
  * members emits b²/2 pairs. Its members are by construction identical,
  * which is exact dedup's job, not blocking's. A purged block is dropped
  * whole; [[purgedGroups]] is the exact count of what a cap dropped.
  */
object Blocking {

  /** Rows of `df` whose block (by `keys`) has at most `cap` members;
    * blocks above the cap are dropped entirely, and `cap ≤ 0` returns `df`
    * unchanged. The size probe is a plain count aggregation — bounded
    * state per block — so it can never blow up on the hot block it is
    * there to catch. The filter is a column predicate (whole-stage
    * codegen; no row lambda).
    *
    * Shape: TWO pinned-width exchanges on `keys` — the rows for the
    * join-back, and the probe's own copy carrying only the key columns.
    * Column pruning makes the two canonically unequal, so ReuseExchange
    * does not merge them, and `df`'s upstream (a signature/shingle
    * flatMap over the whole corpus) runs once per exchange
    * (`tools/Plans dd_minhash_pairs`: two `Exchange hashpartitioning(band,
    * bhash, REPARTITION_BY_NUM)`, one with `doc_id`, each above its own
    * banding `MapPartitions`). The width is pinned at the session's
    * shuffle-partition count because the stage downstream of a purge is
    * usually explosive (posting-list explode, block self-join): AQE sizes
    * post-shuffle reads by the exchange's small input bytes and would
    * serialize the explode onto one task. `shuffle_hash` builds on the block-key side instead of
    * sort-merging (no sort of the row side). */
  def purge(df: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    if (cap <= 0) df
    else {
      val n = df.sparkSession.sessionState.conf.numShufflePartitions
      val d1 = df.repartition(n, keys.map(col): _*)
      val kept = d1.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__gsz"))
        .filter(col("__gsz") <= cap)
        .drop("__gsz")
      d1.join(kept.hint("shuffle_hash"), keys)
    }

  /** Exact number of blocks (by `keys`) that [[purge]] drops at `cap`: 0
    * proves a capped run is identical to the uncapped one. It runs its own
    * action (a count over the same bounded-state count aggregation), so
    * the result is exact under task retry — an accumulator inside the
    * purge's shuffle-map stage could count a retried stage twice. */
  def purgedGroups(df: DataFrame, keys: Seq[String], cap: Int): Long =
    if (cap <= 0) 0L
    else df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__gsz"))
      .filter(col("__gsz") > cap)
      .count()

  /** Same-set pairs: [[purge]] `df`, then self-join it on `keys` with
    * `a.id < b.id`, so each unordered pair inside a block appears once per
    * shared block. Returns the join with its sides aliased `a` and `b`.
    *
    * `a.id < b.id` is a filter over the join, not part of its condition:
    * the optimizer merges it with a caller's score filter (lower filter
    * first) before pushing both into the join, so the cheap id test runs
    * before — and short-circuits — a costly score such as a cosine. */
  def selfPairs(df: DataFrame, keys: Seq[String], id: String, cap: Int): DataFrame = {
    val kept = purge(df, keys, cap)
    kept.as("a").join(kept.as("b"), sameBlock(keys)).where(col(s"a.$id") < col(s"b.$id"))
  }

  /** Cross-set pairs: each side is [[purge]]d on its own (a hot block on
    * EITHER side explodes the cross product), then `left ⋈ right` on
    * `keys` — never left×left or right×right. Returns the join with its
    * sides aliased `a` (left) and `b` (right). */
  def crossPairs(left: DataFrame, right: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    purge(left, keys, cap).as("a").join(purge(right, keys, cap).as("b"), sameBlock(keys))

  private def sameBlock(keys: Seq[String]) =
    keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
}
