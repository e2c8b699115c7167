package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Materialize

/** Graph centrality over the extraction's entity graph.
  *
  * Reference behavior: openfoia renders the entity co-occurrence graph as
  * a JSON export (S8 sink) and leaves ranking to the UI; at corpus scale
  * the graph itself is the analysis surface — PageRank over co-mention
  * edges is the standard "which entities anchor this corpus" query
  * (Page et al. 1999, "The PageRank Citation Ranking").
  *
  * Round-8 shuffle doctrine (guide §2.2/§2.4): every iterative operator
  * here (a) derives its partition count from the MEASURED edge count
  * (`AdaptiveShuffle.parts`: 1M edge rows ≈ tens of MB per task — never a
  * core count tuned to one box), (b) persists the
  * edge table HASH-PARTITIONED on the per-round join key so the edge-sized
  * shuffle happens once per run instead of once per round, and (c) opens
  * AQE into cached-plan materialization
  * (`canChangeCachedPlanOutputPartitioning`) so helper caches are sized by
  * data, not by `spark.sql.shuffle.partitions`. Session confs touched are
  * restored in a finally — callers see no conf drift.
  */
object GraphOps {

  /** PageRank in EXACT integer arithmetic, damping 0.85, fixed iteration
    * count. Ranks are scaled to 1e9 "rank units"; every division is a
    * `floor` over magnitudes far below 2^53, so double division is exact
    * at the floor boundary (a quotient's distance from an integer is
    * ≥ 1/denominator ≫ one ulp at 1e9 scale, and exact-integer quotients
    * are exactly representable) — both engines land on identical longs,
    * with no floating-point quantization caveat anywhere in the operator.
    * The floor drops < 1 unit per node per round (the classic integer-
    * PageRank mass leak, bounded by iters·N units of 1e9·N total — ~1e-7
    * relative); no dangling-mass term because co-occurrence edges are
    * symmetrized, so every node has out-degree ≥ 1.
    *
    * This is [[pageRankWeighted]] with every edge weight 1: W(u) is then
    * the out-degree, and ⌊r·1/W(u)⌋ is the same double arithmetic as the
    * uniform share ⌊r/od⌋.
    *
    * Scale shape: per round, ONE edge join against the node-sized rank
    * table (per-edge floor projection) + map-side-combinable sum shuffled
    * on dst, ONE left join back to the node table. Edges, with their
    * source's out-weight, are computed once and persisted; the rank
    * lineage is truncated every `cpEvery` rounds (`Materialize.truncate`
    * — the [[TrainingOps.connectedComponents]] plan-size doctrine), so the
    * plan stays bounded at any iteration count.
    *
    * `edges` must be DISTINCT directed (src, dst) string pairs — pass
    * both directions for an undirected graph; multi-edges would
    * double-count contributions.
    */
  def pageRank(spark: SparkSession, edges: DataFrame, iters: Int = 4,
      cpEvery: Int = 8): DataFrame =
    run(spark, edges.select(col("src"), col("dst"), lit(1L).as("w")), iters, cpEvery,
      seedPred = None)

  /** Personalized PageRank: the teleport mass lands ONLY on the seed
    * nodes selected by `seedPred` (a predicate over the `node` column),
    * so ranks measure importance RELATIVE to the seed topic (Page et al.
    * 1999 §6's personalized vector, restricted to a uniform seed set —
    * e.g. "which entities anchor this corpus as seen from its PERSON
    * mentions"). Same exact integer arithmetic and per-round shape as
    * [[pageRank]]: r₀ = ⌊1e9/|S|⌋ on seeds else 0, and each round adds
    * ⌊1.5e8/|S|⌋ on seeds else 0 plus the floored damped in-mass.
    * Non-seed components drain toward 0 — rank mass cannot enter a
    * component with no seed, which is the semantics a topic-conditioned
    * ranking wants. Requires at least one seed node in the graph. */
  def pageRankSeeded(spark: SparkSession, edges: DataFrame, seedPred: Column,
      iters: Int = 4, cpEvery: Int = 8): DataFrame =
    run(spark, edges.select(col("src"), col("dst"), lit(1L).as("w")), iters, cpEvery,
      seedPred = Some(seedPred))

  /** Weight-proportional PageRank: each node's out-mass splits across
    * its out-edges ∝ integer edge weight (here: co-mention support
    * `n_docs`) instead of uniformly — share(e) = ⌊r(u)·w(e) / W(u)⌋ with
    * W(u) = Σ out-weights. Same exact-integer doctrine as [[pageRank]]:
    * r·w ≤ 1e9·maxW stays far below 2^53 (products exact), the quotient's
    * distance from an integer is ≥ 1/W(u) ≫ one ulp of a ≤ 1e9-scale
    * result, so both engines land on identical longs. [[pageRank]] and
    * [[pageRankSeeded]] run this same loop with unit weights, so equal
    * weights are BIT-IDENTICAL to [[pageRank]] by construction (OpsSpec
    * pins it). Per round: one fan-out-1 join of ranks onto the weighted
    * edge list (shares are per-EDGE), one map-side-combinable sum on dst,
    * one node left join.
    *
    * `edges` must be DISTINCT symmetric (src, dst, w) rows with integer
    * w ≥ 1. */
  def pageRankWeighted(spark: SparkSession, edges: DataFrame, iters: Int = 4,
      cpEvery: Int = 8): DataFrame =
    run(spark, edges, iters, cpEvery, seedPred = None)

  /** Per-node triangle counts + degree via the degree-ordered
    * node-iterator (Suri & Vassilvitskii 2011, "Counting Triangles and the
    * Curse of the Last Reducer" — the MapReduce-optimal shape): each
    * undirected edge is oriented from its (degree, node)-smaller endpoint,
    * wedges are pairs of ORIENTED out-neighbors, and a wedge closes iff
    * its (v1 < v2) endpoints are a canonical edge — every triangle counted
    * exactly once at its lowest-degree corner. Wedge volume is
    * Σ outdeg² ≤ O(E^{3/2}) for ANY graph (the orientation caps outdeg at
    * ~√(2E)) — the hot-node quadratic blowup a naive neighbor self-join
    * has on co-mention hubs cannot happen. Output is all exact longs
    * (node, degree, triangles) — the local clustering coefficient is
    * 2·triangles/(degree·(degree−1)), left rational for the caller so no
    * fp enters the operator.
    *
    * `edges` must be DISTINCT symmetric directed (src, dst) string pairs
    * (the [[pageRank]] contract). */
  def triangleStats(spark: SparkSession, edges: DataFrame): DataFrame = {
    // cut the INPUT edge build once: without it the upstream build (e.g.
    // the co-mention self-join) re-executed once per consumer — measured
    // 2× on the bench face. canon, deg and o are re-derived from the cut
    // per consumer, not cached: caching the four cost more jobs than the
    // recompute saves (22 → 18–19 jobs per call at sf0.001)
    AdaptiveShuffle.pinned(spark) { pin =>
      val e = Materialize.truncate(edges.select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst")))
      val nEdges = e.count()
      val p = AdaptiveShuffle.parts(nEdges)
      pin(p)
      val canon = e.where(col("src") < col("dst"))
        .select(col("src").as("a"), col("dst").as("b"))
      val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      val withDeg = canon
        .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
      val lowFirst = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      val o = withDeg.select(
        when(lowFirst, col("a")).otherwise(col("b")).as("u"),
        when(lowFirst, col("b")).otherwise(col("a")).as("v"))
      val w = o.as("e1").join(o.as("e2"),
          col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
        .select(col("e1.u").as("u"), col("e1.v").as("v1"), col("e2.v").as("v2"))
      val tri = w.join(canon, col("v1") === col("a") && col("v2") === col("b"))
        .select(col("u"), col("v1"), col("v2"))
      val perNode = tri
        .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
      // eager-truncate, then release the input cut (the pageRank doctrine)
      val out = Materialize.truncate(deg.join(perNode, Seq("node"), "left")
        .select(col("node"), col("d").cast("long").as("degree"),
          coalesce(col("triangles"), lit(0L)).cast("long").as("triangles")))
      Materialize.release(e)
      out
    }
  }

  /** The one rank loop behind all three faces: `edges` are (src, dst, w)
    * rows, each node's out-mass splits ∝ w, and `seedPred` (None = every
    * node) gates the start and teleport mass. */
  private def run(spark: SparkSession, edges: DataFrame, iters: Int,
      cpEvery: Int, seedPred: Option[Column]): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(cpEvery > 0, s"cpEvery must be > 0, got $cpEvery")
    AdaptiveShuffle.pinned(spark) { pin =>
      val eRaw = edges.select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst"), col("w").cast("long").as("w"))
        .persist()
      val nEdges = eRaw.count() // materializes the edge build once; sizes p
      val p = AdaptiveShuffle.parts(nEdges)
      pin(p)
      // Edge table hash-partitioned on src ONCE: the per-round rank join
      // reuses this partitioning every round (`ew` below inherits it), so
      // the only per-round exchange left is the fundamental contribution
      // reduce on dst (guide §2.4 "two operations keyed the same way share
      // one exchange"; the r7 form re-exchanged edges every round).
      val e = eRaw.repartition(p, col("src")).persist()
      // distinct() under the pinned conf already exchanges hash(node, p) —
      // an explicit repartition would just add a second exchange
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct().persist()
      val isSeed = seedPred.getOrElse(lit(true))
      val n = nodes.where(isSeed).count() // scalar action — seed/node count
      eRaw.unpersist() // e and nodes are materialized now — drop the raw copy
      if (n == 0) {
        e.unpersist(); nodes.unpersist()
        require(seedPred.isEmpty, "pageRankSeeded: no seed node is in the graph")
        nodes.select(col("node"), lit(0L).as("rank_units"))
      } else {
        // W(u) = Σ out-weights rides EVERY edge row as a constant across
        // rounds — joined ONCE here, not once per round. wtot inherits e's
        // (src, p) partitioning — a complete per-partition aggregation, zero
        // exchange (all out-edges of a node co-reside).
        val wtot = e.groupBy(col("src")).agg(sum(col("w")).as("wt"))
        val ew = e.join(wtot, "src")
          .select(col("src"), col("dst"), col("w"), col("wt")).persist()
        // ⌊SCALE/|S|⌋ start mass and ⌊(1-d)·SCALE/|S|⌋ per-round teleport,
        // landing on seeds only (uniform PageRank: every node is a seed)
        val r0 = math.floor(1e9 / n).toLong
        val base = math.floor(1.5e8 / n).toLong
        val out = iterate(nodes.select(col("node"),
            when(isSeed, lit(r0)).otherwise(lit(0L)).as("r")), iters, cpEvery) { ranks =>
          // shuffle_hash hints: build the hash map on the node-sized side
          // and STREAM the edge side — a sort-merge join would re-sort the
          // edge partitions every round (guide §3.1)
          val contrib = ew
            .join(ranks.withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
            .select(col("dst"),
              floor(col("r").cast("double") * col("w") / col("wt")).as("s"))
            .groupBy(col("dst").as("node")).agg(sum(col("s")).as("c"))
          nodes.join(contrib.hint("shuffle_hash"), Seq("node"), "left")
            .select(col("node"), (when(isSeed, lit(base)).otherwise(lit(0L)) +
              floor(coalesce(col("c"), lit(0L)).cast("double") * 85.0 / 100.0)).as("r"))
        }
        e.unpersist(); nodes.unpersist(); ew.unpersist()
        out
      }
    }
  }

  /** `iters` rounds of `step` over the (node, r) rank table, truncated
    * every `cpEvery` rounds; returns (node, rank_units) eagerly truncated
    * so the caller can release its helper tables NOW (the round-6 ADVICE
    * reclaim doctrine) — node-sized, so the extra materialization is O(N)
    * rows. Each superseded cut is released once the next one is
    * materialized. */
  private def iterate(r0: DataFrame, iters: Int, cpEvery: Int)(
      step: DataFrame => DataFrame): DataFrame = {
    var ranks = r0
    var cut: Option[DataFrame] = None
    for (i <- 1 to iters) {
      ranks = step(ranks)
      if (i % cpEvery == 0) {
        ranks = Materialize.truncate(ranks)
        cut.foreach(Materialize.release)
        cut = Some(ranks)
      }
    }
    val out = Materialize.truncate(
      ranks.select(col("node"), col("r").cast("long").as("rank_units")))
    cut.foreach(Materialize.release)
    out
  }
}
