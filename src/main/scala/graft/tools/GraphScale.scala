package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.GraphOps

/** PageRank volume probe: wall time + EXACT-parity asserts for
  * `GraphOps.pageRank` on two deterministic graph families at increasing
  * sizes — evidence that per-round work is linear in edges and that the
  * integer arithmetic matches an independent reference at volume, not just
  * the unit-test graphs. Backs BASELINE.md's graph-centrality table.
  *
  * Families (deterministic, no RNG):
  *  - CHAIN: one path 0-1-…-(n-1), symmetrized (2(n-1) directed edges) —
  *    diameter-maximal; rank profile must be end-symmetric with interior
  *    nodes above the endpoints. Parity: full table equality against an
  *    O(n·iters) driver-side array reference (exact longs, 0 mismatches).
  *  - STARS: disjoint 100-leaf stars — the hub/authority shape. All hubs
  *    are interchangeable and all leaves are interchangeable, so the
  *    EXACT invariant is: exactly two distinct rank values with the
  *    per-role counts, equal to a two-scalar reference recurrence.
  *
  * The growth record's α: 1.0 = linear in nodes ~ edges. PageRank's
  * rounds are FIXED and the triangle wedge volume is bounded per node on
  * both families, so any α > 1 is shuffle overhead, not the algorithm.
  *
  * Env: GRAPHSCALE_SIZES (csv node counts, default "100000,400000"),
  * GRAPHSCALE_ITERS (default 4), SPARK_GRAFT_CPUS.
  */
object GraphScale {
  import Probe.time

  def chainEdges(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, n - 1).flatMap(i =>
      Seq((i.toString, (i + 1).toString), ((i + 1).toString, i.toString)))
      .toDF("src", "dst")
  }

  /** Driver-side exact integer reference for the symmetrized chain. */
  def chainRef(n: Int, iters: Int): Array[Long] = {
    val od = Array.tabulate(n)(i => if (i == 0 || i == n - 1) 1L else 2L)
    val base = math.floor(1.5e8 / n).toLong
    var r = Array.fill(n)(math.floor(1e9 / n).toLong)
    for (_ <- 0 until iters) {
      val sh = Array.tabulate(n)(i => math.floor(r(i).toDouble / od(i)).toLong)
      val nx = new Array[Long](n)
      var i = 0
      while (i < n) {
        var c = 0L
        if (i > 0) c += sh(i - 1)
        if (i < n - 1) c += sh(i + 1)
        nx(i) = base + math.floor(c.toDouble * 85.0 / 100.0).toLong
        i += 1
      }
      r = nx
    }
    r
  }

  /** nStars disjoint stars, 100 leaves each: node ids "s<k>h" (hub) and
    * "s<k>l<j>" (leaves); 200 directed edges per star. */
  def starEdges(spark: SparkSession, nStars: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, nStars).flatMap { k =>
      (0 until 100).iterator.flatMap(j =>
        Seq((s"s${k}h", s"s${k}l$j"), (s"s${k}l$j", s"s${k}h")))
    }.toDF("src", "dst")
  }

  /** Two-scalar exact recurrence: (hubRank, leafRank) per round. */
  def starRef(nNodes: Long, iters: Int): (Long, Long) = {
    val base = math.floor(1.5e8 / nNodes).toLong
    var hub = math.floor(1e9 / nNodes).toLong
    var leaf = hub
    for (_ <- 0 until iters) {
      val hubShare = math.floor(hub.toDouble / 100.0).toLong // od(hub) = 100
      val leafShare = leaf                                   // od(leaf) = 1
      val nHub = base + math.floor((100L * leafShare).toDouble * 85.0 / 100.0).toLong
      val nLeaf = base + math.floor(hubShare.toDouble * 85.0 / 100.0).toLong
      hub = nHub; leaf = nLeaf
    }
    (hub, leaf)
  }

  def main(args: Array[String]): Unit = Probe.withSpark() { spark =>
    val sizes = Probe.sizes("GRAPHSCALE_SIZES", "100000,400000")
    val iters = sys.env.getOrElse("GRAPHSCALE_ITERS", "4").toInt
    import spark.implicits._

    // warm codepaths so the smallest size isn't charged JVM/codegen startup
    GraphOps.pageRank(spark, chainEdges(spark, 500), iters).count()

    Probe.sweep("GRAPHSCALE", sizes) { n =>
      require(n >= 101 && n <= Int.MaxValue,
        s"GRAPHSCALE_SIZES entries must be in [101, 2^31): got $n " +
          "(star family needs >= 1 star; chainRef indexes an Int array)")
      val (chainOut, chainSec) =
        time { val d = GraphOps.pageRank(spark, chainEdges(spark, n), iters); d.count(); d }
      val ref = chainRef(n.toInt, iters)
      val refDf = spark.range(0L, n)
        .map(i => (i.toString, ref(i.toInt))).toDF("node", "ref")
      val mism = chainOut.join(refDf, Seq("node"), "full")
        .where(col("rank_units").isNull || col("ref").isNull ||
          col("rank_units") =!= col("ref")).count()
      assert(mism == 0L, s"chain n=$n: $mism rank mismatches vs the exact reference")
      val ends = chainOut.where(col("node").isin("0", (n - 1).toString))
        .select(col("rank_units")).distinct().count()
      assert(ends == 1L, s"chain n=$n: endpoint ranks differ")

      val nStars = n / 101
      val (starOut, starSec) =
        time { val d = GraphOps.pageRank(spark, starEdges(spark, nStars), iters); d.count(); d }
      val (hubRef, leafRef) = starRef(nStars * 101L, iters)
      val byRank = starOut.groupBy(col("rank_units")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(byRank == Map(hubRef -> nStars, leafRef -> nStars * 100L),
        s"stars n=${nStars * 101}: rank histogram $byRank != exact reference " +
          s"Map($hubRef -> $nStars, $leafRef -> ${nStars * 100})")
      assert(hubRef > leafRef, "hub must out-rank leaves")

      // triangle rungs: disjoint 5-cliques (every node degree 4 with
      // EXACTLY C(4,2) = 6 triangles) and the star forest (0 triangles —
      // the degree-ordered orientation keeps hub wedges from exploding)
      val nCl = n / 5
      val cliqueEdges = {
        import spark.implicits._
        spark.range(0L, nCl).flatMap { c =>
          val base = c * 5
          for {
            i <- 0 until 5; j <- 0 until 5 if i != j
          } yield (s"c${base + i}", s"c${base + j}")
        }.toDF("src", "dst")
      }
      val (cliqueHist, cliqueTriSec) = time {
        graft.queries.GraphOps.triangleStats(spark, cliqueEdges)
          .groupBy(col("degree"), col("triangles")).count().collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      }
      assert(cliqueHist == Map((4L, 6L) -> (nCl * 5L)),
        s"clique triangles: $cliqueHist != every node (degree 4, 6 triangles)")
      val (starTriZero, starTriSec) = time {
        graft.queries.GraphOps.triangleStats(spark, starEdges(spark, nStars))
          .where(col("triangles") =!= 0L).count()
      }
      assert(starTriZero == 0L, s"star forest grew $starTriZero triangles")

      Seq("iters" -> iters, "chain_sec" -> chainSec, "chain_mismatches" -> mism,
        "stars" -> nStars, "star_nodes" -> nStars * 101, "star_sec" -> starSec,
        "hub" -> hubRef, "leaf" -> leafRef, "clique_tri_sec" -> cliqueTriSec,
        "star_tri_sec" -> starTriSec)
    }
  }
}
