package graft.queries

import scala.annotation.tailrec
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, GraftFrames, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LogicalPlan, Project, Repartition, Sort, Window}

/** Scale-adaptive shuffle sizing for the iterative operators (guide
  * §2.2/§2.4): partition counts are derived from MEASURED row counts —
  * never from the local core count — and session confs touched for the
  * eager region are restored before the operator returns. Small inputs,
  * by the plan-statistics estimate, get their own shapes: a spread scan
  * before a CPU-dense kernel, and a one-partition presentation sort.
  */
private[graft] object AdaptiveShuffle {

  /** Plan-statistics size at or under which an input is SMALL: its scan
    * planned few tasks (split size floors at `files.openCostInBytes`) and
    * one task holds and sorts it. The one bound [[spread]] and [[sortTail]]
    * share. */
  val smallInputBytes: Long = 8L << 20

  /** `plan`'s plan-statistics size, `Long.MaxValue` when it has none. */
  private def sizeEstimate(plan: => LogicalPlan): BigInt =
    try plan.stats.sizeInBytes
    catch { case NonFatal(_) => BigInt(Long.MaxValue) }

  /** Partition count for `rows` rows at 1,000,000 rows per partition (a
    * few tens of MB of narrow rows per task, inside the guide §2.2
    * 100 MB–1 GB band once join state is counted). Scales to thousands of
    * partitions at corpus size and to 1 on the bench faces. */
  def parts(rows: Long): Int = {
    val perPart = 1000000L
    math.max(1L, (rows + perPart - 1) / perPart).min(200000L).toInt
  }

  /** Spread a SMALL scan across the available slots before a CPU-dense
    * per-document kernel (typed flatMap or regex-heavy projection).
    * Parquet split planning floors split size at
    * `spark.sql.files.openCostInBytes` (4 MB), so a sub-MB documents
    * table plans 1 scan task and the kernel runs serial while the other
    * cores idle. Scale-adaptive by construction: when the scan already
    * carries at least half the default parallelism (any real corpus),
    * this is the identity — no shuffle is ever added at scale, where
    * repartitioning raw text before a map-only kernel would be waste
    * (guide §8: move heavy bytes as little as possible). Round-robin
    * repartition is deterministic under retry via Spark's
    * sort-before-repartition (guide §2.5). */
  def spread(df: DataFrame): DataFrame = {
    // Gate on the optimizer's SIZE estimate, not on df.rdd: under AQE,
    // .rdd materializes every upstream exchange as real jobs at
    // plan-construction time (duplicating a composed caller's joins),
    // while logical-plan stats are free. A small estimate means the scan
    // planned few tasks (split size floors at files.openCostInBytes);
    // composed/streaming inputs estimate large and pass through
    // untouched, as does any real corpus — no shuffle is ever added
    // where it would move real bytes.
    //
    // Width is a QUARTER of the slots, not all of them: every task pays
    // ~15–40 ms of fixed CPU (codegen/encoder init + interpreted
    // execution until JIT warms; measured at local[32], widest stage of
    // 100k-row SQL vs typed stages at 32/8/4 partitions: SQL ≈ 15 ms/task,
    // typed 18–39 ms/task — and 100–200 ms for wide-encoder doc kernels in
    // the per-stage profile `tools/QueryTime` prints), so on a small input
    // many short tasks burn more than they parallelize.
    val target = math.max(2, df.sparkSession.sparkContext.defaultParallelism / 4)
    if (sizeEstimate(df.queryExecution.optimizedPlan) <= smallInputBytes) df.repartition(target)
    else df
  }

  /** A query's presentation sort, planned for its size. A root global
    * `Sort` over a SMALL child becomes a local `Sort` over
    * `Repartition(1)`: the same rows in the same total order through one
    * single-partition exchange, instead of a range exchange whose bounds
    * cost a sampling job of their own. A child that is larger, or of
    * unknown size (`Long.MaxValue`: an RDD-built input, or a cut of one —
    * a cut keeps its origin's estimate), keeps the range sort, so nothing
    * changes at scale; so does a child already in one partition (a LIMIT
    * under row-local operators), where the range sort plans no exchange
    * at all. The estimate is the ANALYZED plan's: no optimizer pass and no
    * job while the query is built. */
  def sortTail(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case s @ Sort(_, true, child, _) if sizeEstimate(child) <= smallInputBytes && !limited(child) =>
      GraftFrames.ofRows(df.sparkSession,
        s.copy(global = false, child = Repartition(1, shuffle = true, child)))
    case _ => df
  }

  /** A LIMIT under row-local operators only: one partition's rows. */
  @tailrec private def limited(plan: LogicalPlan): Boolean = plan match {
    case _: GlobalLimit => true
    case p @ (_: Project | _: Filter | _: Window) => limited(p.children.head)
    case _ => false
  }

  private val pinLocks = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.locks.ReentrantLock]())

  /** Scoped session confs for an iterative op: inside `body`, AQE may
    * re-partition cached plans (`canChangeCachedPlanOutputPartitioning` —
    * helper caches get sized by data instead of inheriting
    * `spark.sql.shuffle.partitions` map-side), and `pin(p)` pins the
    * shuffle partition count once the edge/pair count is measured. Both
    * confs are put back when `body` ends — every eager action runs inside
    * the block and the returned DataFrames are checkpoint-truncated, so no
    * lazy work escapes it. Blocks on one session serialize on a reentrant
    * per-session lock held from save to restore, so two iterative queries
    * cannot save each other's pin and leave the session pinned. */
  def pinned[T](spark: SparkSession)(body: (Int => Unit) => T): T = {
    val kShuf = "spark.sql.shuffle.partitions"
    val kCache = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val lock = pinLocks.computeIfAbsent(spark,
      _ => new java.util.concurrent.locks.ReentrantLock())
    lock.lock()
    try {
      val oldShuf = spark.conf.getOption(kShuf)
      val oldCache = spark.conf.getOption(kCache)
      spark.conf.set(kCache, "true")
      try body(p => spark.conf.set(kShuf, p.toString))
      finally {
        oldShuf.fold(spark.conf.unset(kShuf))(spark.conf.set(kShuf, _))
        oldCache.fold(spark.conf.unset(kCache))(spark.conf.set(kCache, _))
      }
    } finally lock.unlock()
  }
}
