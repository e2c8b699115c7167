package graft.core

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.LogicalRDD

/** The materialization seams: build-once warehouse tables ([[store]]) and
  * eager lineage cuts ([[truncate]], reclaimed by [[release]]).
  *
  * Build-once guard for derived tables (signature stores, bucketed fact
  * copies): a `_graft_src` marker inside the table location records the
  * source tag the table was built from, and a matching marker skips the
  * build entirely. This is the production materialize-once seam made
  * explicit — the same derived table serves every later query, instead of
  * every DataFrame construction re-running the build write (round-4 ADVICE:
  * explain-only consumers like tools/Plans were executing a real write job
  * just to print a plan).
  *
  * The marker is written AFTER the build commits (write-tmp-then-rename,
  * the Checkpoint discipline), so a torn build leaves no marker and
  * rebuilds on the next call. Files named `_*` are ignored by Spark's and
  * DuckDB's parquet listings, so the marker can live inside the table
  * directory itself. Two concurrent sessions sharing one warehouse can
  * still race the build (both see no marker); the result converges — both
  * write the same deterministic content — but sessions needing isolation
  * should point `spark.sql.warehouse.dir` at per-run directories.
  */
object Materialize {

  /** Location of a derived table under the session warehouse. */
  def warehousePath(spark: SparkSession, name: String): Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"), name)

  private def readMarker(fs: org.apache.hadoop.fs.FileSystem, marker: Path): Option[String] =
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](4096)
        var n = in.read(tmp)
        while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        Some(new String(buf.toByteArray, StandardCharsets.UTF_8))
      } finally in.close()
    }

  /** Run `build` unless `loc` already carries a marker equal to `srcTag`
    * (tag = source identity + build parameters: any change rebuilds).
    * Returns true iff the build ran this call. */
  def onceAt(spark: SparkSession, loc: Path, srcTag: String)(build: => Unit): Boolean = {
    // The marker lives INSIDE a path-addressed table directory; under a
    // catalog format (GRAFT_TABLE_FORMAT=iceberg) `loc` would be passed to
    // saveAsTable as an identifier and the _graft_src file would never be
    // consulted — fail loudly instead of building a mis-addressed table.
    // Catalog deployments get build-once semantics from the catalog itself
    // (CREATE TABLE IF NOT EXISTS / snapshot metadata), not this seam.
    require(TableIO.pathBased,
      s"Materialize.onceAt is a path-layout seam (marker file inside the " +
        s"table dir); GRAFT_TABLE_FORMAT=${TableIO.format} addresses tables " +
        "by catalog identifier — gate the build on the catalog instead")
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new Path(loc, "_graft_src")
    if (readMarker(fs, marker).contains(srcTag)) false
    else {
      build
      val tmp = new Path(loc, "_graft_src.tmp")
      val out = fs.create(tmp, true)
      try out.write(srcTag.getBytes(StandardCharsets.UTF_8)) finally out.close()
      if (fs.exists(marker)) fs.delete(marker, false)
      if (!fs.rename(tmp, marker)) sys.error(s"marker rename failed: $tmp -> $marker")
      true
    }
  }

  /** The build-once warehouse table `name`: `build` is written through
    * [[TableIO.write]] unless the marker already carries `tag` ([[onceAt]]).
    * Returns the location, not a read — a caller that only needs the store
    * to exist lists no files. */
  def store(spark: SparkSession, name: String, tag: String)(build: => DataFrame): String = {
    val loc = warehousePath(spark, name)
    onceAt(spark, loc, tag)(TableIO.write(build, loc.toString))
    loc.toString
  }

  /** Eager lineage cut: materializes `ds` now and returns a scan of the
    * materialized rows, so the plan and the task lineage stop growing
    * (iterative loops) and a subtree several consumers reference runs
    * once (column pruning makes those references canonically unequal, so
    * neither CSE nor exchange reuse collapses them).
    *
    * The mode follows Spark's own deployment setting: with
    * `sparkContext.getCheckpointDir` set (distributed storage on a
    * cluster) this is a reliable `checkpoint`, otherwise a
    * `localCheckpoint`. Under executor loss, local checkpoint blocks die
    * with the executor and the job FAILS (never silently corrupts —
    * inputs are deterministic, there is no partial recompute), while
    * reliable checkpoints survive and the lost partitions re-read from
    * storage. Both modes are row-identical; local is the single-box
    * default because it skips the write-to-storage round trip. A cut that
    * lives as long as a lazy result (the pair faces' kernel cuts) is never
    * [[release]]d — `spark.cleaner.referenceTracking.cleanCheckpoints`
    * reclaims its reliable files. */
  def truncate[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) ds.checkpoint(eager = true)
    else ds.localCheckpoint(eager = true)

  /** Reclaims a [[truncate]]d table (or a projection of one) once nothing
    * reads it any more. `Dataset.unpersist()` frees neither kind of cut: a
    * local cut's blocks belong to the checkpointed RDD under the plan, not
    * to the cache manager, and a reliable cut's FILES stay on storage — an
    * iterative loop would keep one full copy per round. */
  def release(ds: Dataset[_]): Unit = {
    val cut = ds.queryExecution.logical match {
      case l: LogicalRDD => Some(l.rdd)
      case Project(_, l: LogicalRDD) => Some(l.rdd)
      case _ => None
    }
    for (rdd <- cut) {
      rdd.unpersist(blocking = false)
      rdd.getCheckpointFile.foreach { f =>
        val p = new Path(f)
        p.getFileSystem(ds.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
  }
}
