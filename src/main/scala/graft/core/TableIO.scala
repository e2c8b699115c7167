package graft.core

import org.apache.spark.sql.{DataFrame, DataFrameReader, DataFrameWriter, SparkSession}

/** The single read/write seam between the engine and table storage
  * (SURVEY.md §7.1 step 2, §7.3).
  *
  * The north rule targets Iceberg tables; this sandbox ships no Iceberg
  * jars (verified: none under /opt/spark/jars), so the default
  * implementation is partitioned Parquet with an Iceberg-compatible schema
  * — switching a real cluster to Iceberg is a one-line `format` change
  * HERE (plus catalog config), nowhere else: every job and query reads and
  * writes through these two calls.
  *
  * `GRAFT_TABLE_FORMAT=iceberg` flips the format at runtime when the jars
  * and a catalog are present; identifiers then resolve as catalog tables
  * rather than paths.
  */
object TableIO {

  /** Resolved at CALL time, not class-load time: the `graft.table.format`
    * system property wins (lets CatalogSeamSpec exercise the catalog
    * branch in-JVM — an env-var val would freeze the seam at first touch),
    * then the deployment's `GRAFT_TABLE_FORMAT`, then parquet. */
  def format: String =
    sys.props.getOrElse("graft.table.format",
      sys.env.getOrElse("GRAFT_TABLE_FORMAT", "parquet"))

  /** True when `format` addresses tables by filesystem path (parquet/orc);
    * false for catalog formats (iceberg), where identifiers are table
    * names. Public because the marker-gated stores ([[Materialize]]) are a
    * path-layout mechanism and must refuse catalog formats loudly. */
  def pathBased: Boolean = format == "parquet" || format == "orc"

  def read(spark: SparkSession, table: String): DataFrame = {
    val r: DataFrameReader = spark.read.format(format)
    if (pathBased) r.load(table) else r.table(table)
  }

  def write(df: DataFrame, table: String, mode: String = "overwrite",
      partitionBy: Seq[String] = Nil): Unit = {
    // zstd (r8, guide §6): measured on the 300k-doc extraction output —
    // 249 MB vs snappy's 337 MB at equal-or-better write wall (zstd
    // 10.23 s vs snappy 10.64 s min-of-2 at 8 cores; the benchmark's
    // traced run reports the output size as `write.output_mib`); DuckDB
    // reads zstd parquet natively. Parquet and ORC both take the codec.
    // Path-based (parquet/orc) only: a catalog format configures
    // compression through table properties, and the seam test's `json`
    // provider stand-in has no zstd codec.
    val w0: DataFrameWriter[org.apache.spark.sql.Row] =
      df.write.format(format).mode(mode)
    val w = if (pathBased) w0.option("compression", "zstd") else w0
    // a partitioned path write overwrites only the partitions it writes;
    // the option scopes that to this write instead of the session conf
    val wp =
      if (partitionBy.isEmpty) w
      else if (pathBased) w.option("partitionOverwriteMode", "dynamic").partitionBy(partitionBy: _*)
      else w.partitionBy(partitionBy: _*)
    if (pathBased) wp.save(table) else wp.saveAsTable(table)
  }
}
