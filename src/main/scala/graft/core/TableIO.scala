package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DataFrameReader, DataFrameWriter, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

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

  /** [[read]] with a known schema. A parquet path is read with it, so
    * Spark runs no schema-inference job (one single-task job per read
    * otherwise); instead the driver checks one data file's footer, so an
    * input missing or mistyping a column still fails before any job, where
    * a schema-given scan would read a missing column as nulls. Other
    * formats read as [[read]] does. */
  def read(spark: SparkSession, table: String, schema: StructType): DataFrame =
    if (format != "parquet") read(spark, table)
    else {
      requireColumns(spark, table, schema)
      spark.read.format(format).schema(schema).load(table)
    }

  /** Every field of `schema` is in the footer of `table`'s first data file
    * (by name, under the session's case rule) with the same type; structs
    * may carry extra fields, and nullability is not compared. */
  private def requireColumns(spark: SparkSession, table: String, schema: StructType): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(table)
    val fs = root.getFileSystem(conf)
    def firstFile(st: FileStatus): Option[FileStatus] =
      if (st.isFile) Some(st)
      else fs.listStatus(st.getPath).sortBy(_.getPath.getName).iterator
        .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
        .flatMap(firstFile).nextOption()
    val file = firstFile(fs.getFileStatus(root))
      .getOrElse(throw new IllegalArgumentException(s"$table holds no data file"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val found = try new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(reader.getFooter.getFileMetaData.getSchema) finally reader.close()
    val same = spark.sessionState.conf.resolver
    def covers(have: DataType, want: DataType): Boolean = (have, want) match {
      case (h: StructType, w: StructType) =>
        w.forall(f => h.exists(g => same(g.name, f.name) && covers(g.dataType, f.dataType)))
      case (ArrayType(h, _), ArrayType(w, _)) => covers(h, w)
      case _ => have == want
    }
    schema.foreach { f =>
      val g = found.find(g => same(g.name, f.name))
      require(g.exists(g => covers(g.dataType, f.dataType)),
        s"$table: column ${f.name} must be ${f.dataType.simpleString}, " +
          s"found ${g.fold("no such column")(_.dataType.simpleString)} in ${file.getPath.getName}")
    }
  }

  /** parquet-mr's per-column dictionary switch for the span text of
    * `array<struct<...text...>>` column `spans` (see [[write]]). */
  val SpanTextDictionary = "parquet.enable.dictionary#spans.list.element.text"

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
    //
    // Parquet also writes the extraction output's span text without a
    // dictionary: the text is nearly all distinct, so the dictionary
    // writer builds one and then falls back to plain encoding anyway. In
    // the benchmark's extraction call (JFR, 4 cores) dictionary writers
    // took 12.3% of executor samples with it, 5.1% without (the rest is
    // the low-cardinality columns, which keep theirs), and the output
    // shrank (`write.output_mib` 6.95 → 6.60). Only that column: the
    // ROADMAP's global dictionary-off A/B was flat.
    val w0: DataFrameWriter[org.apache.spark.sql.Row] =
      df.write.format(format).mode(mode)
    val w =
      if (format == "parquet") w0.option("compression", "zstd").option(SpanTextDictionary, "false")
      else if (pathBased) w0.option("compression", "zstd")
      else w0
    // a partitioned path write overwrites only the partitions it writes;
    // the option scopes that to this write instead of the session conf
    val wp =
      if (partitionBy.isEmpty) w
      else if (pathBased) w.option("partitionOverwriteMode", "dynamic").partitionBy(partitionBy: _*)
      else w.partitionBy(partitionBy: _*)
    if (pathBased) wp.save(table) else wp.saveAsTable(table)
  }
}
