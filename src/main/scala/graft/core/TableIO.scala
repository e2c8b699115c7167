package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.hadoop.util.Shell
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DataFrameWriter, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
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

  /** `table` as a DataFrame. A parquet table is read with its footer
    * schema ([[readParquet]]), so Spark runs no schema-inference job;
    * partition columns are still discovered from the directory names. */
  def read(spark: SparkSession, table: String): DataFrame =
    if (format == "parquet") readParquet(spark, table)
    else if (pathBased) spark.read.format(format).load(table)
    else spark.read.format(format).table(table)

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

  /** The schema Spark would infer for the parquet `table` without
    * `mergeSchema`, read on the driver from one data file's footer instead
    * of in a single-task inference job: the footer's Spark row-metadata
    * schema if it carries one, else its parquet schema converted under the
    * session's conf. Returns the file's name too, for error messages. */
  private def footerSchema(spark: SparkSession, table: String): (StructType, String) = {
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
    // read options over `conf`: `open(file)` alone builds them over a new
    // Hadoop conf, re-parsing core-default.xml per call (~6 ms per footer)
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf).build())
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    val schema = Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(json => Try(DataType.fromJson(json)).toOption.collect { case st: StructType => st })
      .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(meta.getSchema))
    (schema, file.getPath.getName)
  }

  /** A parquet `table` (a file or a directory of them) read with its footer
    * schema ([[footerSchema]]): no schema-inference job. */
  def readParquet(spark: SparkSession, table: String): DataFrame =
    spark.read.schema(footerSchema(spark, table)._1).parquet(table)

  /** Every field of `schema` is in the footer of `table`'s first data file
    * (by name, under the session's case rule) with the same type; structs
    * may carry extra fields, and nullability is not compared. */
  private def requireColumns(spark: SparkSession, table: String, schema: StructType): Unit = {
    val (found, file) = footerSchema(spark, table)
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
          s"found ${g.fold("no such column")(_.dataType.simpleString)} in $file")
    }
  }

  /** Hadoop conf entries that install [[ForkFreeLocalFileSystem]] for
    * `file:` paths. The cache flag is part of it: `FileSystem.get` caches
    * the `file:` FS by scheme, so `fs.file.impl` alone loses to a
    * `LocalFileSystem` some earlier call already cached. Other schemes are
    * untouched. */
  val ForkFreeLocalFs: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `conf` with [[ForkFreeLocalFs]] set, for driver-side writes. */
  def forkFree(conf: Configuration): Configuration = {
    ForkFreeLocalFs.foreach { case (k, v) => conf.set(k, v) }
    conf
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
    //
    // A path write sets its `file:` permissions without forking
    // ([[ForkFreeLocalFs]]): Spark copies write options into the job's
    // Hadoop conf, which its tasks and committer both use, so the session
    // keeps its own FS. Hadoop's own local FS forks a `chmod` (~4 ms) for
    // each file and directory a write creates: ~186 per benchmark
    // extraction call.
    val w0: DataFrameWriter[org.apache.spark.sql.Row] =
      df.write.format(format).mode(mode)
    val w =
      if (format == "parquet")
        w0.options(ForkFreeLocalFs).option("compression", "zstd").option(SpanTextDictionary, "false")
      else if (pathBased) w0.options(ForkFreeLocalFs).option("compression", "zstd")
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

/** Hadoop's raw local FS, setting a file's mode with
  * `Files.setPosixFilePermissions` where Hadoop would fork `chmod`: without
  * native IO (`NativeIO.isAvailable` is false in a stock Spark install)
  * `RawLocalFileSystem.setPermission` shells out, and every file or
  * directory a write creates goes through it. Hadoop's own path is kept
  * wherever it does not fork or NIO cannot say the same: native IO, Windows,
  * and modes with bits beyond 0777 (sticky, setuid, setgid). */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if (NativeIO.isAvailable || Shell.WINDOWS || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission.values is owner rwx, group rwx, others rwx:
      // value i is mode bit 8 - i
      val all = PosixFilePermission.values
      val bits = EnumSet.noneOf(classOf[PosixFilePermission])
      for (i <- 0 until 9 if (mode & (0x100 >> i)) != 0) bits.add(all(i))
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    }
  }
}

/** [[ForkFreeRawLocalFileSystem]] under Hadoop's checksummed local FS, so
  * writes keep their `.crc` side files. Installed per write through
  * [[TableIO.ForkFreeLocalFs]], never on the session. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)
