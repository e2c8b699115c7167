package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Materialize, TableIO}
import graft.queries.TrainingOps

/** The parquet↔catalog seam (`core/TableIO`) exercised under BOTH modes.
  *
  * Production north is Iceberg; this sandbox ships no Iceberg jars, so the
  * catalog mode runs with `json` as the stand-in table provider — what the
  * suite pins is the seam's CATALOG BRANCH (identifier-addressed tables
  * through `saveAsTable`/`read.table` instead of path load/save), which is
  * the exact code an Iceberg deployment routes through; only the provider
  * string differs. Operators must return identical rows whichever branch
  * the storage goes through, and the parquet-only path-layout mechanisms
  * (`Materialize.onceAt` marker files) must REFUSE the
  * catalog mode loudly instead of mis-addressing a table.
  */
class CatalogSeamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      Files.createTempDirectory("graft-catseam-wh").toString)
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("ERROR")

  /** Flip the seam for the body, ALWAYS restoring: suites share the JVM,
    * and a leaked catalog mode would mis-route every later parquet test. */
  private def withFormat[T](fmt: String)(body: => T): T = {
    val prev = sys.props.get("graft.table.format")
    sys.props("graft.table.format") = fmt
    try body
    finally prev match {
      case Some(v) => sys.props("graft.table.format") = v
      case None => sys.props.remove("graft.table.format")
    }
  }

  private def docsDf: DataFrame = {
    import spark.implicits._
    (0L until 60L).map { i =>
      val text =
        if (i % 10 == 3) "the quick brown fox jumps over the lazy dog again and again"
        else s"unique$i body words number$i trailing content for document $i"
      (i, text, "en", s"src${i % 3}")
    }.toDF("doc_id", "text", "lang", "source")
  }

  test("catalog mode: write/read round-trips through the session catalog") {
    withFormat("json") {
      assert(!TableIO.pathBased)
      TableIO.write(docsDf, "graft_cat_docs")
      val back = TableIO.read(spark, "graft_cat_docs")
      assert(spark.catalog.tableExists("graft_cat_docs"),
        "catalog mode must register an identifier-addressed table")
      assert(back.orderBy("doc_id").collect().map(_.toSeq).toSeq ==
        docsDf.orderBy("doc_id").collect().map(_.toSeq).toSeq)
      // overwrite is the write contract (mode default) — second write of
      // changed content must replace, not append or fail
      TableIO.write(docsDf.where(org.apache.spark.sql.functions.col("doc_id") < 10),
        "graft_cat_docs")
      assert(TableIO.read(spark, "graft_cat_docs").count() == 10)
      TableIO.write(docsDf, "graft_cat_docs")
    }
  }

  test("representative operators return identical rows under both storage modes") {
    def run(df: DataFrame): Seq[Seq[Any]] = Seq(
      TrainingOps.qualityScore(df).orderBy("doc_id"),
      TrainingOps.dedupExactSurvivors(df).orderBy("doc_id"),
      TrainingOps.contaminationCheck(spark, df, n = 3, evalMod = 4).orderBy("doc_id"),
      TrainingOps.minhashPairs(spark, df, minSim = 0.5).orderBy("doc_a", "doc_b"),
      TrainingOps.sourceMixWeights(df).orderBy("source")
    ).flatMap(_.collect().map(_.toSeq))

    val viaPath = {
      val dir = Files.createTempDirectory("graft-catseam-p").toString + "/docs"
      TableIO.write(docsDf, dir)
      run(TableIO.read(spark, dir))
    }
    val viaCatalog = withFormat("json") {
      TableIO.write(docsDf, "graft_cat_ops")
      run(TableIO.read(spark, "graft_cat_ops"))
    }
    assert(viaPath == viaCatalog && viaPath.nonEmpty,
      "the storage seam must be invisible to operator results")
  }

  test("path-layout mechanisms refuse catalog mode loudly") {
    withFormat("json") {
      val e1 = intercept[IllegalArgumentException] {
        Materialize.onceAt(spark,
          new Path(Files.createTempDirectory("graft-catseam-m").toString, "t"),
          "tag") { fail("build must not run under a catalog format") }
      }
      assert(e1.getMessage.contains("catalog"))
    }
  }

  test("format resolution: sysprop overrides, default stays parquet") {
    assert(TableIO.format == "parquet" && TableIO.pathBased)
    withFormat("iceberg")(assert(TableIO.format == "iceberg" && !TableIO.pathBased))
    withFormat("orc")(assert(TableIO.pathBased))
    assert(TableIO.format == "parquet", "withFormat must restore the seam")
  }
}
