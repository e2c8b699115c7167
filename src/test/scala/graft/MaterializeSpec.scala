package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.CheckpointDirs

import graft.core.{Materialize, TableIO}
import graft.queries.{GraphOps, TrainingOps}

/** Build-once marker semantics: matching marker skips, changed tag
  * rebuilds, and — the crash-safety property — a build that THROWS leaves
  * no marker, so the next call rebuilds instead of trusting torn output.
  * Eager truncation: reliable wherever a checkpoint dir is set, with
  * local-mode rows, and `release` reclaims its files. */
class MaterializeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", Files.createTempDirectory("matspec-wh").toString)
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("ERROR")
  override def afterAll(): Unit = spark.stop()

  test("onceAt: builds once per tag, rebuilds on tag change, skips on match") {
    val loc = new Path(Files.createTempDirectory("matspec").toString, "t1")
    var builds = 0
    assert(Materialize.onceAt(spark, loc, "src:a") { builds += 1 })
    assert(!Materialize.onceAt(spark, loc, "src:a") { builds += 1 })
    assert(builds == 1, "matching marker must skip the build")
    assert(Materialize.onceAt(spark, loc, "src:b") { builds += 1 })
    assert(builds == 2, "changed tag must rebuild")
    assert(!Materialize.onceAt(spark, loc, "src:b") { builds += 1 })
    assert(builds == 2)
  }

  test("onceAt: a throwing build leaves no marker — next call rebuilds") {
    val loc = new Path(Files.createTempDirectory("matspec").toString, "t2")
    intercept[RuntimeException] {
      Materialize.onceAt(spark, loc, "src:a") { sys.error("torn build") }
    }
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new Path(loc, "_graft_src")),
      "marker must only appear AFTER a successful build")
    var built = false
    assert(Materialize.onceAt(spark, loc, "src:a") { built = true })
    assert(built, "retry after a torn build must re-run the build")
  }

  test("store: builds once per tag and returns a location TableIO.read opens") {
    var builds = 0
    def store(tag: String) = Materialize.store(spark, "matspec_store", tag) {
      builds += 1
      spark.range(0L, 5L).toDF("id")
    }
    val loc = store("src:a")
    assert(store("src:a") == loc && builds == 1, "matching tag must skip the build")
    assert(TableIO.read(spark, loc).count() == 5L)
    store("src:b")
    assert(builds == 2, "changed tag must rebuild")
  }

  test("release: frees a local cut's blocks, which Dataset.unpersist alone leaves behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val cut = Materialize.truncate(spark.range(0L, 100L).toDF("id"))
    cut.unpersist()
    assert(sc.getPersistentRDDs.size == before + 1)
    Materialize.release(cut.select("id"))
    assert(sc.getPersistentRDDs.size == before)
  }

  test("truncate: reliable under a checkpoint dir, local-mode rows, release leaves no rdd-* dir") {
    import spark.implicits._
    val pairs = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("d", "e"))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    // iters > cpEvery: the rank loop cuts twice before its result
    def pr() = GraphOps.pageRank(spark, edges, iters = 5, cpEvery = 2)
    def tri() = GraphOps.triangleStats(spark, edges)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val (localPr, localTri) = (rows(pr()), rows(tri()))
    CheckpointDirs.withDir(spark.sparkContext) { dir =>
      val (p, t) = (pr(), tri())
      assert(rows(p) == localPr && rows(t) == localTri)
      assert(CheckpointDirs.rddDirs(dir).size == 2,
        "each result lives on its own reliable checkpoint; superseded cuts are released")
      Materialize.release(p)
      Materialize.release(t)
      val bpe = TrainingOps.bpeMerges(spark, Seq("low lower lowest", "newer newest").toDF("text"))
      assert(bpe.count() == 4L)
      assert(CheckpointDirs.rddDirs(dir).isEmpty,
        s"unreleased checkpoints: ${CheckpointDirs.rddDirs(dir).mkString(", ")}")
    }
  }
}
