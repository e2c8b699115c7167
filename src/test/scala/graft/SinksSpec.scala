package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.EntityLink

/** Sink coverage (SURVEY.md §2.1 S7-S9): JSON graph export, text sink,
  * idempotent seed. */
class SinksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("ERROR")
  override def afterAll(): Unit = spark.stop()

  private lazy val base = Files.createTempDirectory("sinksspec").toString

  test("S8: entity graph JSON sink round-trips") {
    val linked = EntityLink.linked(spark, 50)
    linked.write.mode("overwrite").json(s"$base/graph")
    val back = spark.read.json(s"$base/graph")
    assert(back.count() == linked.count())
    // export shape mirrors extract.py:363-377: canonical entities carry
    // alias volume + confidence alongside the cluster id
    assert(back.columns.sorted.toSeq ==
      Seq("canonical", "confidence_level", "entity_type", "n_aliases",
        "n_docs", "norm", "occurrences"))
  }

  test("S9: text sink writes extracted text lines (cli.py:700-702 analog)") {
    import spark.implicits._
    val lines = spark.range(0, 20)
      .map(i => graft.kernel.Extractor
        .extractDoc(graft.gen.SpanGen.genDoc(graft.gen.SpanGen.docId(i)))
        .spans.filter(_.kind == "text").map(_.text).mkString(" "))
    lines.write.mode("overwrite").text(s"$base/text")
    val back = spark.read.text(s"$base/text")
    assert(back.count() == 20)
  }

  test("S7: seed sink is idempotent — skip when data exists (db.py:82-113 analog)") {
    import spark.implicits._
    val path = s"$base/seed"
    def seedIfEmpty(): Boolean = {
      val exists = Files.exists(Paths.get(path, "_SUCCESS"))
      if (!exists) {
        Seq(("FBI", "federal"), ("EPA", "federal"), ("DMV", "state"))
          .toDF("abbr", "level").write.mode("error").parquet(path)
        true
      } else false
    }
    assert(seedIfEmpty())
    assert(!seedIfEmpty()) // second call skips
    assert(spark.read.parquet(path).count() == 3)
  }
}
