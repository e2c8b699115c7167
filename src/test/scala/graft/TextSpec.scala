package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalacheck.{Arbitrary, Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Text

/** The Column and Scala faces of the text-feature rules agree: the
  * tokenizer (`Text.words` vs `Text.tokens`, which `ta_bigram_lm` mixes)
  * and the half-up rounding (`Text.halfUp` on a Column vs on a Double).
  * Each property batches its generated inputs into one Spark job. */
class TextSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("ERROR")
  override def afterAll(): Unit = spark.stop()

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(40), p)
    assert(r.passed, Pretty.pretty(r))
  }

  // ASCII and non-ASCII whitespace (NBSP, NEL, Ogham, em, ideographic,
  // line separator, zero-width space), case-changing non-ASCII letters
  // (dotted İ, dotless ı, Σ/σ/ς, ß, ǅ, Kelvin K, Ω) and plain letters
  private val pieces: Gen[String] = Gen.oneOf(
    " ", "  ", "\t", "\n", "\r\n", "\u000b", "\f", "\u00a0", "\u0085", "\u1680",
    "\u2003", "\u3000", "\u2028", "\u200b",
    "\u0130", "\u0131", "I", "i", "\u03a3", "\u03c3", "\u03c2", "\u039f\u0394\u039f\u03a3",
    "\u03a3\u0391\u03a3", "\u00df", "\u01c5", "\u212a", "\u2126",
    "The", "qUICK", "Fox", "a", "x1", "\u00fcber", "\u00c9T\u00c9", ".")

  private val text: Gen[String] = Gen.frequency(
    4 -> Gen.listOf(pieces).map(_.mkString),
    2 -> Arbitrary.arbitrary[String], // arbitrary UTF-16, lone surrogates too
    1 -> Gen.asciiPrintableStr,
    1 -> Gen.oneOf("", " ", "\t\n ", "\u00a0\u3000", "\r\n\r\n"))

  test("property: Column words == Scala tokens on arbitrary strings") {
    import spark.implicits._
    check(Prop.forAll(Gen.listOfN(25, text)) { batch =>
      val docs = batch.zipWithIndex.toDF("text", "i")
      // a narrow plan: rows come back in partition order, tokens in order
      val got = Text.words(docs, "w", col("i")).as[(Int, String)].collect()
        .groupBy(_._1).map { case (i, ws) => i -> ws.map(_._2).toSeq }
      // the typed faces tokenize the text as Spark hands it back (UTF-8
      // has no lone surrogates: they come back as '?')
      val want = docs.as[(String, Int)].collect()
        .map { case (t, i) => i -> Text.tokens(t).toSeq }.filter(_._2.nonEmpty).toMap
      Prop(got == want) :| s"inputs ${batch.map(pretty)}: got $got want $want"
    })
  }

  test("property: Column halfUp == Scala halfUp, ties at .xxxx5 round up") {
    import spark.implicits._
    // a/32 and a/128 are exact doubles on a .xxxx5 / .xxxxxx5 tie when a
    // is odd; arbitrary doubles cover the rest
    val x: Gen[Double] = Gen.frequency(
      2 -> Gen.choose(0, 100000).map(_ / 32.0),
      2 -> Gen.choose(0, 100000).map(_ / 128.0),
      1 -> Gen.choose(-1e6, 1e6),
      1 -> Arbitrary.arbitrary[Double],
      1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e300))
    check(Prop.forAll(Gen.listOfN(25, x), Gen.oneOf(2, 4, 6)) { (xs, places) =>
      val got = xs.toDF("x").select(Text.halfUp(col("x"), places)).as[Double].collect().toSeq
      val want = xs.map(Text.halfUp(_, places))
      Prop(got == want) :|
        s"places $places: xs $xs got $got want $want"
    })
    // exact ties go up (the property's reason to exist: Spark round() and
    // DuckDB round() disagree on them)
    assert(Text.halfUp(1 / 32.0, 4) == 0.0313) // 0.03125
    assert(Text.halfUp(3 / 32.0, 4) == 0.0938) // 0.09375
    assert(Text.halfUp(1 / 128.0, 6) == 0.007813) // 0.0078125
    assert(Seq(1 / 32.0).toDF("x").select(Text.halfUp(col("x"), 4)).as[Double].head() == 0.0313)
  }

  private def pretty(s: String): String =
    s.flatMap(c => if (c < ' ' || c > '~') f"\\u${c.toInt}%04x" else c.toString)
}
