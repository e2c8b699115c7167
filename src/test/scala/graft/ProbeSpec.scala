package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Probe

/** The dev-probe harness: the tally listener reads complete totals after
  * one bus drain (no sleeps, no polling), and the growth exponent. */
class ProbeSpec extends AnyFunSuite {

  test("tally: one drain gives exact task counts, CPU and shuffle bytes") {
    Probe.withSpark(4) { spark =>
      val tally = new Probe.Tally(spark)
      val (rows, _, narrow) = tally.measure(spark.range(0L, 7000L, 1L, 7).collect())
      assert(rows.length == 7000)
      assert(narrow.jobs.size == 1 && narrow.stages.size == 1)
      assert(narrow.tasks == 7)
      assert(narrow.cpuSec > 0)
      assert(narrow.shuffleWriteB == 0L && narrow.shuffleReadB == 0L)

      val (_, _, wide) = tally.measure(spark.range(0L, 7000L, 1L, 7).repartition(3).collect())
      assert(wide.shuffleWriteB > 0L && wide.shuffleReadB > 0L)
      assert(wide.jobs.flatMap(_.stages).map(_.id).toSet == wide.stages.map(_.id).toSet)

      val (_, sec, slept) = tally.measure { Thread.sleep(300); spark.range(0L, 10L, 1L, 2).collect() }
      assert(slept.driverSec >= 0.29 && slept.driverSec <= sec + 0.01, s"driver ${slept.driverSec} of $sec s")
    }
  }

  test("uncoveredSec: the wall no job's [start, end] covers, overlaps counted once") {
    def job(start: Long, end: Long) = Probe.Job(0, "", start, end, Nil)
    assert(Probe.uncoveredSec(0L, 1000L, Nil) == 1.0)
    // 100-400 covered once although two jobs overlap; the last job is clipped at 1000
    assert(Probe.uncoveredSec(0L, 1000L, Seq(job(900, 1200), job(100, 300), job(200, 400))) == 0.6)
    assert(Probe.uncoveredSec(0L, 1000L, Seq(job(-50, 1100))) == 0.0)
  }

  test("alpha: log-log growth exponent, n/a without a cost") {
    assert(Probe.alpha(1000, 2000, 1.5, 6.0) == "2.00")
    assert(Probe.alpha(1000, 2000, 1.5, 3.0) == "1.00")
    assert(Probe.alpha(1000, 2000, 0.0, 3.0) == "n/a")
    assert(Probe.alpha(1000, 1000, 1.5, 3.0) == "n/a")
  }

  test("minOf interleaves bodies and keeps each one's last result and minimum") {
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    var n = 0
    val Seq((a, aSec), (b, bSec)) = Probe.minOf(3)(
      () => { order += "a"; n += 1; n },
      () => { order += "b"; "b" })
    assert(order == Seq("a", "b", "a", "b", "a", "b"))
    assert(a == 3 && b == "b")
    assert(aSec >= 0 && bSec >= 0)
  }

  private def printed(body: => Unit): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(body)
    out.toString("UTF-8").split("\n").toSeq.filter(_.nonEmpty)
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
  private def fields(line: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    json.readTree(line).fieldNames().asScala.toSeq
  }

  test("record: one JSON object per line, fields in order, numbers unquoted") {
    val lines = printed {
      Probe.record("DEDUPSCALE", "n" -> 5000L, "cap" -> 200, "minhash_sec" -> 1.25,
        "parity" -> true, "top" -> "ab:3", "secs" -> Seq(0.5, 0.25))
      Probe.record("EMPTY")
    }
    assert(lines.size == 2)
    val r = json.readTree(lines.head)
    assert(fields(lines.head) == Seq("tool", "n", "cap", "minhash_sec", "parity", "top", "secs"))
    assert(r.get("tool").asText == "DEDUPSCALE")
    assert(r.get("n").isNumber && r.get("n").asLong == 5000L)
    assert(r.get("cap").isNumber && r.get("minhash_sec").asDouble == 1.25)
    assert(r.get("parity").isBoolean && r.get("top").isTextual)
    assert(r.get("secs").isArray && r.get("secs").get(1).asDouble == 0.25)
    assert(lines.head.contains("\"n\":5000,\"cap\":200,"))
    assert(fields(lines(1)) == Seq("tool"))
  }

  test("sweep: one record per rung, then first-vs-last alpha of each numeric field") {
    val lines = printed {
      Probe.sweep("LADDER", Seq(1000L, 2000L, 4000L)) { n =>
        Seq("pairs" -> n * n, "sec" -> n / 1000.0, "dropped" -> 0L,
          "ok" -> true, "label" -> s"r$n")
      }
    }
    assert(lines.size == 4)
    assert(lines.take(3).map(l => json.readTree(l).get("n").asLong) == Seq(1000L, 2000L, 4000L))
    assert(fields(lines.head) == Seq("tool", "n", "pairs", "sec", "dropped", "ok", "label"))
    val g = json.readTree(lines(3))
    assert(fields(lines(3)) == Seq("tool", "growth", "from", "to",
      "pairs_alpha", "sec_alpha", "dropped_alpha"))
    assert(g.get("growth").asText == "n" && g.get("from").asLong == 1000L && g.get("to").asLong == 4000L)
    assert(g.get("pairs_alpha").isNumber)
    assert(g.get("pairs_alpha").asDouble == Probe.alpha(1000, 4000, 1e6, 1.6e7).toDouble)
    assert(g.get("sec_alpha").asDouble == Probe.alpha(1000, 4000, 1.0, 4.0).toDouble)
    assert(g.get("dropped_alpha").asText == "n/a")

    val one = printed(Probe.sweep("LADDER", Seq(7L), key = "b")(b => Seq("sec" -> 1.0)))
    assert(one.size == 1 && json.readTree(one.head).get("b").asLong == 7L)
  }
}
