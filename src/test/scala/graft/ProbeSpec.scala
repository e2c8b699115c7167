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
    }
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
}
