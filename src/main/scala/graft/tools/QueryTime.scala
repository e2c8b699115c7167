package graft.tools

/** Time individual `SparkEntry.queries` entries without a whole-bench run,
  * and profile where each one's wall goes:
  * `sbt "runMain graft.tools.QueryTime q1_agg gr_triangles"`.
  * Env: QT_SF_DIR (default the sf0.1 test tables), QT_REPS (default 10 —
  * records every rep; first rep pays warehouse builds), SPARK_GRAFT_CPUS.
  *
  * Records per query (`"tool":"QUERYTIME"`, `query`, then by `kind`):
  *  - `time`: rows, every rep's wall (`secs`) and `warm`, the minimum of
  *    the last half of the reps. Walls keep falling until about the eighth
  *    rep as the JIT warms (at sf0.1, `dd_embed_lsh` 1.44 → 0.77 s), so a
  *    second rep reads 20-60% high.
  *  - `profile`: jobs, stages and tasks as the min and max over those same
  *    warm reps (one build's task count can flip between reps), then the
  *    LAST rep's summed task CPU and run time, shuffle bytes, and
  *    `driver_s`: its wall that no job's `[start, end]` covers (query
  *    build, planning and the gaps between jobs).
  *  - `job`: per job of the last rep, its wall, stages, tasks and shuffle.
  *  - `stage`: every stage of the last rep that ran ≥ 200 ms of task time.
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryTime <query name...>")
    val sfDir = sys.env.getOrElse("QT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("QT_REPS", "10").toInt
    Probe.withSpark() { spark =>
      val tally = new Probe.Tally(spark)
      import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
      args.foreach { name =>
        val q = graft.SparkEntry.queries.getOrElse(name,
          sys.error(s"unknown query: $name"))
        val runs = (1 to reps).map { _ =>
          tally.measure {
            // force EVERY value column (a bare count() lets ColumnPruning
            // delete the expensive projections and understate the wall; the
            // driver materializes and hashes all values) — xxhash64 over the
            // full column list defeats pruning at negligible cost
            val d = q(spark, sfDir)
            d.select(xxhash64(d.columns.map(col): _*).as("h"))
              .agg(count(lit(1)).as("n"),
                sum(col("h").cast("decimal(38,0)"))).collect().head // no ANSI long overflow
              .getLong(0)
          }
        }
        def rec(kind: String, fields: (String, Any)*): Unit =
          Probe.record("QUERYTIME", Seq("query" -> name, "kind" -> kind) ++ fields: _*)
        val warm = runs.drop(reps / 2)
        rec("time", "rows" -> runs.head._1, "secs" -> runs.map(_._2), "warm" -> warm.map(_._2).min)
        def range(key: String, of: Probe.Window => Int): Seq[(String, Any)] = {
          val xs = warm.map(r => of(r._3))
          Seq(s"${key}_min" -> xs.min, s"${key}_max" -> xs.max)
        }
        val w = runs.last._3
        rec("profile", range("jobs", _.jobs.size) ++ range("stages", _.stages.size) ++
          range("tasks", _.tasks) ++ Seq("cpu" -> w.cpuSec, "run" -> w.runSec,
            "shuffle_read_kib" -> w.shuffleReadB / 1024,
            "shuffle_write_kib" -> w.shuffleWriteB / 1024, "driver_s" -> w.driverSec): _*)
        w.jobs.foreach { j =>
          rec("job", "job" -> j.id, "sec" -> j.sec, "stages" -> j.stages.size,
            "tasks" -> j.stages.map(_.tasks).sum, "exec_ms" -> j.stages.map(_.runMs).sum,
            "shuffle_read_kib" -> j.stages.map(_.shuffleReadB).sum / 1024,
            "shuffle_write_kib" -> j.stages.map(_.shuffleWriteB).sum / 1024, "desc" -> j.desc)
          j.stages.filter(_.runMs >= 200).foreach { s =>
            rec("stage", "job" -> j.id, "stage" -> s.id, "tasks" -> s.tasks,
              "exec_ms" -> s.runMs, "cpu_ms" -> s.cpuNs / 1000000, "deser_ms" -> s.deserMs,
              "gc_ms" -> s.gcMs, "name" -> s.name)
          }
        }
      }
    }
  }
}
