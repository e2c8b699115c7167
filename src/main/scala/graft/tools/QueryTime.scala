package graft.tools

/** Time individual `SparkEntry.queries` entries without a whole-bench run,
  * and profile where each one's wall goes:
  * `sbt "runMain graft.tools.QueryTime q1_agg gr_triangles"`.
  * Env: QT_SF_DIR (default the sf0.1 test tables), QT_REPS (default 10 —
  * prints every rep; first rep pays warehouse builds), SPARK_GRAFT_CPUS.
  *
  * Walls keep falling until about the eighth rep as the JIT warms (at
  * sf0.1, `dd_embed_lsh` 1.44 → 0.77 s), so a second rep reads 20-60%
  * high: the line also prints `warm=`, the minimum of the last half of the
  * reps, and the profile is of the LAST rep, warm and free of rep 1's
  * warehouse builds: its jobs, stages, tasks, summed task CPU and run time
  * and shuffle bytes, then per job its wall, stages, tasks and shuffle, and
  * every stage that ran ≥ 200 ms of task time.
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
        val warm = runs.drop(reps / 2).map(_._2).min
        println(f"QUERYTIME $name rows=${runs.head._1} " +
          runs.map(x => f"${x._2}%.2f").mkString("secs=", ",", "") + f" warm=$warm%.2f")
        val w = runs.last._3
        println(f"QUERYTIME $name profile jobs=${w.jobs.size} stages=${w.stages.size} " +
          f"tasks=${w.tasks} cpu=${w.cpuSec}%.2f run=${w.runSec}%.2f " +
          f"shufR=${w.shuffleReadB / 1024}K shufW=${w.shuffleWriteB / 1024}K")
        w.jobs.foreach { j =>
          println(f"  job=${j.id}%3d ${j.sec}%6.2fs stages=${j.stages.size}%2d " +
            f"tasks=${j.stages.map(_.tasks).sum}%4d execMs=${j.stages.map(_.runMs).sum}%6d " +
            f"shufR=${j.stages.map(_.shuffleReadB).sum / 1024}%7dK " +
            f"shufW=${j.stages.map(_.shuffleWriteB).sum / 1024}%7dK  ${j.desc.take(60)}")
          j.stages.filter(_.runMs >= 200).foreach { s =>
            println(f"    stage=${s.id}%3d tasks=${s.tasks}%4d execMs=${s.runMs}%6d " +
              f"cpuMs=${s.cpuNs / 1000000}%6d deserMs=${s.deserMs}%5d gcMs=${s.gcMs}%5d " +
              s.name.take(90))
          }
        }
      }
    }
  }
}
