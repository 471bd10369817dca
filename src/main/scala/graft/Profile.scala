package graft

import org.apache.spark.sql.DataFrame

/** Optimization-round instrument (guide §1.1): run registry queries `reps`
  * times under the bench methodology ([[Recorder.noop]]) and split the
  * fastest rep's wall into driver-side phases and executed jobs, so the
  * expensive layer of a query is identified by measurement rather than
  * guessed from the plan.
  *
  * Usage: runMain graft.Profile <sfDir> <name1,name2,...|SAMPLE:k> [reps]
  * For the fastest rep of each query prints one `BEST` line — total wall,
  * DataFrame build time, QueryPlanningTracker phase times, top optimizer
  * rules by time, job count, the wall covered by job spans and the gap
  * (driver-side work no job covers: plan building, codegen compile,
  * result fetch) — then each job's span and its stages' name, task count,
  * task time, input and shuffle read/write MB.
  * Dev-only tooling, never on a query path.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = Harness.session(defaultCpus = 32, logLevel = "ERROR")
    val recorder = new Recorder(spark)

    val names: Seq[String] =
      if (args(1).startsWith("SAMPLE:")) {
        val k = args(1).stripPrefix("SAMPLE:").toInt
        val all = SparkEntry.queries.keys.toSeq.sorted
        val step = math.max(1, all.size / k)
        all.zipWithIndex.collect { case (n, i) if i % step == 0 => n }.take(k)
      } else args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      var best: Option[(RunRecord, Double, DataFrame)] = None
      for (rep <- 1 to reps) {
        var df: DataFrame = null
        var buildS = 0.0
        val r = recorder.noop(name) {
          val t0 = System.nanoTime()
          df = fn(spark, sfDir)
          buildS = (System.nanoTime() - t0) / 1e9
          df
        }
        r.failure match {
          case Some(e) => println(s"[$name] rep $rep failed: ${e.getMessage}")
          case None =>
            println(f"[$name] rep $rep: ${r.wallS}%.3f s, jobs=${r.jobs.size}")
            if (best.forall(_._1.wallS > r.wallS)) best = Some((r, buildS, df))
        }
      }
      best.foreach { case (r, buildS, df) =>
        val tracker = df.queryExecution.tracker
        val phases = tracker.phases.map { case (p, s) =>
          f"$p=${(s.endTimeMs - s.startTimeMs) / 1e3}%.3f" }.mkString(" ")
        val rules = tracker.topRulesByTime(3).map { case (rule, s) =>
          f"${rule.split('.').last}=${s.totalTimeNs / 1e9}%.3f" }.mkString(" ")
        println(f"BEST [$name] wall=${r.wallS}%.3f build=$buildS%.3f jobs=${r.jobs.size} " +
          f"jobWall=${r.jobWallS}%.3f gap=${r.wallS - r.jobWallS}%.3f | $phases | top: $rules")
        val t0 = r.jobs.headOption.map(_.startMs).getOrElse(0L)
        r.jobs.foreach { j =>
          println(f"job ${j.id}%3d  +${(j.startMs - t0) / 1e3}%7.3f  span ${(j.endMs - j.startMs) / 1e3}%7.3f s")
          j.stages.sortBy(-_.taskMs).foreach { s =>
            println(f"    tasks=${s.tasks}%3d taskTime=${s.taskMs}%6d ms " +
              f"in=${s.inputMB}%7.2f MB sr=${s.shuffleReadMB}%7.2f sw=${s.shuffleWriteMB}%7.2f  ${s.name}")
          }
        }
        println()
      }
    }
    spark.stop()
  }
}
