package graft

/** Driver-side phase breakdown for the short-query floor (round-9,
  * verdict item 6): for each query, runs `iters` full executions and
  * reports min wall clock alongside the Catalyst phase timings
  * (parsing/analysis/optimization/planning) from the QueryExecution
  * tracker plus the executed-plan job count — separating driver-side
  * plan work from scheduled execution, so the next floor cut targets
  * the real component.
  *
  * usage: PhaseProbe <sfDir> [q1,q2,...] [iters]
  */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PhaseProbe <sfDir> [q1,q2,...] [iters]")
    val sfDir = args(0)
    val names =
      if (args.length > 1) args(1).split(",").toSeq
      else Seq("q02_min_within_group", "q11_having_scalar_subquery",
        "q22_substring_anti_join")
    val iters = if (args.length > 2) args(2).toInt else 5
    val spark = GraftSession.get()
    Catalog.table(spark, sfDir, "lineitem").count() // warm-up

    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val runs = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tBuild = System.nanoTime()
        // collect, not a noop write: the write path spawns its OWN
        // QueryExecution, so only collect leaves the optimization/
        // planning timings on the tracker we can read. Outputs here are
        // ≤ a few hundred rows — collect cost ≈ the noop write's.
        df.collect()
        val tTotal = System.nanoTime()
        val phases = df.queryExecution.tracker.phases.map { case (p, s) =>
          p -> (s.endTimeMs - s.startTimeMs)
        }
        (tBuild - t0, tTotal - t0, phases, df.sparkSession.conf)
      }
      val best = runs.minBy(_._2)
      val phaseStr = best._3.toSeq.sortBy(_._1)
        .map { case (p, ms) => s"$p=${ms}ms" }.mkString(" ")
      // the gate's decision lives on the executed frame's session
      val parts = best._4.get("spark.sql.shuffle.partitions")
      val aqe = best._4.get("spark.sql.adaptive.enabled")
      println(f"[phase] $name%-28s total=${best._2 / 1e6}%7.1f ms " +
        f"build=${best._1 / 1e6}%6.1f ms parts=$parts%s aqe=$aqe%s  $phaseStr")
      GraftSession.releaseQueryState(spark)
    }
    spark.stop()
  }
}
