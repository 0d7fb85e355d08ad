package graft

import java.nio.file.{Files, Paths}

/** Round-deliverable plan dump: writes `.explain("formatted")` output for
  * each named registry query to `<outDir>/<query>_<tag>.txt` — the
  * before/after plan evidence the optimization rounds commit under
  * `plans/rN/`. Unlike [[Plans]] (normalized, truncated markdown) this
  * writes the raw formatted explain, one file per query, so a reviewer can
  * diff the exact operator tree.
  *
  * usage: PlanDump <sfDir> <outDir> <tag> <query1,query2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: PlanDump <sfDir> <outDir> <tag> <q1,q2,...>")
    val Array(sfDir, outDir, tag, qlist) = args
    val spark = GraftSession.get()
    Files.createDirectories(Paths.get(outDir))
    qlist.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      // pseudo-query: the minhash signature-build stage as t_minhash_lsh
      // constructs it. The declared queries checkpoint/materialize this
      // stage eagerly, so their own explain shows it only as a
      // Scan ExistingRDD / parquet read — this dump is the plan evidence
      // for changes to the shingle substrate itself.
      // registry queries go through SparkEntry.tuned — the SAME
      // contract layer Bench/Verify execute (AdaptiveGate, and any
      // conf a body puts on its own frame) — so the dumped explain is the
      // plan of the benched configuration, not of a bare Registry run
      // (r13 advice: the bypass could mis-represent before/after evidence
      // for gated or needsAqe queries)
      val df =
        if (name == "minhash_sigbuild") graft.queries.TextOps.minhashSigPlan(spark, sfDir)
        else SparkEntry.tuned(Registry.byName(name))(spark, sfDir)
      val txt = graft.plans.PlanDescriber.formatted(df)
      val p = Paths.get(outDir, s"${name}_$tag.txt")
      Files.writeString(p, txt)
      println(s"[plandump] wrote $p (${txt.length} chars)")
    }
    spark.stop()
  }
}
