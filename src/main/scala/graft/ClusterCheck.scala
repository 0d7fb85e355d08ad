package graft

import java.nio.file.{Files, Paths}

/** Multi-JVM correctness proof: runs a representative slice of the query
  * registry under `local-cluster[2,16,3072]` — Spark standalone with TWO
  * SEPARATE EXECUTOR JVMs, so every task crosses a real process boundary
  * (closure + row serialization, netty block transfer for every shuffle)
  * exactly as on a 1000-executor cluster. This is the Spark-native analog
  * of the reference's core claim — results are identical whether a plan
  * runs in one process or is distributed over Arrow Flight workers
  * (reference: README.md:11-19, src/flight_service/service.rs:17-22,
  * src/plan/arrow_flight_read.rs:25-29).
  *
  * Output is Verify-shaped (per-query parquet + oracle_sql.json) so
  * `tools/check_oracles.py` gives the same DuckDB equality gate the
  * driver applies — multi-JVM results must hash-match the oracle.
  *
  * usage: SPARK_SCALA_VERSION=2.13 sbt "runMain graft.ClusterCheck <sfDir> <outDir>"
  * (the env var is required: outside spark-submit the in-process Worker's
  * command builder cannot infer the Scala version when launching executor
  * JVMs — "Cannot find any build directories" otherwise)
  */
object ClusterCheck {

  /** The FULL registry (rounds 1-3 ran a 24-query representative slice;
    * the reference's discipline is every-query distributed-equality —
    * tests/tpch.rs:168-194 — so every registry query now runs across the
    * process boundary: two-phase aggs, broadcast/shuffled/SMJ joins,
    * outer/semi/anti joins, windows, set ops, decimals over the wire,
    * hash + LSH dedup, custom codegen Expressions on executors, the
    * iterative CC loop and k-means training loops (multi-round shuffles
    * + per-round localCheckpoint blocks living on executors), and the
    * composed cleaning pipelines with mid-plan parquet stages).
    * GRAFT_CLUSTER_ONLY narrows to a comma-list for topology-focused
    * passes (e.g. the 4-JVM heavy-family run, r10 verdict item 7). */
  val subset: Seq[String] = sys.env.get("GRAFT_CLUSTER_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    .getOrElse(Registry.all.map(_.name))

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ClusterCheck <sfDir> <outDir>")
    val Array(sfDir, outDir) = args
    // topology override (GRAFT_CLUSTER_TOPOLOGY="4,8,3072"): the default
    // 2x16 proves the process boundary; a wider fan-out (4 executor JVMs)
    // exercises partition placement and block transfer patterns two JVMs
    // can mask — the Spark analog of the reference's 10-worker smoke
    // (tests/highly_distributed_query.rs)
    val topo = sys.env.getOrElse("GRAFT_CLUSTER_TOPOLOGY", "2,16,3072")
    val topoParts = topo.split(",").map(_.trim)
    require(topoParts.length == 3 && topoParts.forall(_.matches("\\d+")),
      s"GRAFT_CLUSTER_TOPOLOGY must be workers,coresPerWorker,memPerWorkerMb — got '$topo'")
    val Array(nWorkers, coresPerWorker, memPerWorkerMb) = topoParts.map(_.toInt)
    // executor memory must fit the per-worker budget (third topology
    // field) — a fixed 2g request refuses to launch on narrower workers
    // (8-JVM smoke uses 1536 MiB/worker)
    // executor JVMs are launched by the in-process Worker from SPARK_HOME;
    // they need the application classes (graft.*, incl. codegen'd
    // Expressions and closure classes) on their own classpath
    val classesDir = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val spark = GraftSession
      .builderWith(GraftTuning(cpus = nWorkers * coresPerWorker),
        master = Some(s"local-cluster[$topo]"))
      .config("spark.executor.memory", s"${math.min(2048, memPerWorkerMb)}m")
      .config("spark.executor.extraClassPath", classesDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    val nExec = waitForExecutors(spark, want = nWorkers)
    require(nExec >= nWorkers,
      s"local-cluster brought up only $nExec executor JVM(s) of $nWorkers — topology short")
    println(s"[cluster-check] $nExec executor JVMs up (driver pid ${ProcessHandle.current().pid()})")

    // same ownership guard as Verify: only clear a dir that is empty or
    // provably a prior run's dump — a mistyped outDir (e.g. a home or
    // results dir) must never be recursively deleted
    val out = new java.io.File(outDir)
    var ownsDir = true
    if (out.exists()) {
      val children = Option(out.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      val isPriorRun = children.isEmpty || children.exists(f =>
        f.getName == "oracle_sql.json" || f.getName == ".graft-verify")
      if (isPriorRun) {
        def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
        rm(out)
      } else {
        ownsDir = false
        System.err.println(
          s"[cluster-check] $outDir is non-empty without a prior-run marker — " +
            "leaving existing files in place, overwriting outputs only")
      }
    }
    out.mkdirs()
    if (ownsDir)
      Files.writeString(Paths.get(s"$outDir/.graft-verify"), "cluster-check-run\n")
    var failed = List.empty[String]
    subset.foreach { name =>
      // the driver-contract path (incl. the AdaptiveGate execution-mode
      // decision) — the multi-JVM proof must cover what the driver runs
      val q = SparkEntry.queries(name)
      try {
        q(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        println(s"[cluster-check] $name OK")
      } catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[cluster-check] $name FAILED: ${e.getMessage}")
      }
      // fresh-state boundary between queries (see GraftSession.releaseQueryState)
      GraftSession.releaseQueryState(spark)
    }
    // Verify-shaped oracle_sql.json restricted to the subset, so
    // check_oracles.py applies the identical DuckDB gate to these outputs
    def esc(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val json = subset.flatMap(n => Registry.byName(n).oracle.map(sql => s"${esc(n)}: ${esc(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    require(failed.isEmpty, s"cluster-check failures: ${failed.sorted.mkString(", ")}")
    spark.stop()
  }

  /** Standalone executor registration is async; poll until both workers'
    * executors have joined (or time out and report what we got). */
  private def waitForExecutors(spark: org.apache.spark.sql.SparkSession, want: Int): Int = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var n = 0
    while (n < want && System.nanoTime() < deadline) {
      // getExecutorMemoryStatus includes the driver; executors are the rest
      n = spark.sparkContext.getExecutorMemoryStatus.size - 1
      if (n < want) Thread.sleep(500)
    }
    n
  }
}
