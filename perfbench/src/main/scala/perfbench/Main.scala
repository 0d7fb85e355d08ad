package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.{Catalog, GraftSession, SparkEntry}

/** One benchmark run over one workload: a closed loop with one client
  * thread, one query at a time, on `local[nproc]`.
  *
  * The run builds the session, reads every table once, makes one untimed
  * warm pass, then makes timed passes until `--seconds` have gone by and
  * `--min-passes` passes are done. Every pass runs the workload's queries
  * in an order drawn from `--seed`. Each query goes through
  * `SparkEntry.queries(name)(spark, dir)`, so graft's AdaptiveGate and
  * per-query exec confs apply, and `SparkEntry.restore` plus
  * `GraftSession.releaseQueryState` run between queries. The warm
  * pass fingerprints each query's result and compares it with the expected
  * fingerprint.
  *
  * With `--trace 1` the run attaches Spark's public listeners (see
  * [[Tracer]]) and interleaves untraced and traced timed passes, so the
  * tracing overhead is measured in the same window.
  *
  * usage: Main --queries a,b,c --data DIR --expected FILE --seed N
  *             --seconds S --min-passes P --trace 0|1 --result FILE
  *             [--spans FILE]
  *             [--scratch DIR]...
  *        Main --fingerprint-only --queries a,b,c --data DIR --result FILE
  *        Main --count-rows --data DIR --result FILE
  */
object Main {

  final case class Exec(query: String, pass: Int, wall: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val opts = Args.parse(args)
    if (opts.flag("count-rows")) return countRows(opts)
    val queries = opts("queries").split(",").toSeq.filter(_.nonEmpty)
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    if (opts.flag("fingerprint-only")) return fingerprintOnly(opts, queries)

    val dir = opts("data")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    // the traced run reports no end-to-end metric, so two untraced passes
    // (for the tracing overhead) are enough there
    val minUntraced = if (trace) 2 else opts("min-passes").toInt
    val expected = Fingerprint.readExpected(Paths.get(opts("expected")))
    val scratchDirs = opts.all("scratch").map(Paths.get(_))
    val cpus = Runtime.getRuntime.availableProcessors
    val order = new Order(seed, queries)

    val t0 = System.nanoTime()
    val spark = GraftSession.get(cpus)
    val sessionBuild = secondsSince(t0)
    val t1 = System.nanoTime()
    Catalog.tableNames.foreach(Catalog.table(spark, dir, _))
    val register = secondsSince(t1)

    val tracer = if (trace) Some(Tracer.attach(spark)) else None
    val execs = Vector.newBuilder[Exec]

    val fingerprints = scala.collection.mutable.Map.empty[String, Fingerprint.FP]

    /** One pass over the workload; the pass's wall time. The warm pass
      * (`check`) also fingerprints every result. */
    def runPass(pass: Int, traced: Boolean, check: Boolean): Double = {
      tracer.foreach(_.recording = traced)
      val p0 = System.nanoTime()
      val span = tracer.filter(_ => traced).map(_.beginPass(pass))
      order.pass(pass).foreach { q =>
        val qs = span.map(s => tracer.get.beginQuery(s, q))
        val e0 = System.nanoTime()
        val ok =
          try {
            qs.foreach(_.beginBuild())
            val df = SparkEntry.queries(q)(spark, dir)
            qs.foreach(_.beginRun(df))
            if (check) {
              val (observed, obs) = Fingerprint.observed(df)
              observed.write.format("noop").mode("overwrite").save()
              fingerprints(q) = Fingerprint.get(obs)
            } else df.write.format("noop").mode("overwrite").save()
            true
          } catch {
            case e: Throwable =>
              System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
              false
          }
        val wall = secondsSince(e0)
        qs.foreach(_.endRun())
        SparkEntry.restore(spark)
        GraftSession.releaseQueryState(spark)
        qs.foreach(_.end())
        execs += Exec(q, pass, wall, ok)
      }
      span.foreach(_.end())
      val w = secondsSince(p0)
      tracer.foreach(_.drain())
      w
    }

    // warm pass: fills JIT, codegen and graft's per-JVM layout/index caches,
    // and checks every query's output (untimed)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    runPass(0, traced = false, check = true)
    val setup = (System.currentTimeMillis() - jvmStart) / 1000.0
    val checks = queries.map(q => Check(q, fingerprints.get(q), expected.get(q)))

    // timed passes: whole passes until the window is spent and at least
    // `minUntraced` untraced ones are done, so every run has `tailBase`
    // samples. The traced run orders untraced (U) and traced (T) passes as
    // U T T U ..., so a steady warming trend cancels out of the tracing
    // overhead, and makes at least two of each
    val cpu0 = processCpuNanos()
    val w0 = System.nanoTime()
    val passWalls = Vector.newBuilder[(Int, Boolean, Double)]
    var pass = 1
    val minPasses = if (trace) 4 else minUntraced
    while (pass <= minPasses || secondsSince(w0) < seconds) {
      val traced = trace && (pass % 4 == 2 || pass % 4 == 3)
      passWalls += ((pass, traced, runPass(pass, traced, check = false)))
      pass += 1
    }
    val timedWall = secondsSince(w0)
    val cpuTimed = (processCpuNanos() - cpu0) / 1e9
    tracer.foreach(_.recording = false)

    val scratchMb = scratchDirs.map(dirBytes).sum / 1e6
    val rssPeakMb = vmHwmMb()
    val all = execs.result()
    val timed = all.filter(_.pass > 0)
    val walls = passWalls.result()
    val e2eWalls = walls.filterNot(_._2)
    val e2e = Result.EndToEnd(
      setupS = setup,
      totalS = Stats.median(e2eWalls.map(_._3)),
      queryWalls = timed.filter(e => e2eWalls.exists(_._1 == e.pass)).map(_.wall),
      tailBase = minUntraced * queries.size,
      cpuS = cpuTimed / walls.size,
      rssPeakMb = rssPeakMb)
    val resultRows = checks.flatMap(_.got).map(_.rows).sum
    val layers = tracer.map { t =>
      t.layerMetrics(
        sessionBuildS = sessionBuild,
        registerS = register,
        warm = all.filter(_.pass == 0),
        timed = timed,
        tracedPasses = walls.filter(_._2).map(_._1),
        passWalls = walls,
        cpus = cpus,
        scratchMb = scratchMb,
        resultRows = resultRows)
    }
    opts.get("spans").foreach(p => tracer.foreach(_.writeSpans(Paths.get(p))))
    Result.write(Paths.get(opts("result")), seed, dir, queries, order, all,
      walls, timedWall, checks, e2e, layers)
    spark.stop()
  }

  final case class Check(query: String, got: Option[Fingerprint.FP],
      expected: Option[Fingerprint.FP]) {
    def ok: Boolean = got.isDefined && got == expected
  }

  /** Record fingerprints of the workload's outputs as they are now. */
  private def fingerprintOnly(opts: Args, queries: Seq[String]): Unit = {
    val spark = GraftSession.get(Runtime.getRuntime.availableProcessors)
    val dir = opts("data")
    val lines = queries.map { q =>
      val (observed, obs) = Fingerprint.observed(SparkEntry.queries(q)(spark, dir))
      observed.write.format("noop").mode("overwrite").save()
      val fp = Fingerprint.get(obs)
      SparkEntry.restore(spark)
      GraftSession.releaseQueryState(spark)
      s"$q\t${fp.rows}\t${fp.hash}"
    }
    Files.write(Paths.get(opts("result")),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Row count of every table under `--data`, one `table\trows` line each. */
  private def countRows(opts: Args): Unit = {
    val spark = GraftSession.get(Runtime.getRuntime.availableProcessors)
    val lines = Catalog.tableNames.map { t =>
      s"$t\t${spark.read.parquet(s"${opts("data")}/$t.parquet").count()}"
    }
    Files.write(Paths.get(opts("result")),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def processCpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** Peak resident set size of this JVM, from /proc/self/status. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** Query order per pass: a permutation drawn from the seed and the pass. */
final class Order(seed: Long, queries: Seq[String]) {
  def pass(p: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + p).shuffle(queries)
}

/** `--key value` and `--flag` arguments; a key may repeat. */
final class Args(kv: Seq[(String, String)]) {
  def apply(k: String): String =
    get(k).getOrElse(throw new IllegalArgumentException(s"missing --$k"))
  def get(k: String): Option[String] = kv.reverse.collectFirst { case (`k`, v) => v }
  def all(k: String): Seq[String] = kv.collect { case (`k`, v) => v }
  def flag(k: String): Boolean = kv.exists(_._1 == k)
}

object Args {
  private val flags = Set("fingerprint-only", "count-rows")
  def parse(args: Array[String]): Args = {
    def go(rest: List[String]): List[(String, String)] = rest match {
      case Nil => Nil
      case k :: tail if k.startsWith("--") && flags(k.drop(2)) =>
        (k.drop(2), "") :: go(tail)
      case k :: v :: tail if k.startsWith("--") => (k.drop(2), v) :: go(tail)
      case other => throw new IllegalArgumentException(s"bad arguments: $other")
    }
    new Args(go(args.toList))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that has at least `beyond` samples above it
    * in a sample of `base`, the fewest a run makes; a run with more samples
    * reads the same percentile, so the metric does not jump with the pass
    * count. (value, percentile, sample count). */
  def tail(xs: Seq[Double], base: Int, beyond: Int = 10): (Double, Double, Int) = {
    require(xs.size >= base && base > beyond, s"${xs.size} samples, need $base > $beyond")
    val pct = (base - beyond).toDouble / base
    (harrellDavis(xs, pct), 100.0 * pct, xs.size)
  }

  /** Harrell-Davis estimate of the `p` quantile: the mean of the order
    * statistics weighted by a Beta(p(n+1), (1-p)(n+1)) density, so it rests
    * on all samples near the quantile rather than on one of them. */
  def harrellDavis(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val n = s.size
    val a = p * (n + 1)
    val b = (1 - p) * (n + 1)
    val mode = (a - 1) / (a + b - 2)
    def logPdf(x: Double) = (a - 1) * math.log(x) + (b - 1) * math.log(1 - x)
    val top = logPdf(mode)
    val steps = 64 // midpoint rule per order statistic
    val h = 1.0 / (n * steps)
    val w = (0 until n).map { i =>
      (0 until steps).map(k => math.exp(logPdf((i * steps + k + 0.5) * h) - top)).sum
    }
    w.zip(s).map { case (wi, x) => wi * x }.sum / w.sum
  }
}
