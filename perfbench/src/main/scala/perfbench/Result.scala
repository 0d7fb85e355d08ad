package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** The result file of one run: the seed, the order of every pass, every
  * execution, the output checks, and the metrics. */
object Result {

  final case class EndToEnd(setupS: Double, totalS: Double,
      queryWalls: Seq[Double], tailBase: Int, cpuS: Double, rssPeakMb: Double)

  def write(p: Path, seed: Long, dir: String, queries: Seq[String], order: Order,
      execs: Seq[Main.Exec], passWalls: Seq[(Int, Boolean, Double)],
      timedWall: Double, checks: Seq[Main.Check], e2e: EndToEnd,
      layers: Option[Seq[(String, Double, String)]]): Unit = {
    val attempted = execs.count(_.pass > 0) + checks.size
    val failed = execs.count(e => e.pass > 0 && !e.ok) + checks.count(!_.ok)
    val (tail, tailPct, tailN) = Stats.tail(e2e.queryWalls, e2e.tailBase)
    val endToEnd = Seq(
      ("setup_s", e2e.setupS, "s"),
      ("total_s", e2e.totalS, "s"),
      ("query_p50_s", Stats.median(e2e.queryWalls), "s"),
      ("query_tail_s", tail, "s"),
      ("cpu_s", e2e.cpuS, "s"),
      ("rss_peak_mb", e2e.rssPeakMb, "MB"),
      ("failed_frac", failed.toDouble / attempted, "frac"))
    val passCount = passWalls.map(_._1).max + 1
    val fields = Seq(
      "seed" -> seed.toString,
      "data" -> str(dir),
      "queries" -> arr(queries.map(str)),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "correct" -> (failed == 0).toString,
      "timed_passes" -> passWalls.size.toString,
      "timed_window_s" -> num(timedWall),
      "query_tail_percentile" -> num(tailPct),
      "query_tail_samples" -> tailN.toString,
      "end_to_end" -> metrics(endToEnd),
      "per_layer" -> layers.map(metrics).getOrElse("null"),
      "passes" -> arr(passWalls.map { case (i, traced, w) =>
        obj(Seq("pass" -> i.toString, "traced" -> traced.toString, "wall_s" -> num(w)))
      }),
      "order" -> arr((0 until passCount).map(i => arr(order.pass(i).map(str)))),
      "executions" -> arr(execs.map { e =>
        obj(Seq("query" -> str(e.query), "pass" -> e.pass.toString,
          "wall_s" -> num(e.wall), "ok" -> e.ok.toString))
      }),
      "checks" -> arr(checks.map { c =>
        obj(Seq("query" -> str(c.query), "ok" -> c.ok.toString,
          "rows" -> c.got.map(_.rows.toString).getOrElse("null"),
          "hash" -> c.got.map(f => str(f.hash)).getOrElse("null"),
          "expected_rows" -> c.expected.map(_.rows.toString).getOrElse("null"),
          "expected_hash" -> c.expected.map(f => str(f.hash)).getOrElse("null")))
      }))
    Files.write(p, (obj(fields) + "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (k, v, u) => k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
