package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      s"usage: Verify <sfDir> <outDir> [only=q1,q2] (got ${args.mkString(" ")})")
    val Array(sfDir, outDir) = args.take(2)
    // optional subset for fast local iteration; the driver always passes
    // two args, so its full-registry run is unaffected
    val only: Option[Set[String]] = args.lift(2).map { a =>
      require(a.startsWith("only="), s"unrecognized arg $a (expected only=...)")
      a.stripPrefix("only=").split(",").toSet
    }
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(",")}")
    }
    def selected[A](m: Map[String, A]): Map[String, A] =
      only.fold(m)(names => m.view.filterKeys(names).toMap)
    val spark = GraftSession.get()
    // clear any previous run first: stale outputs + a stale oracle_sql.json
    // would make a crashed run look like a (false) pass downstream.
    // Deletion is guarded: only a directory that carries a prior run's
    // oracle_sql.json (or is empty) is cleared — a mistyped outDir (e.g.
    // the sfDir) must never be recursively removed.
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    val out = new java.io.File(outDir)
    // ownsDir: the dir is new, empty, or carries a prior Verify marker.
    // Only then is it cleared — and only then is the ownership marker
    // (re)written: writing the marker into a FOREIGN dir would make a
    // rerun with the same mistyped outDir pass isPriorRun and recursively
    // delete the very content this guard protects.
    var ownsDir = true
    if (out.exists()) {
      val children = Option(out.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      // either marker proves a prior Verify owned this dir: the start
      // marker is written FIRST so even a crashed run stays clearable
      val isPriorRun = children.isEmpty ||
        children.exists(f => f.getName == "oracle_sql.json" ||
          f.getName == ".graft-verify")
      // not a prior run's dir: DON'T delete foreign content (a mistyped
      // outDir must never be recursively removed) — but keep going; every
      // query dir and oracle_sql.json below are full overwrites, so the
      // dump itself is still complete and correct
      if (isPriorRun) rm(out)
      else {
        ownsDir = false
        System.err.println(
          s"[verify] $outDir is non-empty without a Verify marker — " +
            "leaving existing files in place, overwriting outputs only")
      }
    }
    out.mkdirs()
    if (ownsDir)
      Files.writeString(Paths.get(s"$outDir/.graft-verify"), "verify-run\n")
    selected(SparkEntry.queries).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // fresh-state boundary between queries (see GraftSession.releaseQueryState)
      GraftSession.releaseQueryState(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selected(SparkEntry.oracleSql)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
