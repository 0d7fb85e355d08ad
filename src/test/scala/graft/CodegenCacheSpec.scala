package graft

import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's generated-class cache holds graft's working set
  * ([[GraftSession.CodegenCacheEntries]]): once every TPC-H query has run,
  * a second pass in another order finds all of its classes cached and
  * compiles none. At Spark's default capacity of 100 the second pass
  * recompiles most of the ~300 classes a pass needs. */
class CodegenCacheSpec extends SparkSpec {

  private val sf001 = new java.io.File(new java.io.File(sf0001).getParentFile, "sf0.01").getPath
  private val tpch = Registry.all.map(_.name).filter(_.matches("q\\d\\d_.*")).sorted

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled while running `names` in order, each to a noop sink. */
  private def pass(names: Seq[String]): Long = {
    val c0 = compiles()
    names.foreach { n =>
      SparkEntry.queries(n)(spark, sf001).write.format("noop").mode("overwrite").save()
    }
    compiles() - c0
  }

  test("a second TPC-H pass in another order compiles no classes") {
    assert(tpch.size === 22)
    val first = pass(new Random(11).shuffle(tpch))
    val second = pass(new Random(12).shuffle(tpch))
    info(s"classes compiled: first pass $first, second pass $second")
    assert(second === 0L,
      s"the second pass recompiled $second classes (first pass: $first)")
  }
}
