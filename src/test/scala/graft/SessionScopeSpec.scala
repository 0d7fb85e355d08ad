package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** Per-query session scope: the contract layer (SparkEntry) puts every
  * execution decision on the returned frame's session — a reused child of
  * the caller's — so the caller's conf is never written, one session runs
  * queries concurrently, a failing query leaks nothing, and repeat
  * executions keep hitting Spark's generated-code cache. */
class SessionScopeSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def codegen(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])

  test("gated and needsAqe queries run concurrently on one session") {
    val names = Seq("q02_min_within_group", "q03_topk_revenue", "x_skew_aqe")
    assert(Registry.byName("x_skew_aqe").needsAqe)
    val sequential =
      names.map(n => n -> rows(SparkEntry.queries(n)(spark, sf0001))).toMap
    val before = spark.conf.getAll
    val pool = Executors.newFixedThreadPool(2 * names.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val runs = (names ++ names).map(n =>
        Future(n -> rows(SparkEntry.queries(n)(spark, sf0001))))
      Await.result(Future.sequence(runs), 10.minutes).foreach { case (n, r) =>
        assert(r === sequential(n), s"$n differs when run concurrently")
      }
    } finally pool.shutdown()
    assert(spark.conf.getAll === before)
  }

  test("a query whose action throws leaves the caller's conf unchanged") {
    val before = spark.conf.getAll
    val boom = GQuery("spec_boom", "fails when executed",
      (s, dir) => Catalog.table(s, dir, "lineitem")
        .select(col("l_orderkey"), raise_error(lit("spec boom")).as("x")), None)
    val df = SparkEntry.tuned(boom)(spark, sf0001)
    assert(!(df.sparkSession eq spark), "expected a gated frame")
    intercept[Exception](df.collect())
    assert(spark.conf.getAll === before)
  }

  test("a conf set on the caller between executions reaches the next gated one") {
    val key = "spark.sql.codegen.wholeStage"
    def run() = SparkEntry.queries("q06_scalar_agg")(spark, sf0001)
    assert(codegen(run()))
    spark.conf.set(key, "false")
    try {
      val off = run()
      assert(!(off.sparkSession eq spark), "expected a gated frame")
      assert(off.sparkSession.conf.get(key) === "false")
      assert(!codegen(off), "the caller's conf did not reach the gated execution")
    } finally spark.conf.unset(key)
    assert(codegen(run()), "a stale child served the execution after the conf changed back")
  }

  test("a repeat execution of a gated query reuses generated code") {
    // a literal unique to this run keeps the first execution off code any
    // earlier suite left in the JVM-wide cache
    val nonce = (System.nanoTime() % 1000000).toDouble / 1e7
    val q = GQuery("spec_codegen", "filter + aggregate with a fresh literal",
      (s, dir) => Catalog.table(s, dir, "lineitem")
        .filter(col("l_discount") > lit(nonce))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity") * lit(nonce)).as("q")), None)
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def execute(): Long = {
      val c0 = compiles()
      val df = SparkEntry.tuned(q)(spark, sf0001)
      assert(!(df.sparkSession eq spark), "expected a gated frame")
      df.write.format("noop").mode("overwrite").save()
      compiles() - c0
    }
    val first = execute()
    val second = execute()
    info(s"classes compiled: first execution $first, second $second")
    assert(first >= 2, s"first execution compiled only $first classes")
    assert(second * 2 < first,
      s"second execution compiled $second classes against $first for the first")
  }
}
