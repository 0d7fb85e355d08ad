package graft

import graft.plans.AdaptiveGate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the execution-mode gate: a small plan comes back re-bound to a
  * child session that carries single-shot mode with input-scaled
  * partitions, a big plan to one that starts AQE wider, and the caller's
  * own conf never changes. Also pins that the contract layer (SparkEntry) builds
  * bodies under the caller's conf and honors `needsAqe` declarations. */
class AdaptiveGateSpec extends SparkSpec {

  private def conf(df: DataFrame, k: String) = df.sparkSession.conf.get(k)

  /** Runs `body` with the caller's shuffle width set to `parts`. */
  private def withParts[T](parts: Int)(body: => T): T = {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("inputBytes reads leaf stats off the analyzed plan") {
    val df = Catalog.table(spark, sf0001, "lineitem")
      .filter(col("l_quantity") > 10).select("l_orderkey")
    val in = AdaptiveGate.inputBytes(df)
    // positive, and within sanity bounds of the on-disk fixture size
    // (stats may apply a compression factor, never zero or absurd)
    assert(in > 10L * 1024)
    assert(in < (1L << 30))
  }

  test("tune gates small plans on a child session; caller conf unchanged") {
    val before = spark.conf.getAll
    val df = Catalog.table(spark, sf0001, "orders")
      .groupBy(col("o_orderstatus")).agg(count(lit(1)))
    val gated = AdaptiveGate.tune(df)
    assert(!(gated.sparkSession eq spark), "decision must not live on the caller")
    assert(conf(gated, "spark.sql.adaptive.enabled") === "false")
    assert(conf(gated, "spark.sql.constraintPropagation.enabled") === "false")
    assert(spark.conf.getAll === before, "tune wrote the caller's conf")
    // the same decision again reuses the same child (codegen-cache reuse)
    assert(AdaptiveGate.tune(df).sparkSession eq gated.sparkSession)
    assert(gated.collect().toSet === df.collect().toSet)
    // file-backed narrowing: input/8 MB clamped to [min(floor, full), full]
    // — with a wide caller (64) the round-9 floor of 8 is what shows
    withParts(64) {
      val fileDf = Catalog.table(spark, sf0001, "orders").select("o_orderkey")
      val expected = math.min(64L, math.max(AdaptiveGate.MinPartitions,
        AdaptiveGate.inputBytes(fileDf) / AdaptiveGate.BytesPerPartition)).toInt
      assert(conf(AdaptiveGate.tune(fileDf), "spark.sql.shuffle.partitions").toInt
        === expected)
      assert(expected < 64, "fixture should be small enough to narrow")
    }
    // big plans keep AQE and start 16x wider (Range stats: 8 B x 400 M ≈ 3.2 GB)
    val big = AdaptiveGate.tune(spark.range(400L * 1000 * 1000).groupBy().count())
    assert(conf(big, "spark.sql.adaptive.enabled") === "true")
    assert(conf(big, "spark.sql.adaptive.coalescePartitions.initialPartitionNum").toInt ===
      16 * spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(spark.conf.getAll === before)
  }

  test("inputBytes counts leaves inside subquery expressions") {
    Catalog.table(spark, sf0001, "orders").createOrReplaceTempView("ag_o")
    Catalog.table(spark, sf0001, "lineitem").createOrReplaceTempView("ag_l")
    val outerOnly = spark.sql("SELECT o_orderkey FROM ag_o")
    val withSub = spark.sql(
      """SELECT o_orderkey FROM ag_o o WHERE EXISTS
         (SELECT 1 FROM ag_l l WHERE l.l_orderkey = o.o_orderkey)""")
    val lineitemBytes =
      AdaptiveGate.inputBytes(Catalog.table(spark, sf0001, "lineitem"))
    // the subquery's lineitem scan must be visible to the estimate —
    // before the fix the EXISTS plan counted only the orders leaf
    assert(AdaptiveGate.inputBytes(withSub) >=
      AdaptiveGate.inputBytes(outerOnly) + lineitemBytes)
  }

  test("tune keeps FULL width for small plans with non-file leaves") {
    // checkpointed lineage = LogicalRDD leaf: bytes no longer proxy the
    // compute behind it (k-means/PQ training shape) — single-shot still
    // saves the AQE stage rounds, but the width must NOT be narrowed by
    // the (meaningless) leaf-byte estimate
    withParts(64) {
      val ck = Catalog.table(spark, sf0001, "embeddings").localCheckpoint()
      val gated = AdaptiveGate.tune(ck.groupBy().count())
      assert(conf(gated, "spark.sql.adaptive.enabled") === "false")
      assert(conf(gated, "spark.sql.shuffle.partitions") === "64")
      // a file-backed small plan under the same caller still narrows
      val fileDf = AdaptiveGate.tune(
        Catalog.table(spark, sf0001, "orders").select("o_orderkey"))
      assert(conf(fileDf, "spark.sql.shuffle.partitions").toInt < 64)
    }
  }

  test("query bodies build under the caller's own conf (eager phase)") {
    val before = spark.conf.getAll
    var seenAdaptive: String = null
    var seenParts: String = null
    val probe = GQuery("spec_probe", "observes conf during eager build",
      (s, dir) => {
        // this is the construction/eager phase: localCheckpoint or store
        // writes here must run under the session's own conf
        seenAdaptive = s.conf.get("spark.sql.adaptive.enabled")
        seenParts = s.conf.get("spark.sql.shuffle.partitions")
        Catalog.table(s, dir, "region")
      }, None)
    // a gated frame from a previous query leaves nothing behind
    SparkEntry.queries("q06_scalar_agg")(spark, sf0001).collect()
    val df = SparkEntry.tuned(probe)(spark, sf0001)
    assert(seenAdaptive === "true",
      "query body inherited the previous plan's single-shot conf")
    assert(seenParts === before("spark.sql.shuffle.partitions"))
    assert(conf(df, "spark.sql.adaptive.enabled") === "false",
      "the returned frame should carry the gate's decision")
    assert(spark.conf.getAll === before)
  }

  test("SparkEntry honors needsAqe: adaptive demos run under full AQE") {
    val before = spark.conf.getAll
    val aqeNames = Registry.all.filter(_.needsAqe).map(_.name)
    assert(aqeNames.nonEmpty, "expected at least one needsAqe query")
    // a needsAqe frame executes on the caller's own session and conf
    val df = SparkEntry.queries(aqeNames.head)(spark, sf0001)
    assert(df.sparkSession eq spark)
    assert(conf(df, "spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.getAll === before)
  }
}
