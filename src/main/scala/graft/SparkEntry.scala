package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Every capability in SURVEY §2 (and the north-star extension layer) is a
  * named entry in [[Registry]]; this object just adapts the registry to the
  * driver's shape. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Registry.byName("q01_pricing_summary").run(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. Every entry
    * runs through the small-plan single-shot gate
    * ([[graft.plans.AdaptiveGate]]) — the engine's execution-mode
    * decision is part of the contract surface, so the correctness gate
    * verifies the gated path, not a different one. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> tuned(q)).toMap

  /** The body builds on the caller's session under its own conf (eager
    * work — localCheckpoint, layout/store writes — included); the returned
    * frame then executes on a child session carrying the gate's decision,
    * unless the query declares `needsAqe`. The caller's conf is never
    * written, so a query that throws leaks nothing and queries can share
    * one session concurrently. */
  private[graft] def tuned(q: GQuery): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      val df = q.run(spark, dir)
      if (q.needsAqe) df else graft.plans.AdaptiveGate.tune(df)
    }

  /** No-op. Per-query confs live on the returned frame's session (see
    * [[tuned]]), so there is nothing to put back; kept only for callers
    * written against the old save/restore protocol. */
  def restore(spark: SparkSession): Unit = ()

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
