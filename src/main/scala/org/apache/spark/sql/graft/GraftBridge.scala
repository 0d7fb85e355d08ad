package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal bridge into `private[sql]` planner API — the standard pattern
  * for Spark extension libraries that construct DataFrames from custom
  * logical plans (the only non-public API this project touches).
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Globally-unique id of this session (classic-impl accessor — the
    * sql-api trait doesn't re-export it). */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** `df`'s analyzed plan re-bound to a child of `df.sparkSession` that
    * carries `overrides` on top of the parent's conf. The frame executes —
    * physical planning happens at its first action — under the child's
    * conf, and the parent's conf is never written, so a per-query setting
    * cannot outlive its query and two queries can share the parent.
    *
    * Children come from `cloneSession()` (shared SparkContext, cache
    * manager, registered functions and rules; own SQLConf) and are
    * memoized per (parent session, parent's full conf + overrides). The
    * memo is what keeps repeat executions on Spark's generated-code cache:
    * measured on q13 at sf0.1, a fresh clone per execution compiled 14.0
    * classes a run against 1.3 on a reused clone (473-601 ms vs 266-360 ms
    * a run). A conf set on the parent later changes the key, so it reaches
    * the next execution. */
  def withConf(df: DataFrame, overrides: Map[String, String]): DataFrame = {
    val parent = df.sparkSession.asInstanceOf[classic.SparkSession]
    val key = (parent.sessionUUID, parent.conf.getAll ++ overrides)
    val child = children.synchronized {
      Option(children.get(key)).getOrElse {
        val c = parent.cloneSession()
        overrides.foreach { case (k, v) => c.conf.set(k, v) }
        // keyed by what the child actually carries, in case the parent's
        // conf moved between the lookup and the clone
        children.put((parent.sessionUUID, c.conf.getAll), c)
        c
      }
    }
    ofRows(child, df.queryExecution.analyzed)
  }

  /** Bounded LRU: one entry per distinct (session, conf) a gated frame ran
    * under — a handful in a steady workload; the cap only matters to a
    * long-lived process that keeps changing its conf. */
  private val MaxChildren = 64
  private val children =
    new java.util.LinkedHashMap[(String, Map[String, String]), classic.SparkSession](
      16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[
          (String, Map[String, String]), classic.SparkSession]): Boolean =
        size() > MaxChildren
    }
}
