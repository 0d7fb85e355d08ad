package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability = one named query + (when SQL-expressible) one
  * independently-written DuckDB oracle. This mirrors the reference's
  * differential-testing backbone (reference: tests/tpch.rs:168-194 runs each
  * query two ways and demands identical output); here the second "way" is the
  * driver's DuckDB oracle at sf0.01.
  */
final case class GQuery(
    name: String,
    doc: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** Declares that the query DEMONSTRATES adaptive runtime behavior
      * (skew splits, rebalance writes): the contract layer
      * ([[SparkEntry.tuned]]) returns its frame as built, under the
      * caller's own AQE conf, instead of applying the small-plan
      * single-shot path ([[graft.plans.AdaptiveGate]]). */
    needsAqe: Boolean = false)

object Registry {
  lazy val all: Seq[GQuery] =
    graft.queries.TpchLike.queries ++
      graft.queries.Extras.queries ++
      graft.queries.SqlFuncs.queries ++
      graft.queries.TextOps.queries ++
      graft.queries.GraphOps.queries ++
      graft.queries.VectorOps.queries ++
      graft.queries.EventOps.queries ++
      graft.multimodal.MediaOps.queries ++
      graft.queries.Canaries.queries ++
      graft.queries.RetrievalOps.queries ++
      graft.queries.SketchOps.queries ++
      graft.queries.StreamRuns.queries

  lazy val byName: Map[String, GQuery] = all.map(q => q.name -> q).toMap
}
