package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Prepared-query reuse — the engine-side analog of a database's prepared
  * statement (r12 verdict item 7). The floor-class queries (q13/q14/q22 at
  * SF1) spend their residual vs DuckDB not in Catalyst but in PER-EXECUTION
  * costs: whole-stage codegen source generation, job-round scheduling, and
  * AQE stage re-materialization (PhaseProbe decomposition,
  * SCALING_r12.md). A workload that issues the same query repeatedly —
  * dashboard refresh, eval harness, serving — should pay those once.
  *
  * What a [[PreparedQuery]] reuses across executions, stated precisely:
  *   - the analyzed/optimized/physical plan (no Catalyst re-run, so no
  *     whole-stage source generation either),
  *   - the generated + JIT-compiled whole-stage code (same RDD compute
  *     closures). Contract mode reuses these classes too: Spark caches
  *     generated classes JVM-wide by their source, and
  *     [[graft.GraftSession.CodegenCacheEntries]] sizes that cache to the
  *     registry's working set, so a re-planned execution compiles nothing
  *     new. PlanCache's remaining edge is Catalyst plus exchange reuse,
  *   - under AQE, the already-materialized exchange map outputs: Spark
  *     query stages hold their shuffle-output references, so re-executing
  *     the final RDD reruns only the stages AFTER the last materialized
  *     exchange. For unchanged input data this is exactly Spark's skipped-
  *     stage semantics (a cluster-wide engine property, not a bench hack),
  *     but it does mean cached-mode timings measure "re-serve a prepared
  *     query over unchanged data", NOT "recompute from cold files". Bench
  *     artifacts therefore report contract mode (fresh build per
  *     iteration, matching the reference protocol, which also re-plans
  *     per iteration) and cached mode side by side — the bar reads
  *     whichever the driver adjudicates.
  *
  * Eager work in a query body happens at prepare, not at execute: a query
  * that cuts lineage while it builds (`GraphOps.cut` or a direct
  * `localCheckpoint`, e.g. g_pagerank's arcs and degrees) materializes its
  * cut subtrees in the untimed prepare phase under plan-cache mode, so
  * its cached-mode timings leave that work out. Contract mode builds
  * inside the timed region and is unaffected.
  *
  * Keyed by the CANONICALIZED analyzed plan (normalized expr IDs), so two
  * textually different but semantically identical builds share one entry.
  * Opt-in via [[graft.GraftTuning.planCache]] / conf `graft.plan.cache`.
  */
final class PreparedQuery private[plans] (val df: DataFrame) {
  // toRdd is deferred to first execute(): under AQE, executedPlan.execute()
  // materializes every intermediate query stage eagerly, and PREPARE
  // should be cheap — the first EXECUTE pays the full pipeline.
  private lazy val rdd: RDD[InternalRow] = df.queryExecution.toRdd

  /** Run the prepared plan to completion (every output row produced on the
    * executors, none shipped to the driver) and return the row count —
    * the same work shape as the bench protocol's noop-format write. */
  def execute(): Long = {
    val counts = df.sparkSession.sparkContext.runJob(rdd,
      (it: Iterator[InternalRow]) => {
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        n
      })
    counts.sum
  }

  /** Fresh-collect through the ordinary Dataset path (used by specs to
    * check cached-plan results equal a from-scratch build). */
  def collectRows(): Array[org.apache.spark.sql.Row] = df.collect()
}

object PlanCache {

  /** Capacity conf (default 64). A prepared query pins its RDD lineage —
    * and with it every materialized exchange's map outputs on the
    * executors — for as long as the cache holds it, so an UNBOUNDED cache
    * in a long-lived session is a shuffle-storage leak, not just driver
    * heap. LRU eviction drops the reference; Spark's ContextCleaner then
    * reclaims the orphaned shuffle files like any other out-of-scope RDD. */
  val CapacityKey = "graft.plan.cache.size"
  private val DefaultCapacity = 64

  // canonicalized LogicalPlan has structural equals/hashCode — safe map
  // key. Access-ordered LinkedHashMap under the object lock: prepare()
  // is driver-side and rare (once per distinct query), contention is nil.
  private final case class Entry(pq: PreparedQuery, sig: Long)
  private val cache =
    new java.util.LinkedHashMap[LogicalPlan, Entry](16, 0.75f, true)

  def enabled(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.getOption("graft.plan.cache").contains("true")

  /** Fresh-stat signature of the plan's file-backed leaves: (path, size,
    * mtime) of every input file, statted NOW against the filesystem (a
    * missing file hashes as a tombstone). The dangerous serving pattern a
    * prepared-statement cache enables is a long-held entry whose
    * materialized exchanges keep answering from map outputs computed over
    * files that have since been overwritten — the signature turns
    * silently-stale into evict-and-re-prepare (and, if the caller's own
    * frame still carries a stale file listing, into Spark's explicit
    * missing-file error rather than old rows). Driver-side cost: one
    * stat per input file per prepare. */
  private def sourceSignature(df: DataFrame): Long = {
    val plan = df.queryExecution.analyzed
    val hconf = df.sparkSession.sessionState.newHadoopConf()
    val items = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    (plan +: plan.subqueriesAll).foreach(_.foreach {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.inputFiles.foreach { p =>
              val path = new org.apache.hadoop.fs.Path(p)
              val fsys = path.getFileSystem(hconf)
              items += (try {
                val s = fsys.getFileStatus(path)
                (p, s.getLen, s.getModificationTime)
              } catch {
                case _: java.io.FileNotFoundException => (p, -1L, -1L)
              })
            }
          case _ => ()
        }
      case _ => ()
    })
    items.sortBy(_._1).foldLeft(1125899906842597L) { case (h, (p, l, m)) =>
      ((h * 31 + p.hashCode) * 31 + l) * 31 + m
    }
  }

  /** Prepare (or fetch the previously-prepared) execution of this frame,
    * evicting the least-recently-used entry beyond the configured cap and
    * re-preparing when the source files' signature changed since the
    * entry was built. */
  def prepare(df: DataFrame): PreparedQuery = synchronized {
    val cap = df.sparkSession.conf.getOption(CapacityKey)
      .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ > 0)
      .getOrElse(DefaultCapacity)
    val key = df.queryExecution.analyzed.canonicalized
    val sig = sourceSignature(df)
    val hit = cache.get(key) // get() refreshes access order
    val pq = if (hit != null && hit.sig == sig) hit.pq
    else {
      val fresh = new PreparedQuery(df)
      cache.put(key, Entry(fresh, sig))
      fresh
    }
    val it = cache.entrySet().iterator()
    while (cache.size() > cap && it.hasNext) { it.next(); it.remove() }
    pq
  }

  def size: Int = synchronized(cache.size)

  /** Drop all prepared plans (tests; or for bulk invalidation beyond the
    * per-entry source-signature check in [[prepare]]). */
  def clear(): Unit = synchronized(cache.clear())
}
