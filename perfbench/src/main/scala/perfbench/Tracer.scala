package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** In-memory tracing through Spark's public listeners.
  *
  * Spans nest workload pass -> query execution -> build | run -> plan phase
  * | job -> stage. The harness opens pass, query, build and run spans
  * itself. Jobs come from the [[SparkListener]] and attach to their query
  * through a job tag set around the build and around the run. Plan phases
  * come from the `QueryPlanningTracker` of each execution, via a
  * [[QueryExecutionListener]]. Stages attach to the job that submitted them.
  *
  * Counters are kept per traced pass. Listener events arrive
  * asynchronously, so after every pass [[drain]] waits until each started
  * job, SQL execution and stream has reported its end. */
final class Tracer private (spark: SparkSession) {
  import Tracer._

  @volatile var recording = false
  @volatile private var acc: PassAcc = new PassAcc(-1)
  private val accs = mutable.ArrayBuffer.empty[PassAcc]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(0)
  private val lastEventNs = new AtomicLong(System.nanoTime())
  private val opened = new AtomicLong(0) // jobs + SQL executions + streams
  private val closed = new AtomicLong(0)

  // open job spans by job id; the job span that first listed each stage;
  // build and run spans by the job tag set while they were open
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val tagOwner = mutable.Map.empty[String, Span]

  private def touch(): Unit = lastEventNs.set(System.nanoTime())

  private def add(s: Span): Span = synchronized { spans += s; s }

  def beginPass(pass: Int): PassSpan = {
    val a = new PassAcc(pass)
    synchronized { accs += a }
    acc = a
    passEdge(start = true)
    val s = add(Span(nextId.incrementAndGet(), 0L, "pass", s"pass$pass", nowMs(), Double.NaN))
    new PassSpan(s, a)
  }

  final class PassSpan(val span: Span, val acc: PassAcc) {
    def end(): Unit = {
      span.end = nowMs()
      passEdge(start = false)
    }
  }

  def beginQuery(p: Tracer#PassSpan, q: String): QuerySpan = {
    val s = add(Span(nextId.incrementAndGet(), p.span.id, "query", q, nowMs(), Double.NaN))
    new QuerySpan(s, p.acc)
  }

  final class QuerySpan(val span: Span, acc: PassAcc) {
    private var build: Option[Span] = None
    private var run: Option[Span] = None
    private def tagged(layer: String): Span = {
      val s = add(Span(nextId.incrementAndGet(), span.id, layer, span.name, nowMs(), Double.NaN))
      val tag = s"perfbench-${s.id}"
      Tracer.this.synchronized { tagOwner(tag) = s }
      spark.sparkContext.addJobTag(tag)
      s
    }
    private def untag(s: Span): Unit = {
      s.end = nowMs()
      spark.sparkContext.removeJobTag(s"perfbench-${s.id}")
    }
    def beginBuild(): Unit = build = Some(tagged("build"))
    def beginRun(df: DataFrame): Unit = {
      build.foreach { b =>
        untag(b)
        acc.buildS += (b.end - b.start) / 1000.0
      }
      // the query's own analysis ran while it was built; the write action
      // reports only the phases of its command
      Tracer.this.synchronized {
        df.queryExecution.tracker.phases.get("analysis").foreach(p => phase(acc, "analysis", p))
      }
      acc.executions += 1
      if (spark.conf.get("spark.sql.adaptive.enabled") == "false") acc.singleShot += 1
      run = Some(tagged("run"))
    }
    def endRun(): Unit = {
      build.filter(_.end.isNaN).foreach(untag) // the build threw
      run.foreach(untag)
    }
    def end(): Unit = span.end = nowMs()
  }

  /** Wait until every job, SQL execution and stream opened so far has
    * reported its end and the listener bus has been quiet for a moment. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def quiet = System.nanoTime() - lastEventNs.get() > 150L * 1000 * 1000
    while (System.nanoTime() < deadline && !(opened.get() <= closed.get() && quiet))
      Thread.sleep(20)
  }

  /** The build or run span whose tag the job carries. Jobs started from
    * threads that did not inherit the tag (stream executions) have none. */
  private def tagOwnerOf(props: java.util.Properties): Option[Span] = {
    val tags = Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    tags.flatMap(tagOwner.get).headOption
  }

  /** One plan phase as a span, parented later by time (see [[resolved]]). */
  private def phase(a: PassAcc, name: String, p: QueryPlanningTracker.PhaseSummary): Unit = {
    val ms = (p.endTimeMs - p.startTimeMs).toDouble
    name match {
      case "analysis" => a.analysisMs += ms
      case "optimization" => a.optimizationMs += ms
      case "planning" => a.planningMs += ms
      case _ =>
    }
    add(Span(nextId.incrementAndGet(), -1L, name, name,
      p.startTimeMs.toDouble, p.endTimeMs.toDouble))
  }

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      opened.incrementAndGet(); touch()
      if (recording) Tracer.this.synchronized {
        val parent = tagOwnerOf(e.properties).map(_.id).getOrElse(-1L)
        val s = add(Span(nextId.incrementAndGet(), parent, "job", s"job${e.jobId}",
          e.time.toDouble, Double.NaN))
        jobSpan(e.jobId) = s
        e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = s)
        acc.jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      closed.incrementAndGet(); touch()
      if (recording) Tracer.this.synchronized {
        jobSpan.remove(e.jobId).foreach(_.end = e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      touch()
      val i = e.stageInfo
      if (recording) Tracer.this.synchronized {
        acc.stages += 1
        for (sub <- i.submissionTime; done <- i.completionTime) {
          val parent = stageJob.get(i.stageId).map(_.id).getOrElse(0L)
          add(Span(nextId.incrementAndGet(), parent, "stage", s"stage${i.stageId}",
            sub.toDouble, done.toDouble))
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      touch()
      if (!recording) return
      val a = acc
      val m = e.taskMetrics
      val info = e.taskInfo
      a.synchronized {
        a.tasks += 1
        if (info.failed || info.killed) a.failedTasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.deserMs += m.executorDeserializeTime
          a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
          a.scanBytes += m.inputMetrics.bytesRead
          a.scanRows += m.inputMetrics.recordsRead
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spillBytes += m.diskBytesSpilled
          a.writeBytes += m.outputMetrics.bytesWritten
          a.writeRows += m.outputMetrics.recordsWritten
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      touch()
      val b = e.blockUpdatedInfo
      if (recording && b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid) {
        val a = acc
        a.synchronized { a.blockBytes += b.memSize + b.diskSize }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = {
      // SQL execution start/end, matched by class name so no internal
      // event class is linked
      val n = e.getClass.getSimpleName
      if (n == "SparkListenerSQLExecutionStart") { opened.incrementAndGet(); touch() }
      else if (n == "SparkListenerSQLExecutionEnd") { closed.incrementAndGet(); touch() }
    }
  }

  private object qeListener extends QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      touch()
      if (!recording) return
      val a = acc
      Tracer.this.synchronized {
        qe.tracker.phases.foreach { case (name, p) => phase(a, name, p) }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      opened.incrementAndGet(); touch()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      closed.incrementAndGet(); touch()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      touch()
      if (!recording) return
      val p = e.progress
      val d = p.durationMs.asScala
      val a = acc
      a.synchronized {
        a.batches += 1
        a.triggerMs += d.get("triggerExecution").map(_.longValue).getOrElse(0L)
        a.addBatchMs += d.get("addBatch").map(_.longValue).getOrElse(0L)
        a.walCommitMs += d.get("walCommit").map(_.longValue).getOrElse(0L)
        p.stateOperators.foreach { s =>
          a.stateRows += s.numRowsUpdated
          a.stateCommitMs += s.commitTimeMs
        }
      }
    }
  }

  private def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Per-layer metrics over the traced passes (means per pass). */
  def layerMetrics(sessionBuildS: Double, registerS: Double,
      warm: Seq[Main.Exec], timed: Seq[Main.Exec], tracedPasses: Seq[Int],
      passWalls: Seq[(Int, Boolean, Double)],
      cpus: Int, scratchMb: Double, resultRows: Long): Seq[(String, Double, String)] = {
    val traced = accs.filter(a => tracedPasses.contains(a.pass)).toSeq
    val n = traced.size.toDouble
    def mean(f: PassAcc => Double): Double = traced.map(f).sum / n
    val tracedWall = Stats.median(passWalls.filter(_._2).map(_._3))
    val untracedWall = Stats.median(passWalls.filterNot(_._2).map(_._3))
    val runS = mean(_.runMs / 1000.0)
    val self = selfTimes(tracedPasses)
    val coldWarm = {
      val med = timed.groupBy(_.query).view.mapValues(e => Stats.median(e.map(_.wall)))
      warm.flatMap(w => med.get(w.query).map(w.wall / _))
    }
    Seq(
      ("session.build_s", sessionBuildS, "s"),
      ("catalog.register_s", registerS, "s"),
      ("queries.build_s", mean(_.buildS), "s"),
      ("queries.build_jobs", buildJobs(tracedPasses), "count"),
      ("plans.analysis_s", mean(_.analysisMs / 1000.0), "s"),
      ("plans.optimization_s", mean(_.optimizationMs / 1000.0), "s"),
      ("plans.planning_s", mean(_.planningMs / 1000.0), "s"),
      ("plans.single_shot_frac", mean(a => a.singleShot.toDouble / math.max(1, a.executions)), "frac"),
      ("codegen.compile_s", mean(_.compileNs / 1e9), "s"),
      ("codegen.compiles", mean(_.compiles.toDouble), "count"),
      ("sched.jobs", mean(_.jobs.toDouble), "count"),
      ("sched.stages", mean(_.stages.toDouble), "count"),
      ("sched.tasks", mean(_.tasks.toDouble), "count"),
      ("sched.delay_s", mean(_.schedDelayMs / 1000.0), "s"),
      ("sched.failed_tasks", mean(_.failedTasks.toDouble), "count"),
      ("exec.run_s", runS, "s"),
      ("exec.cpu_s", mean(_.cpuNs / 1e9), "s"),
      ("exec.busy_frac", runS / (tracedWall * cpus), "frac"),
      ("exec.task_gc_s", mean(_.gcMs / 1000.0), "s"),
      ("exec.deser_s", mean(_.deserMs / 1000.0), "s"),
      ("scan.bytes", mean(_.scanBytes.toDouble), "B"),
      ("scan.rows", mean(_.scanRows.toDouble), "count"),
      ("scan.rows_per_result_row", mean(_.scanRows.toDouble) / math.max(1L, resultRows), "ratio"),
      ("shuffle.write_bytes", mean(_.shuffleWriteBytes.toDouble), "B"),
      ("shuffle.read_bytes", mean(_.shuffleReadBytes.toDouble), "B"),
      ("shuffle.records", mean(_.shuffleRecords.toDouble), "count"),
      ("shuffle.fetch_wait_s", mean(_.fetchWaitMs / 1000.0), "s"),
      ("spill.bytes", mean(_.spillBytes.toDouble), "B"),
      ("cuts.block_mb", mean(_.blockBytes / 1e6), "MB"),
      ("storage.scratch_mb", scratchMb, "MB"),
      ("write.bytes", mean(_.writeBytes.toDouble), "B"),
      ("write.rows", mean(_.writeRows.toDouble), "count"),
      ("streaming.batches", mean(_.batches.toDouble), "count"),
      ("streaming.trigger_s", mean(_.triggerMs / 1000.0), "s"),
      ("streaming.add_batch_s", mean(_.addBatchMs / 1000.0), "s"),
      ("streaming.wal_commit_s", mean(_.walCommitMs / 1000.0), "s"),
      ("streaming.state_rows", mean(_.stateRows.toDouble), "count"),
      ("streaming.state_commit_s", mean(_.stateCommitMs / 1000.0), "s"),
      ("jvm.gc_s", mean(_.jvmGcMs / 1000.0), "s"),
      ("jvm.jit_s", mean(_.jitMs / 1000.0), "s"),
      ("cache.cold_warm_ratio", if (coldWarm.isEmpty) 0.0 else Stats.median(coldWarm), "ratio"),
    ) ++ Layers.map(l => (s"self.${l}_s", self.getOrElse(l, 0.0), "s")) ++ Seq(
      ("self.accounted_frac", self.values.sum / tracedWall, "frac"),
      ("trace.total_s", tracedWall, "s"),
      ("trace.untraced_total_s", untracedWall, "s"),
      ("trace.overhead_s", tracedWall - untracedWall, "s"),
      ("trace.overhead_frac", (tracedWall - untracedWall) / untracedWall, "frac"),
    )
  }

  /** JVM-wide counters read at the pass edges (not listener events). */
  private def passEdge(start: Boolean): Unit = {
    val a = acc
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    val compileNs = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val sign = if (start) -1 else 1
    a.synchronized {
      a.jvmGcMs += sign * gc
      a.jitMs += sign * jit
      a.compileNs += sign * compileNs
      a.compiles += sign * compiles
    }
  }

  /** The span tree of each listed pass: (span, clipped start, clipped end),
    * each span clipped to its parent's interval. */
  private def passTrees(passes: Seq[Int]): Seq[Seq[(Span, Double, Double)]] = synchronized {
    val children = resolved().groupBy(_.parent)
    spans.toSeq
      .filter(s => s.layer == "pass" && passes.contains(s.name.stripPrefix("pass").toInt))
      .map { root =>
        val tree = mutable.ArrayBuffer.empty[(Span, Double, Double)]
        def walk(s: Span, lo: Double, hi: Double): Unit = {
          val a = math.max(lo, s.start)
          val b = math.min(hi, if (s.end.isNaN) hi else s.end)
          if (b > a) {
            tree += ((s, a, b))
            children.getOrElse(s.id, Nil).foreach(c => walk(c, a, b))
          }
        }
        walk(root, root.start, root.end)
        tree.toSeq
      }
  }

  /** Self time per layer, averaged over the passes. At each instant the
    * pass's time goes to the deepest spans open then, split evenly among
    * them, so the self times of a pass add up to its wall time. */
  private def selfTimes(passes: Seq[Int]): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    passTrees(passes).foreach { tree =>
      val cuts = tree.flatMap(t => Seq(t._2, t._3)).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val open = tree.filter(t => t._2 <= a && t._3 >= b)
        val parents = open.map(_._1.parent).toSet
        val leaves = open.filterNot(t => parents.contains(t._1.id))
        leaves.foreach(t => out(t._1.layer) += (b - a) / 1000.0 / leaves.size)
      }
    }
    out.view.mapValues(_ / math.max(1, passes.size)).toMap
  }

  /** Jobs run while queries were built (eager cuts, stream runs), per pass. */
  private def buildJobs(passes: Seq[Int]): Double = {
    val counts = passTrees(passes).map { tree =>
      val builds = tree.collect { case (s, _, _) if s.layer == "build" => s.id }.toSet
      tree.count(t => t._1.layer == "job" && builds.contains(t._1.parent))
    }
    counts.sum.toDouble / math.max(1, passes.size)
  }

  /** Spans with plan phases and untagged jobs placed under the build or run
    * span (or, failing that, the query span) that was open when they began. */
  private def resolved(): Seq[Span] = {
    val hosts = spans.filter(s => s.layer == "build" || s.layer == "run" || s.layer == "query")
    spans.toSeq.map { s =>
      if (s.parent != -1L) s
      else {
        val host = hosts.filter(h => h.start <= s.start && (h.end.isNaN || s.start < h.end))
          .sortBy(h => if (h.layer == "query") 1 else 0).headOption
        s.copy(parent = host.map(_.id).getOrElse(0L))
      }
    }
  }

  def writeSpans(p: Path): Unit = synchronized {
    val rows = resolved().map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
        s""""start_ms":${s.start},"end_ms":${if (s.end.isNaN) "null" else s.end.toString}}"""
    }
    Files.write(p, rows.mkString("[\n", ",\n", "\n]\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  val Layers: Seq[String] = Seq("pass", "query", "build", "run", "analysis",
    "optimization", "planning", "job", "stage")

  final case class Span(id: Long, parent: Long, layer: String, name: String,
      start: Double, var end: Double)

  /** Counters of one traced pass. */
  final class PassAcc(val pass: Int) {
    var executions, singleShot, jobs, stages, tasks, failedTasks = 0L
    var buildS = 0.0
    var runMs, cpuNs, gcMs, deserMs, schedDelayMs = 0L
    var scanBytes, scanRows, shuffleWriteBytes, shuffleReadBytes, shuffleRecords = 0L
    var fetchWaitMs, spillBytes, writeBytes, writeRows, blockBytes = 0L
    var analysisMs, optimizationMs, planningMs = 0.0
    var compileNs, compiles, jvmGcMs, jitMs = 0L
    var batches, triggerMs, addBatchMs, walCommitMs, stateRows, stateCommitMs = 0L
  }

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble

  /** Wall clock in epoch milliseconds, with sub-millisecond resolution. */
  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def attach(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    t.attach()
    t
  }
}
