package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.metrics.source.CodegenMetrics

/** One timed interval at a layer boundary. `parent` is 0 for an op. */
final case class Span(id: Long, parent: Long, runId: String, layer: String,
    name: String, startNs: Long, endNs: Long)

/** The three phases an op passes through. The untraced implementation
  * only runs the bodies; [[Tracer]] records a span around each and tags
  * the Spark jobs they launch with the span id. */
trait Phases {
  def construct[A](body: => A): A
  def plan(df: DataFrame): Unit
  def execute[A](body: => A): A
}

object Untraced extends Phases {
  def construct[A](body: => A): A = body
  def plan(df: DataFrame): Unit = ()
  def execute[A](body: => A): A = body
}

/** Span recorder and Spark listener for the traced run. Spans nest as
  * op → construct / plan / execute → Spark job → stage; job and stage
  * spans come from listener events, attributed to the phase span through
  * a job local property. Counters are summed over traced ops only. */
final class Tracer(val runId: String) extends SparkListener {
  private val SpanKey = "perfbench.span"
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val openJobs = mutable.Map[Int, (Long, Long, Long)]()
  private val stageJob = mutable.Map[Int, Long]()
  private val counters = mutable.LinkedHashMap[String, Double]()
  @volatile private var inOp = false

  private def add(k: String, v: Double): Unit = synchronized {
    counters(k) = counters.getOrElse(k, 0.0) + v
  }
  def counter(k: String): Double = synchronized(counters.getOrElse(k, 0.0))
  def allSpans: Seq[Span] = synchronized(spans.toList)

  private def record(layer: String, name: String, parent: Long, t0: Long, t1: Long,
      id: Long = ids.incrementAndGet()): Unit =
    synchronized { spans += Span(id, parent, runId, layer, name, t0, t1) }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { p =>
      val id = ids.incrementAndGet()
      synchronized {
        openJobs(e.jobId) = (id, p.toLong, fromEpochMs(e.time))
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, id))
      }
      add("scheduler.jobs", 1)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (id, parent, t0) =>
      record("job", s"job-${e.jobId}", parent, t0, fromEpochMs(e.time), id)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    synchronized(stageJob.get(info.stageId)).foreach { job =>
      for (t0 <- info.submissionTime; t1 <- info.completionTime)
        record("stage", s"stage-${info.stageId}.${info.attemptNumber()}", job,
          fromEpochMs(t0), fromEpochMs(t1))
      add("scheduler.stages", 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (synchronized(stageJob.contains(e.stageId))) {
      add("scheduler.tasks", 1)
      if (e.reason != Success) add("scheduler.task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.task_run_s", m.executorRunTime / 1e3)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exchange.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exchange.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("exchange.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("exchange.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (inOp) {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      add("storage.put_blocks", 1)
      add("storage.put_bytes", (b.memSize + b.diskSize).toDouble)
      add("storage.disk_bytes", b.diskSize.toDouble)
    }
  }

  /** Runs one op under an op span. Returns the op's wall in seconds. */
  def op[A](name: String, sc: org.apache.spark.SparkContext)(body: Phases => A): (A, Double) = {
    val opId = ids.incrementAndGet()
    val cg0 = CodeGenerator.compileTime
    val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    inOp = true
    def phase[B](layer: String)(b: => B): B = {
      val id = ids.incrementAndGet()
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try b finally {
        record(layer, layer, opId, t0, System.nanoTime(), id)
        sc.setLocalProperty(SpanKey, null)
      }
    }
    val phases = new Phases {
      def construct[B](b: => B): B = phase("construct")(b)
      def plan(df: DataFrame): Unit = phase("plan")(df.queryExecution.executedPlan)
      def execute[B](b: => B): B = phase("execute")(b)
    }
    val t0 = System.nanoTime()
    var t1 = t0
    val out = try body(phases) finally {
      t1 = System.nanoTime()
      record("op", name, 0L, t0, t1, opId)
      PerfbenchBus.drain(sc)
      inOp = false
      add("codegen.timed_compile_s", (CodeGenerator.compileTime - cg0) / 1e9)
      add("codegen.timed_compiles", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0).toDouble)
    }
    (out, (t1 - t0) / 1e9)
  }

  /** Plan-level counters of a DataFrame an op executed: the planning
    * tracker's phases and graft-rule time, and a walk of the final
    * adaptive plan for exchanges, scan files and SQL row counts. */
  def planCounters(df: DataFrame, resultRows: Long, graftRules: Set[String]): Unit = {
    val qe = df.queryExecution
    val phases = qe.tracker.phases
    def phaseS(p: String): Double = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    add("catalyst.analysis_s", phaseS(QueryPlanningTracker.ANALYSIS))
    add("catalyst.optimization_s", phaseS(QueryPlanningTracker.OPTIMIZATION))
    add("catalyst.planning_s", phaseS(QueryPlanningTracker.PLANNING))
    add("functions.rules_s", qe.tracker.rules.collect {
      case (rule, summary) if graftRules.contains(rule) => summary.totalTimeNs / 1e9
    }.sum)
    var exchanges, files, rows = 0L
    PlanWalk.foreach(qe.executedPlan) { p =>
      if (p.isInstanceOf[Exchange]) exchanges += 1
      p.metrics.get("numFiles").foreach(m => files += m.value)
      p.metrics.get("numOutputRows").foreach(m => rows += m.value)
    }
    add("exchange.count", exchanges.toDouble)
    add("sources.files_read", files.toDouble)
    if (resultRows > 0) {
      add("plan.output_rows", rows.toDouble)
      add("plan.result_rows", resultRows.toDouble)
    }
  }

  /** Per-layer self time over every traced op: each instant of an op's
    * wall goes to the deepest span active at that instant (stage, then
    * job, then the construct / plan / execute phase, then the op itself),
    * so the layer times of an op sum to its wall. */
  def selfTimes(): Map[String, Double] = {
    val all = allSpans
    val byParent = all.groupBy(_.parent)
    val acc = mutable.LinkedHashMap[String, Double]()
    all.filter(_.layer == "op").foreach { op =>
      val phases = byParent.getOrElse(op.id, Nil)
      val jobs = phases.flatMap(p => byParent.getOrElse(p.id, Nil))
      val stages = jobs.flatMap(j => byParent.getOrElse(j.id, Nil))
      val depthOf = Map("op" -> 0, "construct" -> 1, "plan" -> 1, "execute" -> 1, "job" -> 2, "stage" -> 3)
      val members = (op +: phases) ++ jobs ++ stages
      def clip(t: Long) = math.max(op.startNs, math.min(op.endNs, t))
      val points = members.flatMap(s => Seq(clip(s.startNs), clip(s.endNs))).distinct.sorted
      points.sliding(2).foreach {
        case Seq(a, b) if b > a =>
          val mid = a + (b - a) / 2
          val active = members.filter(s => s.startNs <= mid && s.endNs > mid)
          val top = active.maxBy(s => depthOf(s.layer))
          acc(top.layer) = acc.getOrElse(top.layer, 0.0) + (b - a) / 1e9
        case _ =>
      }
      acc("op_wall") = acc.getOrElse("op_wall", 0.0) + (op.endNs - op.startNs) / 1e9
      // wall no running job covers: the driver-side share of the op
      val jobUnion = union(jobs.map(j => (clip(j.startNs), clip(j.endNs))))
      acc("driver") = acc.getOrElse("driver", 0.0) + (op.endNs - op.startNs - jobUnion) / 1e9
    }
    acc.toMap
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def writeSpans(path: String): Unit = {
    val lines = allSpans.sortBy(_.startNs).map { s =>
      s"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

object PlanWalk {
  /** Visits every node of an executed plan: through adaptive plans, query
    * stages and subqueries, but not into reused exchanges or subqueries,
    * whose originals are visited where they run. */
  def foreach(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case _: ReusedExchangeExec | _: ReusedSubqueryExec =>
      case a: AdaptiveSparkPlanExec => foreach(a.executedPlan)(f)
      case s: QueryStageExec => foreach(s.plan)(f)
      case _ =>
        p.children.foreach(foreach(_)(f))
        p.subqueries.foreach(foreach(_)(f))
    }
  }
}
