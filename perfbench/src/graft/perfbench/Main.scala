package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

import graft.{AuditEnv, Graft}

/** One benchmark run: set up a workload several times, run timed passes
  * as a closed loop with one client for at least `seconds`, check every
  * op, and write the figures to `<work>/result.json`.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <cpus>
  *
  * Untraced runs time ops only. Traced runs alternate traced and untraced
  * passes: traced passes give the per-layer figures, and the ratio of the
  * two kinds' median pass walls is the tracing overhead.
  */
object Main {
  import Workload.median

  /** Session starts and input generations per run; setup_s takes the median. */
  private val Setups = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, cpusS) = args
    val (seed, seconds, trace, cpus) = (seedS.toLong, secondsS.toDouble, traceS == "1", cpusS.toInt)
    val hostStart = AuditEnv.hostJson(cpus.toString)
    val w: Workload = workload match {
      case "olap" => new Olap(seed, cpus, 0.5)
      case "corpus" => new Corpus(seed, cpus, 2000L, 0.05, 0.05)
      case "ann_serve" => new AnnServe(seed, cpus, 10000L)
      case other => sys.error(s"unknown workload $other")
    }

    // ---- set-up: session start and data generation, repeated (the last
    // session and data set are kept); then the derived state (ANALYZE or
    // index build) and the warm-up passes.
    // setup_s = median(session + generate) + derive + warm-up
    val sessionWalls, generateWalls = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    (0 until Setups).foreach { r =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        deleteTree(s"$work/data${r - 1}")
      }
      val t0 = System.nanoTime()
      spark = Graft.session(s"local[$cpus]", "perfbench")
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      w.generate(spark, s"$work/data$r")
      sessionWalls += (t1 - t0) / 1e9
      generateWalls += (System.nanoTime() - t1) / 1e9
    }
    val td = System.nanoTime()
    w.derive()
    val tw = System.nanoTime()
    var warm: Seq[(Op, OpResult)] = Nil
    (0 until w.warmPasses).foreach { _ =>
      warm = w.pass(-1).map { op =>
        val r = op.body(Untraced)
        spark.catalog.clearCache()
        op -> r
      }
    }
    val (deriveWall, warmWall) = ((tw - td) / 1e9, (System.nanoTime() - tw) / 1e9)
    val setupS = median(sessionWalls.indices.map(i => sessionWalls(i) + generateWalls(i))) +
      deriveWall + warmWall
    milestone("setup")
    val sc = spark.sparkContext

    // ---- reference checks of the warm-up results, outside timed regions
    val refFailures = mutable.Map[String, String]()
    val refs = warm.map { case (op, r) => op.name -> r }.toMap
    warm.foreach { case (op, r) => w.checkReference(op, r).foreach(refFailures(op.name) = _) }
    Files.createDirectories(Paths.get(s"$work/ref"))
    warm.filter { case (op, _) => w.oracle.contains(op.name) }.foreach { case (op, r) =>
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(r.rows.toSeq.asJava, r.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/ref/${op.name}")
    }

    milestone("reference checks")

    // ---- timed passes
    val tracer = if (trace) Some(new Tracer(s"$workload-$seed-${System.currentTimeMillis()}")) else None
    tracer.foreach(sc.addSparkListener)
    val graftRules = Seq(graft.functions.ResidualJoinPlacement, graft.functions.MeasuredDimPlacement,
      graft.functions.FactMergeGuard, graft.functions.HashProbePreference).map(_.ruleName).toSet
    val execs = mutable.ArrayBuffer[Exec]()
    val loopStart = System.nanoTime()
    var pass = 0
    while (pass < w.minPasses || (System.nanoTime() - loopStart) / 1e9 < seconds) {
      val traced = tracer.isDefined && pass % 2 == 0
      w.pass(pass).foreach { op =>
        var result: OpResult = null
        var error: Option[String] = None
        val wall = tracer.filter(_ => traced) match {
          case Some(t) =>
            try { val (r, s) = t.op(op.name, sc)(op.body); result = r; s }
            catch { case e: Throwable => error = Some(msg(e)); 0.0 }
          case None =>
            val t0 = System.nanoTime()
            try result = op.body(Untraced) catch { case e: Throwable => error = Some(msg(e)) }
            (System.nanoTime() - t0) / 1e9
        }
        val e = new Exec(op, pass, wall, traced)
        e.failure = error
        e.result = result
        if (traced && result != null)
          result.df.foreach(df => tracer.get.planCounters(df, result.rows.length, graftRules))
        if (e.failure.isEmpty && w.repeatable)
          e.failure = refs.get(op.name).map(_.rows) match {
            case Some(ref) => Workload.sameRows(ref, result.rows)
            case None => Some("no warm-up reference")
          }
        if (w.repeatable) e.result = null
        spark.catalog.clearCache()
        execs += e
      }
      pass += 1
    }
    milestone("loop")
    w.finish(execs.toSeq)
    // a wrong reference makes every execution of that op wrong
    execs.foreach(e => refFailures.get(e.op.name).foreach(f => if (e.failure.isEmpty) e.failure = Some(f)))

    // ---- figures
    val timed = execs.filter(!_.traced)
    val latencyKind = if (execs.exists(_.op.kind == "serve")) "serve" else execs.head.op.kind
    val lat = timed.filter(_.op.kind == latencyKind).map(_.wall).sorted
    val passWalls = timed.groupBy(_.pass).values.map(_.map(_.wall).sum).toSeq
    // ops of a workload that is not repeatable run once each, so their
    // median is taken per kind (serve, append)
    val perOp = timed.groupBy(e => if (w.repeatable) e.op.name else e.op.kind).values
      .map(es => median(es.map(_.wall).toSeq))
    // the highest percentile with ten samples beyond it; none above the
    // median when a run has fewer than 21 samples
    val tailIdx = lat.size - 11
    val hasTail = lat.size >= 21
    val rss = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", median(passWalls), "s"),
      ("op_p50_s", median(lat.toSeq), "s"),
      ("op_tail_s", if (hasTail) lat(tailIdx) else Double.NaN, "s"),
      ("geomean_s", math.exp(perOp.map(math.log).sum / perOp.size), "s"),
      ("peak_rss_mb", rss, "MB")) ++
      w.extraMetrics(timed.toSeq).toSeq.map { case (k, (v, u)) => (k, v, u) }

    val layers: Seq[(String, Double, String)] = tracer.map { t =>
      val tracedPasses = execs.filter(_.traced).map(_.pass).distinct.size.toDouble
      val self = t.selfTimes()
      def per(k: String) = t.counter(k) / tracedPasses
      def perSelf(k: String) = self.getOrElse(k, 0.0) / tracedPasses
      val opWall = self.getOrElse("op_wall", 0.0)
      val tracedWalls = execs.filter(_.traced).groupBy(_.pass).values.map(_.map(_.wall).sum).toSeq
      Seq(
        ("session.start_s", median(sessionWalls.toSeq), "s"),
        ("operators.construct_s", perSelf("construct"), "s/pass"),
        ("operators.construct_jobs", t.allSpans.count(s => s.layer == "job" &&
          t.allSpans.exists(p => p.id == s.parent && p.layer == "construct")) / tracedPasses, "count/pass"),
        ("catalyst.analysis_s", per("catalyst.analysis_s"), "s/pass"),
        ("catalyst.optimization_s", per("catalyst.optimization_s"), "s/pass"),
        ("catalyst.planning_s", per("catalyst.planning_s"), "s/pass"),
        ("functions.rules_s", per("functions.rules_s"), "s/pass"),
        ("codegen.compile_s", CodeGenerator.compileTime / 1e9, "s"),
        ("codegen.compiles", CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble, "count"),
        ("codegen.timed_compiles", per("codegen.timed_compiles"), "count/pass"),
        ("codegen.timed_compile_s", per("codegen.timed_compile_s"), "s/pass"),
        ("scheduler.jobs", per("scheduler.jobs"), "count/pass"),
        ("scheduler.stages", per("scheduler.stages"), "count/pass"),
        ("scheduler.tasks", per("scheduler.tasks"), "count/pass"),
        ("scheduler.task_failures", per("scheduler.task_failures"), "count/pass"),
        ("scheduler.driver_s", perSelf("driver"), "s/pass"),
        ("exec.task_cpu_s", per("exec.task_cpu_s"), "s/pass"),
        ("exec.task_run_s", per("exec.task_run_s"), "s/pass"),
        ("exec.gc_s", per("exec.gc_s"), "s/pass"),
        ("exec.core_util", t.counter("exec.task_run_s") / (opWall * cpus), "ratio"),
        ("exec.rows_per_result", t.counter("plan.output_rows") / math.max(1.0, t.counter("plan.result_rows")), "ratio"),
        ("exchange.count", per("exchange.count"), "count/pass"),
        ("exchange.shuffle_write_bytes", per("exchange.shuffle_write_bytes"), "B/pass"),
        ("exchange.shuffle_read_bytes", per("exchange.shuffle_read_bytes"), "B/pass"),
        ("exchange.fetch_wait_s", per("exchange.fetch_wait_s"), "s/pass"),
        ("exchange.spill_bytes", per("exchange.spill_bytes"), "B/pass"),
        ("sources.input_bytes", per("sources.input_bytes"), "B/pass"),
        ("sources.input_rows", per("sources.input_rows"), "count/pass"),
        ("sources.files_read", per("sources.files_read"), "count/pass"),
        ("storage.put_blocks", per("storage.put_blocks"), "count/pass"),
        ("storage.put_bytes", per("storage.put_bytes"), "B/pass"),
        ("storage.disk_bytes", per("storage.disk_bytes"), "B/pass"),
        ("self.op_s", perSelf("op"), "s/pass"),
        ("self.plan_s", perSelf("plan"), "s/pass"),
        ("self.execute_s", perSelf("execute"), "s/pass"),
        ("self.job_s", perSelf("job"), "s/pass"),
        ("self.stage_s", perSelf("stage"), "s/pass"),
        ("self.coverage", (opWall - self.getOrElse("op", 0.0)) / opWall, "ratio"),
        ("trace.op_wall_s", opWall / tracedPasses, "s/pass"),
        ("trace.overhead", median(tracedWalls) / median(passWalls), "ratio"))
    }.getOrElse(Nil)
    tracer.foreach(_.writeSpans(s"$work/spans.jsonl"))

    milestone("figures")
    val failures = execs.filter(_.failure.isDefined)
    def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
    def metrics(ms: Seq[(String, Double, String)]) = ms.map { case (k, v, u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString } + "\""
    val perOpCounts = execs.groupBy(_.op.name).map { case (k, es) => s"${str(k)}:${es.size}" }
    val failJson = failures.map(e => s"""{"op":${str(e.op.name)},"pass":${e.pass},"reason":${str(e.failure.get)}}""")
    val sizes = w.sizes.map { case (k, v) => s"${str(k)}:${v match {
      case d: Double => num(d); case n: Number => n.toString; case x => str(x.toString) }}" }
    val json =
      s"""{"workload":${str(workload)},"seed":$seed,"attempted":${execs.size},""" +
      s""""failed":${failures.size},"failures":${failJson.mkString("[", ",", "]")},""" +
      s""""executions":${perOpCounts.mkString("{", ",", "}")},""" +
      s""""oracle":{${w.oracle.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString(",")}},""" +
      s""""end_to_end":${metrics(endToEnd)},"per_layer":${metrics(layers)},""" +
      s""""setup_walls":{"session":${sessionWalls.mkString("[", ",", "]")},""" +
      s""""generate":${generateWalls.mkString("[", ",", "]")},"derive":$deriveWall,"warm_up":$warmWall},""" +
      s""""milestones_s":${milestones.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")},""" +
      s""""passes":$pass,"latency_samples":${lat.size},""" +
      s""""walls":${execs.map(e => s"[${str(e.op.name)},${e.pass},${e.wall},${e.traced}]").mkString("[", ",", "]")},""" +
      s""""tail_percentile":${num(if (hasTail) 100.0 * (tailIdx + 1) / lat.size else Double.NaN)},""" +
      s""""nproc":$cpus,"data_dir":${str(s"$work/data${Setups - 1}")},"sizes":${sizes.mkString("{", ",", "}")},""" +
      s""""host":{"start":$hostStart,"end":${AuditEnv.hostJson(cpus.toString)}}}"""
    Files.writeString(Paths.get(s"$work/result.json"), json)
    spark.stop()
  }

  /** Seconds since JVM start at each phase end, for the run's time budget. */
  private val milestones = mutable.LinkedHashMap[String, Double]()
  private def milestone(name: String): Unit = milestones(name) =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  private def msg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"

  private def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }
}
