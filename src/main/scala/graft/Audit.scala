package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.operators.{Job, Tpch}

/** The measurement main for the query suites, one mode per question, as
  * the reference runs its suites from one runner (DataFusion's `dfbench`).
  *
  * {{{
  * runMain graft.Audit <walls|ab|plans|jobs> <dir> <names> [--reps N]
  *   [--conf k=v;…] [--a k=v;…] [--b k=v;…] [--original-from] [--out DIR]
  * }}}
  *
  * `names` is a comma-separated list of TPC-H queries (`q1`…`q22`), JOB
  * families (`job_1a`…) and registry entries, or a group: `tpch`, `job`,
  * `job-heavy` (the families with a preserved pre-reorder FROM list) or
  * `headline` (Bench's set). [[frame]] says what each name runs.
  *  - `walls`: min-of-`reps` wall per name with its task metrics, the
  *    final-plan invariants of [[planProblems]], and one `[audit-json]`
  *    line with the host state at start and end. Exit 1 on any flip.
  *  - `ab`: per name, leg A and leg B alternated inside the JVM with a
  *    settle between legs, min of `reps` each. Asserts identical canonical
  *    rows and that leg B's final plan has no [[planProblems]] leg A's
  *    lacks; prints each leg's planning time and task metrics, the B/A
  *    ratio of the collect walls per name, and the worst ratio.
  *  - `plans`: executes nothing. Prints the optimized logical plan, each
  *    join's size estimates and the initial physical plan; with `--out`,
  *    also writes `explain("formatted")` to `<out>/<name>_before.txt`.
  *  - `jobs`: after a warm run, one run's Spark jobs: wall, stages, tasks,
  *    task time, shuffle bytes and call site.
  *
  * A conf set is `k=v;k=v` ([[AuditEnv.confs]]): `--conf` applies to every
  * run, `--a` and `--b` to one leg each. The usual legs: TPC-H hand vs CBO
  * is `--a` [[CboOff]]; JOB hand vs original FROM adds `--b
  * spark.sql.cbo.joinReorder.dp.threshold=18 --original-from`, which gives
  * leg B (or, outside `ab`, every run) the families' pre-reorder FROM
  * text; SMJ vs SHJ is `--b spark.sql.join.preferSortMergeJoin=false`; a
  * rule ablation is `--b spark.graft.cbo.<rule>=false`.
  *
  * SPARK_GRAFT_CPUS (default 8) sets the local cores and SPARK_GRAFT_SHUFFLE
  * (default: the cores) the shuffle width. At the 1000× decade the default
  * width is a trap: 600M lineitem rows over 32 shuffle partitions is ~19M
  * rows per sort-merge task, and the per-task heap share (48 GB / 32 ≈
  * 1.5 GB) OOMs mid-sort. SURVEY §1's spill rule sizes partitions to the
  * data (a few hundred MB each) and lets AQE coalesce the small ones: 256
  * for the 1000× directory, with SPARK_DRIVER_MEM≈64g.
  */
object Audit {

  final case class Run(mode: String, dir: String, names: Seq[String],
      reps: Int = 2, conf: String = "", a: String = "", b: String = "",
      originalFrom: Boolean = false, out: Option[String] = None)

  /** The hand-ordered leg: the suite texts with cost-based reorder off. */
  val CboOff: String =
    "spark.sql.cbo.enabled=false;spark.sql.cbo.joinReorder.enabled=false"

  private val Modes = Set("walls", "ab", "plans", "jobs")

  def parse(args: Array[String]): Run = {
    val usage = "usage: graft.Audit <walls|ab|plans|jobs> <dir> <names> " +
      "[--reps N] [--conf k=v;…] [--a k=v;…] [--b k=v;…] " +
      "[--original-from] [--out DIR]"
    require(args.length >= 3 && Modes.contains(args(0)), usage)
    def flags(r: Run, rest: List[String]): Run = rest match {
      case Nil => r
      case "--original-from" :: t => flags(r.copy(originalFrom = true), t)
      case "--reps" :: v :: t => flags(r.copy(reps = v.toInt), t)
      case "--conf" :: v :: t => flags(r.copy(conf = v), t)
      case "--a" :: v :: t => flags(r.copy(a = v), t)
      case "--b" :: v :: t => flags(r.copy(b = v), t)
      case "--out" :: v :: t => flags(r.copy(out = Some(v)), t)
      case other :: _ => throw new IllegalArgumentException(
        s"unknown or incomplete argument '$other'\n$usage")
    }
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      .flatMap {
        case "tpch" => (1 to 22).map(i => s"q$i")
        case "job" => Job.oracle.keys.toSeq.sorted
        case "job-heavy" => Job.originalFrom.keys.toSeq.sorted
        case "headline" => Bench.Headline
        case n => Seq(n)
      }
    val r = flags(Run(args(0), args(1), names), args.drop(3).toList)
    val registry = SparkEntry.queries.keySet
    val unknown = names.filterNot(n => Tpch.oracle.contains(n) ||
      Job.oracle.contains(n) || registry.contains(n))
    require(names.nonEmpty && unknown.isEmpty,
      s"unknown names: ${unknown.mkString(", ")}\n$usage")
    require(r.reps >= 1, s"--reps must be at least 1\n$usage")
    // malformed conf sets fail here, before the ANALYZE burst
    Seq(r.conf, r.a, r.b).foreach(AuditEnv.confs)
    r
  }

  def main(args: Array[String]): Unit = {
    val r = parse(args)
    // Shuffle files are deleted only when the driver GC collects their
    // ShuffleDependency, and with a 64 GB audit heap that GC may never
    // come: 25 JOB families × a fact-sized shuffle each left >100 GB of
    // dead shuffle files on one box. A shorter periodic-GC interval plus
    // [[settle]] after every run reclaims each run's space before the
    // next. SparkConf reads this `spark.*` system property when the
    // context is created.
    sys.props("spark.cleaner.periodicGC.interval") = "1min"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = Graft.session(s"local[$cpus]", "graft-audit", shuffle.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val ok =
      try r.mode match {
        case "walls" => walls(spark, r).forall(_.problems.isEmpty)
        case "ab" => ab(spark, r); true
        case "plans" => plans(spark, r); true
        case "jobs" => jobs(spark, r); true
      } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  /** The one name → frame resolution. A TPC-H query is its oracle text and
    * a JOB family its SQL text (the pre-reorder FROM list when
    * `originalFrom` and the family has one), both over the catalog tables
    * with statistics that [[prepare]] registers; anything else is a
    * [[SparkEntry]] registry entry over `dir`. */
  def frame(spark: SparkSession, dir: String, name: String,
      originalFrom: Boolean = false): DataFrame =
    if (Tpch.oracle.contains(name)) spark.sql(Tpch.oracle(name))
    else if (Job.oracle.contains(name))
      spark.sql(Job.originalFrom.get(name).filter(_ => originalFrom)
        .fold(Job.oracle(name))(Job.withFromOrder(Job.oracle(name), _)))
    else SparkEntry.queries(name)(spark, dir)

  /** Scale-invariant plan problems: a cartesian, a nested-loop join, a JOB
    * family with a tiny dim (nation/region, broadcastable at every scale,
    * matched on a word boundary in its SQL) but no broadcast build, or
    * filters not reaching the scans.
    *
    * Deliberately weaker than PlanAuditSpec's sf0.1 bar of ≥2 broadcast
    * builds: at 100× a LIKE-filtered mid-size dim (no selectivity
    * estimate) or a 30%-selective hub legitimately outgrows the broadcast
    * threshold and becomes a shuffle join, which is what a 1000-executor
    * cluster wants (job_6a at 100×: the equality-filtered part dim still
    * broadcasts while customer-LIKE and the 4.5M-row orders join go
    * sort-merge). A family whose smallest relations are filtered part or
    * customer slices (job_27a: Brand#15 is ~800k rows at 1000×) may see
    * every build outgrow the threshold, so only tiny-dim families must
    * broadcast. */
  def planProblems(name: String, plan: String): Seq[String] = {
    val tinyDim = Job.oracle.get(name)
      .exists("\\b(nation|region)\\b".r.findFirstIn(_).isDefined)
    Seq(
      plan.contains("CartesianProduct") -> "CartesianProduct",
      plan.contains("BroadcastNestedLoopJoin") -> "BroadcastNestedLoopJoin",
      (tinyDim && !plan.contains("BroadcastHashJoin")) ->
        "no broadcast build despite a tiny dim",
      !plan.contains("PushedFilters: [") -> "no pushed filters"
    ).collect { case (true, msg) => msg }
  }

  /** One timed run. `plan` covers building the frame through physical
    * planning (construction jobs, analysis, the DP join reorder) and
    * `exec` the collect; `finalPlan` is [[Audit.finalPlan]], what ran, and
    * `metrics` the run's [[AuditMetrics]] report. */
  final case class Leg(plan: Double, exec: Double, rows: Seq[String],
      finalPlan: String, metrics: String) {
    def wall: Double = plan + exec
  }

  final case class Wall(name: String, wall: Double, problems: Seq[String])

  /** Leg A's and leg B's best collect walls; planning is reported apart,
    * so a long DP reorder reads as planning, not as a worse plan. */
  final case class Ratio(name: String, a: Double, b: Double) {
    def ratio: Double = b / a
  }

  def walls(spark: SparkSession, r: Run): Seq[Wall] = {
    val hostStart = prepare(spark, r)
    val out = withMetrics(spark) { agg =>
      r.names.map { name =>
        val best = (1 to r.reps)
          .map(_ => run(agg, frame(spark, r.dir, name, r.originalFrom)))
          .minBy(_.wall)
        if (best.rows.isEmpty)
          println(s"[audit] WARN $name returned zero rows at ${r.dir}")
        val problems = planProblems(name, best.finalPlan)
        val verdict =
          if (problems.isEmpty) "ok" else s"FLIPPED: ${problems.mkString("; ")}"
        println(f"[audit] $name%-10s ${best.wall}%8.2fs  $verdict  " +
          s"(min of ${r.reps})  ${best.metrics}")
        Wall(name, best.wall, problems)
      }
    }
    stamp(spark, hostStart, out.map(w => f""""${w.name}":${w.wall}%.2f"""))
    val flipped = out.count(_.problems.nonEmpty)
    println(s"[audit] == ${out.size - flipped} ok, $flipped flipped")
    out
  }

  def ab(spark: SparkSession, r: Run): Seq[Ratio] = {
    val hostStart = prepare(spark, r)
    val out = withMetrics(spark) { agg =>
      def leg(conf: String, originalFrom: Boolean, name: String): Leg =
        AuditEnv.withConfs(spark, conf)(
          run(agg, frame(spark, r.dir, name, originalFrom)))
      r.names.map { name =>
        // Alternated min-of-N: single-pass walls at 300×+ carry ±70% noise
        // (page-cache boundary, residual shuffle files), and running every
        // A rep before every B rep folds session drift into the ratio.
        // Interleaving puts both legs through the same cache and shuffle
        // state; the min reads each leg's best case, which is what plan
        // quality means.
        val pairs = (1 to r.reps).map { _ =>
          val a = leg(r.a, originalFrom = false, name)
          val b = leg(r.b, r.originalFrom, name)
          assert(a.rows == b.rows, s"$name: leg B changed the RESULT " +
            s"(${a.rows.size} vs ${b.rows.size} rows)")
          (a, b)
        }
        val a = pairs.map(_._1).minBy(_.exec)
        val b = pairs.map(_._2).minBy(_.exec)
        val introduced = planProblems(name, b.finalPlan)
          .filterNot(planProblems(name, a.finalPlan).contains)
        assert(introduced.isEmpty, s"$name: leg B's plan introduced " +
          s"${introduced.mkString("; ")}:\n${b.finalPlan}")
        val ratio = Ratio(name, a.exec, b.exec)
        println(f"[audit] $name%-8s a=${a.exec}%8.2fs b=${b.exec}%8.2fs " +
          f"plan a=${a.plan}%6.2fs b=${b.plan}%6.2fs " +
          f"ratio=${ratio.ratio}%5.2fx (min of ${r.reps}, alternated)")
        println(s"[audit]   a: ${a.metrics}\n[audit]   b: ${b.metrics}")
        ratio
      }
    }
    stamp(spark, hostStart, out.map(x =>
      f""""${x.name}":{"a":${x.a}%.2f,"b":${x.b}%.2f}"""))
    println(f"[audit] == ${out.size} names, worst b/a ratio " +
      f"${out.map(_.ratio).max}%.2fx")
    out
  }

  /** Prints each name's plans; returns the `--out` files written. */
  def plans(spark: SparkSession, r: Run): Seq[Path] = {
    prepare(spark, r)
    r.names.flatMap { name =>
      val df = frame(spark, r.dir, name, r.originalFrom)
      val opt = df.queryExecution.optimizedPlan
      println(s"=== $name OPTIMIZED LOGICAL ===")
      println(opt.treeString)
      println(s"=== $name STATS PER JOIN NODE ===")
      opt.foreach {
        case j: Join =>
          println(s"Join cond=${j.condition} hint=${j.hint}")
          println(s"  left  ${j.left.getClass.getSimpleName} est=${j.left.stats.sizeInBytes}")
          println(s"  right ${j.right.getClass.getSimpleName} est=${j.right.stats.sizeInBytes}")
        case _ =>
      }
      // the join ORDER is final here; AQE only swaps strategies and sides
      // at run time
      println(s"=== $name INITIAL PHYSICAL ===")
      println(df.queryExecution.executedPlan.toString)
      r.out.map { d =>
        val f = Files.createDirectories(Paths.get(d)).resolve(s"${name}_before.txt")
        Files.write(f, df.queryExecution.explainString(FormattedMode)
          .getBytes("UTF-8"))
        println(s"[audit] $name -> $f")
        f
      }
    }
  }

  /** Per name, the number of Spark jobs the measured run launched. Runs
    * as [[Bench]] does: a noop write, with a warm run first so codegen and
    * AQE's shapes at `dir` are compiled. */
  def jobs(spark: SparkSession, r: Run): Seq[(String, Int)] = {
    prepare(spark, r)
    def noop(name: String): Double = {
      val t0 = System.nanoTime()
      frame(spark, r.dir, name, r.originalFrom)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    withMetrics(spark) { agg =>
      r.names.map { name =>
        noop(name)
        spark.catalog.clearCache()
        settle()
        agg.reset()
        val wall = noop(name)
        settle()
        println(f"== $name wall=$wall%7.3fs jobs=${agg.jobCount}")
        println(agg.jobTable)
        name -> agg.jobCount
      }
    }
  }

  /** Setup shared by the modes; returns the host stamp. The stamp comes
    * first, because the ANALYZE burst is this process's own load and would
    * false-flag the contamination rule. Catalog tables with statistics are
    * registered only when a TPC-H or JOB name needs them. */
  private def prepare(spark: SparkSession, r: Run): String = {
    val host = AuditEnv.hostJson(cores(spark))
    if (r.names.exists(n => Tpch.oracle.contains(n) || Job.oracle.contains(n))) {
      val t0 = System.nanoTime()
      Graft.enableCbo(spark, r.dir)
      println(f"[audit] analyze total ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    AuditEnv.applyConfs(spark, r.conf)
    host
  }

  private def cores(spark: SparkSession): String =
    spark.sparkContext.defaultParallelism.toString

  private def withMetrics[A](spark: SparkSession)(body: AuditMetrics => A): A = {
    val agg = new AuditMetrics
    spark.sparkContext.addSparkListener(agg)
    try body(agg) finally spark.sparkContext.removeSparkListener(agg)
  }

  private def run(agg: AuditMetrics, build: => DataFrame): Leg = {
    agg.reset()
    val t0 = System.nanoTime()
    val df = build
    df.queryExecution.executedPlan
    val t1 = System.nanoTime()
    val rows = df.collect()
    val t2 = System.nanoTime()
    settle()
    Leg((t1 - t0) / 1e9, (t2 - t1) / 1e9, canonical(rows), finalPlan(df),
      agg.report)
  }

  private object PlanNodes extends AdaptiveSparkPlanHelper

  /** The final physical plan's nodes, one per line, subqueries included:
    * what ran, or before execution what will run. The printed plan also
    * holds AQE's initial plans, and a scalar subquery's own "== Initial
    * Plan ==" marker comes before the main plan's scans, so cutting the
    * text at the first marker dropped them (TPC-H q11 read "no pushed
    * filters"). */
  def finalPlan(df: DataFrame): String =
    PlanNodes.collectWithSubqueries(df.queryExecution.executedPlan) {
      case p => p.verboseString(Int.MaxValue)
    }.mkString("\n")

  /** Rows as sorted strings, doubles and floats at 6 significant digits
    * (`%.6e`) and decimals at 6 dp. A different plan sums floating point in
    * a different order, so exact comparison would report reorder drift as
    * a changed result. Absolute 6-dp rounding still tripped at the 1000×
    * decade: q9's ~1e9 sums over 600M rows carry ~1e-13 relative drift,
    * ~1e-4 absolute. A real semantic change (a lost or duplicated row)
    * moves a sum by far more than 1e-6 relative, so the comparison keeps
    * its teeth. Decimal arithmetic is exact and needs no slack. */
  private[graft] def canonical(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case d: Double => f"$d%.6e"
      case f: Float => f"${f.toDouble}%.6e"
      case b: java.math.BigDecimal =>
        b.setScale(6, java.math.RoundingMode.HALF_UP).toString
      case x => String.valueOf(x)
    }.mkString("[", ",", "]")).sorted.toSeq

  /** Two GC passes with pauses: the first GC enqueues the dead shuffle
    * dependencies, and the ContextCleaner drains them asynchronously;
    * without the pause a 20 GB run's files are still on disk when the next
    * run's shuffle starts. The pause also lets the async listener bus
    * deliver the run's last task events before [[AuditMetrics]] is read. */
  private def settle(): Unit = {
    System.gc(); Thread.sleep(1000); System.gc(); Thread.sleep(1000)
  }

  private def stamp(spark: SparkSession, hostStart: String,
      entries: Seq[String]): Unit =
    println(s"""[audit-json] {${entries.mkString(",")},"host":""" +
      s"""{"start":$hostStart,"end":${AuditEnv.hostJson(cores(spark))}}}""")
}
