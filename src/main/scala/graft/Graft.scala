package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.StaticSQLConf

/** The library's front door: one call gives a SparkSession with every graft
  * surface active — the native function registry, the optimizer rule set
  * (via `graft.functions.GraftExtensions`), and the session defaults this
  * engine is designed around.
  *
  * {{{
  * val spark = Graft.session()                  // local development
  * val spark = Graft.configure(SparkSession.builder().master(...)).getOrCreate()
  * }}}
  *
  * On a real cluster, prefer `--conf spark.sql.extensions=
  * graft.functions.GraftExtensions` (picked up by every session including
  * thrift/connect servers); `configure` sets the same thing
  * programmatically.
  *
  * Defaults rationale (SURVEY.md §5):
  *  - AQE on with skew-join handling: the documented mitigation for hot
  *    LSH buckets / hot aggregation keys at scale.
  *  - `spark.sql.shuffle.partitions` is left to the caller/cluster EXCEPT
  *    in `session()`, which sizes it to the local core count unless the
  *    caller passes a width — the 200
  *    default is wrong in both directions (too many for laptops, too few
  *    for 1000-executor clusters; size ≈ 2-3× total cores there).
  *  - UTC session timezone: deterministic timestamp semantics everywhere.
  *  - CBO + join reorder ON by default (round 17): inert-but-armed
  *    without statistics (reorder needs row counts; the graft rules'
  *    stats gates bail — measured safe on the full oracle gate and the
  *    sf0.1 bench), and the moment a table is ANALYZE'd ([[enableCbo]])
  *    the session plans join webs from statistics instead of FROM order.
  *  - Spark's generated-class cache sized to graft's working set
  *    ([[codegenCacheEntries]]; Spark's default is 100). Working sets,
  *    counted as the compiles of a run whose cache never evicts, on 4
  *    cores: the benchmark's corpus workload 217 classes, ann_serve 130
  *    (plus 4 new classes per pass that no cache size reuses), the olap
  *    lane (TPC-H q1–q22) 460, and the spec suite 8,639 (FuzzSpec alone
  *    3,797). With the default, a traced corpus pass (seed 301) compiled
  *    193 classes, 1.83 s of its 6.03 s; with this value it compiles none,
  *    and over 10 alternated seed pairs the median untraced pass fell from
  *    5.27 to 3.53 s.
  *    Spark sizes the cache once per JVM, the first time it generates code,
  *    so only the first session's conf counts: [[session]] warns when it
  *    finds a lower one.
  */
object Graft extends org.apache.spark.internal.Logging {

  /** The runtime defaults of every graft session, declared once:
    * [[configure]] puts them on the builder, and [[session]] re-applies
    * them to a session that already existed in the JVM.
    *
    * CBO on by DEFAULT (round 17, VERDICT r16 #5 — decision recorded in
    * SURVEY §5 with the measurement in BASELINE r17): with catalog stats
    * the lane reads 0.84–0.94× of hand-ordered across the JOB/TPC-H
    * sweeps and captures the r17 join-algorithm wins (q9 0.51×, q12
    * 0.52×, q18 0.47×); WITHOUT stats (the cold-start case) the r17
    * legs measured it safe — the full 260-oracle gate passes and the
    * sf0.1 bench is wall-neutral, because join reorder needs row counts
    * to act and the graft rules' stats gates bail. Statistics remain
    * opt-in via [[enableCbo]]/ANALYZE — this default just means an
    * ANALYZE'd table is USED the moment it exists. */
  private val runtimeDefaults: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.cbo.joinReorder.enabled" -> "true")

  /** Apply graft configuration to any builder (cluster or local): the
    * runtime defaults plus the two static confs a session can only get at
    * creation, the extension and the codegen cache size. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    (runtimeDefaults ++ Seq(
      "spark.sql.extensions" -> classOf[functions.GraftExtensions].getName,
      codegenCacheKey -> codegenCacheEntries.toString))
      .foldLeft(b) { case (builder, (k, v)) => builder.config(k, v) }

  /** Entries in Spark's cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`); an evicted class is compiled
    * again the next time a plan needs it. 12,000 is 1.4× the largest
    * measured working set (the spec suite's; see "Defaults rationale"
    * above). The headroom matters: the cache evicts per segment, a quarter
    * of the entries each, so a value just at the working set would still
    * evict. It is a ceiling, not a reservation: the cache holds only the
    * classes a JVM has compiled. */
  val codegenCacheEntries: Int = 12000

  private val codegenCacheKey = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  /** A ready local session: extensions + functions registered, the
    * post-reorder rules installed, and `shufflePartitions` as the shuffle
    * width. It defaults to the machine's core count, which is what the
    * default `local[*]` master runs on; mains that size shuffles to the
    * data rather than the cores (Bench and [[Audit]] under
    * `SPARK_GRAFT_SHUFFLE`) pass it explicitly.
    *
    * getOrCreate IGNORES builder configs when a session already exists in
    * the JVM, so the runtime defaults and the shuffle width are re-applied
    * to the returned session's conf, and `register` patches in the
    * functions + optimizer rule the static `spark.sql.extensions` conf
    * could no longer inject — the promised semantics hold either way.
    * Callers that rely on this existing-session path: the CLI and the
    * examples when the spec suite runs them inside its JVM (CliSpec,
    * ExamplesSpec), and any user code that calls `session` after its own
    * session was created. The codegen cache size ([[codegenCacheEntries]])
    * is the one default that cannot be re-applied: if the existing session
    * has a lower one, `session` logs a warning and runs on. */
  def session(master: String = "local[*]", appName: String = "graft",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession = {
    val shuffle = "spark.sql.shuffle.partitions" -> shufflePartitions.toString
    val s = configure(SparkSession.builder().master(master).appName(appName))
      .config(shuffle._1, shuffle._2)
      .getOrCreate()
    (runtimeDefaults :+ shuffle).foreach { case (k, v) => s.conf.set(k, v) }
    // extraOptimizations is session-scoped, so only a session (not a
    // builder) can install the post-reorder rules
    installResidualPlacement(s)
    functions.GraftFunctions.register(s)
    // the cache size is a static conf that Spark reads once per JVM, so it
    // cannot be re-applied like the confs above
    val cacheEntries = s.conf.get(codegenCacheKey).toInt
    if (cacheEntries < codegenCacheEntries)
      logWarning(s"graft.Graft.session: this JVM's Spark session was " +
        s"created with $codegenCacheKey=$cacheEntries, below graft's " +
        s"$codegenCacheEntries. Spark sizes its generated-class cache once " +
        s"per JVM, so queries whose plans need more classes than that " +
        s"recompile them on every run. Create the first session through " +
        s"Graft.configure, or pass --conf $codegenCacheKey=" +
        s"$codegenCacheEntries.")
    s
  }

  // --------------------------------------------------------- ANALYZE / CBO
  /** The engine-native join-order answer (VERDICT r12 #1, BASELINE.md
    * round-13): register the relational tables as CATALOG tables over
    * `dir`, compute full statistics, and enable cost-based optimization +
    * join reorder for the session. With this in place a join web arrives
    * in ANY FROM order and Catalyst derives the reduced-hub-first tree
    * from row counts + column min/max/ndv — measured at 100×: all seven
    * JOB heavy-tail families plan at-or-below the hand-ordered texts from
    * statistics alone (worst 0.99×), including the 17-relation web at a
    * raised DP threshold (plans in ~3 s).
    *
    * Why CATALOG tables: CBO reads `CatalogTable.stats`; temp views carry
    * none, which is exactly why an un-ANALYZEd session is FROM-order-driven
    * (the r12 finding). At 100 TB this is the standing `ANALYZE` job every
    * warehouse schedules — at 100× the full seven-table pass costs ~15 s,
    * amortized over every query after. `dpThreshold` bounds the join-count
    * the DP enumerator reorders (Spark default 12; the measured JOB webs
    * plan fine at 18 — raise it only as far as planning time allows). */
  /** The testdata/ScaleGen relational table set [[enableCbo]] registers by
    * default (callers like the CLI's `\analyze` report/check these names). */
  val defaultCboTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem")

  def enableCbo(spark: SparkSession, dir: String,
      tables: Seq[String] = defaultCboTables,
      dpThreshold: Int = 12): Int =
    enableCbo(spark, tables.map(t => t -> s"$dir/$t.parquet").toMap,
      dpThreshold)

  /** The broadcast threshold a stats-driven session should run with.
    * Spark's 10 MB default predates both AQE and modern executor memory;
    * measured round 14 (BASELINE.md): job_33a's residual CBO gap was a
    * 333k-row filtered part slice (~17 MB) sitting just above 10 MB, so
    * one fact leg fell back to a full-lineitem sort-merge join — raising
    * the threshold flipped the family from 1.15× to 0.88× of the
    * hand-ordered text. The VALUE was bisected, not guessed: at 64 MB
    * two families regressed behind oversized broadcast builds
    * (job_10a 1.14×, job_19a 1.29×); 32 MB keeps the job_33a fix and
    * halves those costs (1.07×/1.16×) — the measured knee. 32 MB is
    * still tiny against executor memory (shipped once per executor, not
    * per core), the STATIC decision is backed by ANALYZE'd column stats
    * here (that is what enableCbo is), and the ADAPTIVE one is measured
    * from real runtime sizes — exactly the cases where trusting a
    * bigger build side is safe.
    *
    * The knee is SCALE-DEPENDENT (BASELINE r14): at 300× two fact-heavy
    * families prefer stock 10 MB (their 32 MB-estimated builds are
    * net-negative there), and an adaptive-only raise was measured and
    * rejected (AQE's SMJ→BHJ conversion happens after the fact shuffle
    * is already written — the static decision is what avoids the 60M-row
    * exchange entirely). Hence the map-form `enableCbo` takes
    * `broadcastThreshold` as a parameter: re-bisect per deployment with
    * [[Audit]]'s `ab` mode (leg B `spark.sql.autoBroadcastJoinThreshold=…`)
    * and pass the measured knee. */
  val cboBroadcastThreshold: String = "32MB"

  /** The general front door (VERDICT r13 #6): ANY user's (name → path)
    * parquet tables, not just the testdata layout. Returns the number of
    * tables registered + analyzed, so callers (the CLI's `\analyze`)
    * report the real count. The CBO confs are set BEFORE registration so a
    * mid-loop failure (bad path, permissions) leaves an explicit state —
    * CBO on, the failing table loudly absent — instead of tables silently
    * planless. Paths and names are quoted into the DDL ('' / `` escaping),
    * so a location containing a quote cannot break out of the statement. */
  def enableCbo(spark: SparkSession, tables: Map[String, String],
      dpThreshold: Int): Int =
    enableCbo(spark, tables, dpThreshold, cboBroadcastThreshold)

  /** As above with an explicit broadcast threshold (no default here:
    * Scala forbids default args on two overloads, and the dir form keeps
    * its table-list defaults). */
  def enableCbo(spark: SparkSession, tables: Map[String, String],
      dpThreshold: Int, broadcastThreshold: String): Int = {
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.dp.threshold",
      dpThreshold.toString)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      broadcastThreshold)
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold",
      broadcastThreshold)
    installResidualPlacement(spark)
    // database-qualified names throughout: a BARE `DROP TABLE t` resolves
    // temp views first, so a session that also holds a temp view `t`
    // would silently lose the VIEW instead of replacing the table.
    val db = spark.catalog.currentDatabase
    tables.toSeq.sortBy(_._1).foreach { case (t, path) =>
      val name = s"$db.`${t.replace("`", "``")}`"
      val loc = path.replace("'", "''")
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.sql(s"CREATE TABLE $name USING parquet LOCATION '$loc'")
      analyzeStatSafeColumns(spark, name)
      // a same-named TEMP VIEW outranks the catalog table at resolution
      // time, so unqualified SQL would keep planning stat-less against the
      // view while the session believes CBO is active — say so loudly.
      if (spark.sessionState.catalog.getTempView(t).isDefined)
        logWarning(s"graft.Graft.enableCbo: a temp view named '$t' shadows " +
          s"the analyzed catalog table $name — unqualified references to " +
          s"'$t' resolve to the STAT-LESS view; drop the view or qualify " +
          s"as $db.$t")
    }
    tables.size
  }

  /** ANALYZE column statistics for every column whose type survives
    * Spark's CBO estimation — NOT `FOR ALL COLUMNS`, for two reasons
    * found round 14:
    *  1. **TIMESTAMP_NTZ column stats CRASH CBO planning** in Spark
    *     4.1.2: `FilterEstimation.evaluateBinary`'s type match lacks
    *     `TimestampNTZType`, so any `ntz_col >= TIMESTAMP '…'` range
    *     predicate over a stats-bearing NTZ column dies with a
    *     `scala.MatchError` INTERNAL_ERROR at optimization time (found
    *     by the round-14 CBO fuzz leg, shape fz_0039; JobStatsSpec's
    *     "TIMESTAMP_NTZ" case proves the stock crash AND this
    *     workaround's pass, and fails once Spark fixes the bug; parquet
    *     written without isAdjustedToUTC — e.g. by arrow — reads as NTZ,
    *     so real user tables hit this). Skipping
    *     the column's stats keeps CBO working off the remaining columns
    *     — the estimator falls back to default selectivity for that
    *     predicate instead of crashing.
    *  2. `FOR COLUMNS` on array/map/struct/binary types errors outright,
    *     and user tables registered through [[enableCbo]]'s map form
    *     (embeddings, documents) carry them. */
  def analyzeStatSafeColumns(spark: SparkSession, qualName: String): Unit = {
    import org.apache.spark.sql.types._
    val safe = spark.table(qualName).schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] ||
        f.dataType == StringType || f.dataType == BooleanType ||
        f.dataType == DateType || f.dataType == TimestampType =>
        s"`${f.name.replace("`", "``")}`"
    }
    if (safe.nonEmpty)
      spark.sql(s"ANALYZE TABLE $qualName COMPUTE STATISTICS " +
        s"FOR COLUMNS ${safe.mkString(", ")}")
    else // row count + size still feed join-size estimation
      spark.sql(s"ANALYZE TABLE $qualName COMPUTE STATISTICS")
  }

  /** Register the post-reorder placement rules
    * ([[graft.functions.MeasuredDimPlacement]] — the r14 job_3a
    * LIKE-blind-DP fix — then [[graft.functions.ResidualJoinPlacement]])
    * on the session (idempotent). `spark.experimental.extraOptimizations`
    * is the one public hook that runs AFTER the `Join Reorder` batch — the
    * `SparkSessionExtensions` rule points all run before CBO and never see
    * the reordered tree. Both rules additionally gate themselves on
    * `spark.sql.cbo.joinReorder.enabled`, so installing them here is inert
    * for non-CBO sessions sharing the JVM. */
  def installResidualPlacement(spark: SparkSession): Unit =
    // ResidualJoinPlacement FIRST (round-17, ADVICE r16): both rules match
    // hint-free inner joins carrying equi+non-equi conditions, but
    // MeasuredDimPlacement's non-equi branch resolves by HINTING the join
    // in place — and a hinted join is permanently outside RJP's match and
    // sinkInto's descent. With MDP first, such a join could never be
    // residual-sunk to its lowest covering position. With RJP first, the
    // sink happens hint-free in the same FixedPoint iteration, then MDP
    // sees the sunk join (still hint-free) and adds the strategy hint at
    // its final position.
    // …and HashProbePreference LAST: it only adds a strategy hint, and the
    // placement rules match hint-free joins, so hints must land after
    // every re-thread has settled (a hint added first would permanently
    // disqualify the join from RJP/MDP/FMG rewrites).
    Seq(functions.ResidualJoinPlacement, functions.MeasuredDimPlacement,
      functions.FactMergeGuard, functions.HashProbePreference)
      .foreach { rule =>
        if (!spark.experimental.extraOptimizations.contains(rule))
          spark.experimental.extraOptimizations =
            spark.experimental.extraOptimizations :+ rule
      }

  // ---------------------------------------------------- PREPARE / EXECUTE
  /** Session-scoped named-statement registry — the reference's
    * PREPARE/EXECUTE lifecycle (sqllogictest prepare.slt;
    * sql/src/statement.rs `Prepare`) over Spark 4's engine-side parameter
    * binding (`spark.sql(text, args)` — the machinery the sql_params gate
    * entry hash-verifies). Spark itself has no PREPARE statement; this
    * registry supplies the named-handle layer: register once, execute by
    * name with fresh arguments, deallocate when done.
    *
    * Semantics (matching DuckDB, which the correctness oracle runs):
    *  - `prepare` validates the text PARSES immediately (prepare-time
    *    syntax errors, like a real PREPARE) and REPLACES an existing
    *    statement of the same name silently (DuckDB's re-PREPARE
    *    behavior; Postgres would error).
    *  - `executePrepared` binds named (`:param`) or positional (`?`)
    *    markers engine-side — typed substitution, never string
    *    interpolation, so no injection surface. A missing statement or an
    *    unbound/mistyped parameter fails with the statement name in the
    *    caller's vocabulary (ErrorSurfaceSpec pins each path).
    *  - Scope is the SparkSession (weak-keyed: a dropped session takes
    *    its statements with it); names are private to a session like the
    *    reference's per-connection statement objects.
    *
    * Scale note: preparation is metadata-only (one parse). Each execute
    * re-plans through Catalyst — at 100 TB planning time is noise next to
    * execution, and re-planning is what lets AQE re-optimize per
    * argument set (a cached physical plan would pin one argument's join
    * sizes onto every later call). */
  private val prepared =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[String, String]]())

  private def stmts(spark: SparkSession) = prepared.synchronized {
    var m = prepared.get(spark)
    if (m == null) {
      m = new java.util.concurrent.ConcurrentHashMap[String, String]()
      prepared.put(spark, m)
    }
    m
  }

  /** Register (or replace) a named statement after a parse check. */
  def prepare(spark: SparkSession, name: String, sql: String): Unit = {
    require(name.nonEmpty, "graft.Graft.prepare: statement name is empty")
    try spark.sessionState.sqlParser.parsePlan(sql)
    catch {
      case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        throw new IllegalArgumentException(
          s"graft.Graft.prepare('$name'): statement does not parse: " +
            e.getMessage, e)
    }
    stmts(spark).put(name, sql)
    ()
  }

  /** Execute a prepared statement with NAMED parameters (`:param`). */
  def executePrepared(spark: SparkSession, name: String,
      args: Map[String, Any]): DataFrame =
    runPrepared(spark, name)(sql => spark.sql(sql, args))

  /** Execute a prepared statement with POSITIONAL parameters (`?`). */
  def executePrepared(spark: SparkSession, name: String,
      args: Seq[Any]): DataFrame =
    runPrepared(spark, name)(sql => spark.sql(sql, args.toArray[Any]))

  /** Execute a prepared statement that takes no parameters. */
  def executePrepared(spark: SparkSession, name: String): DataFrame =
    executePrepared(spark, name, Map.empty[String, Any])

  private def runPrepared(spark: SparkSession, name: String)
      (run: String => DataFrame): DataFrame = {
    val sql = stmts(spark).get(name)
    if (sql == null)
      throw new NoSuchElementException(
        s"graft.Graft.executePrepared: no prepared statement named '$name'" +
          s" in this session (prepared: ${listPrepared(spark).mkString(", ")})")
    try run(sql)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "UNBOUND_SQL_PARAMETER" =>
        throw new IllegalArgumentException(
          s"graft.Graft.executePrepared('$name'): missing argument for a " +
            s"statement parameter: ${e.getMessage}", e)
    }
  }

  /** Drop a named statement; true if it existed (DEALLOCATE). */
  def deallocate(spark: SparkSession, name: String): Boolean =
    stmts(spark).remove(name) != null

  /** The session's prepared-statement names, sorted. */
  def listPrepared(spark: SparkSession): Seq[String] = {
    import scala.jdk.CollectionConverters._
    stmts(spark).keySet().asScala.toSeq.sorted
  }

  // ------------------------------------------------------------ cancellation
  /** Cooperative query cancellation — the concern the reference benchmarks
    * in `benchmarks/src/cancellation.rs` (a cancelled query must stop
    * "quickly" after the caller gives up, not at an operator boundary
    * minutes away).
    *
    * Spark's native mechanism is the job group: every action launched from
    * a thread tagged with a group id can be cancelled BY that id, and
    * `interruptOnCancel = true` interrupts the executor task threads
    * themselves (codegen'd operators and shuffle writers observe the
    * interrupt at row-batch boundaries), so kill latency is bounded by a
    * batch, not by the full operator. These helpers wrap the tag/cancel
    * protocol so callers never touch SparkContext state directly — the
    * group tag is always cleared, even on failure, so later work on the
    * same thread is not silently cancellable under a stale tag.
    *
    * Scale note: cancellation cost is driver-side metadata (one RPC per
    * executor) regardless of data size; at 100 TB the latency is dominated
    * by the in-flight batch each task finishes, same as on a laptop. */
  def cancellable[A](spark: SparkSession, tag: String)(body: => A): A = {
    require(tag.nonEmpty, "graft.Graft.cancellable: tag is empty")
    val sc = spark.sparkContext
    sc.setJobGroup(tag, s"graft cancellable [$tag]", interruptOnCancel = true)
    try body finally sc.clearJobGroup()
  }

  /** Cancel every running Spark job launched under [[cancellable]]'s tag
    * (callable from any thread; no-op if nothing is running). */
  def cancel(spark: SparkSession, tag: String): Unit =
    spark.sparkContext.cancelJobGroup(tag)

  /** Run `body`, cancelling its Spark jobs if it exceeds `timeoutMs` —
    * a watchdog timer fires [[cancel]] on the private tag, the interrupted
    * action surfaces as a TimeoutException (cause preserved). The watchdog
    * is a shared daemon timer; a completed body always cancels its timer
    * task, so no thread or timer leaks per call. */
  def withTimeout[A](spark: SparkSession, timeoutMs: Long)(body: => A): A = {
    require(timeoutMs > 0, "graft.Graft.withTimeout: timeoutMs must be > 0")
    val tag = s"graft-timeout-${java.util.UUID.randomUUID()}"
    val sc = spark.sparkContext
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val task = new java.util.TimerTask {
      def run(): Unit = { fired.set(true); sc.cancelJobGroup(tag) }
    }
    sc.setJobGroup(tag, s"graft withTimeout($timeoutMs ms)",
      interruptOnCancel = true)
    try {
      watchdog.schedule(task, timeoutMs)
      try body
      catch {
        case e: Throwable if fired.get() =>
          val te = new java.util.concurrent.TimeoutException(
            s"graft.Graft.withTimeout: query cancelled after $timeoutMs ms")
          te.initCause(e)
          throw te
      }
    } finally {
      task.cancel()
      sc.clearJobGroup()
    }
  }

  private lazy val watchdog =
    new java.util.Timer("graft-timeout-watchdog", true)
}
