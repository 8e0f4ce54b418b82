package graft

/** TPC-H counterpart of [[JobAudit]] (VERDICT r14 #3/#4): the CBO headline
  * was proven on JOB's join-web geometry only; this main extends the
  * alternated hand-vs-CBO A/B to q1–q22 — aggregates above joins,
  * correlated/scalar subqueries, and outer joins, the reorder surface where
  * a cost-model bug hurts a real user first — and doubles as the
  * three-decade wall runner (plain mode) for the 100×/1000× linearity
  * tables BASELINE.md keeps per suite.
  *
  * Modes (SPARK_GRAFT_TPCH_MODE):
  *  - `stats` (default): per query, run the SHARED ANSI text (the same
  *    text the DuckDB oracle executes) with CBO OFF (the hand leg — the
  *    texts are written join-order-sensible, like a careful user's SQL)
  *    and with CBO ON over [[Graft.enableCbo]]'d catalog tables +
  *    ANALYZE'd stats, ALTERNATED min-of-N with GC+settle between legs
  *    (the r14 protocol — BASELINE.md round-14). Asserts (a) identical
  *    sorted result rows (CBO must never change an answer) and (b)
  *    COMPARATIVE plan invariants — the CBO tree introduces no cartesian
  *    / nested-loop the hand tree didn't already carry (TPC-H's scalar
  *    subqueries make a small BNLJ legitimate in ways JOB's pure webs do
  *    not, so the absolute JOB bar would false-positive here).
  *  - `walls`: CBO off, min-of-N walls per query, one JSON line — the
  *    decade table input. Catalog tables (not temp views) either way, so
  *    the two modes measure the same scan path. A task-metrics listener
  *    attributes each wall (shuffle/spill bytes, CPU vs run time).
  *  - `bucket`: walls over orderkey-bucketed copies of both facts — the
  *    co-location experiment backing the BASELINE r15 class-1 attribution.
  *
  * Env: SPARK_GRAFT_TPCH_REPS (default 2), SPARK_GRAFT_TPCH_FILTER
  * (comma-separated query subset), SPARK_GRAFT_TPCH_PLANS=1 (dump both
  * final plans per query), SPARK_GRAFT_CPUS / SPARK_GRAFT_SHUFFLE as in
  * JobAudit (1000× needs SPARK_DRIVER_MEM≈64g + SPARK_GRAFT_SHUFFLE=256 —
  * the spill rule in SURVEY §1).
  */
object TpchAudit {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    // the cleaner interval as in JobAudit (a SparkContext conf, read from
    // this system property when the context is created)
    sys.props("spark.cleaner.periodicGC.interval") = "1min"
    val spark = Graft.session(s"local[$cpus]", "graft-tpchaudit", shuffle.toInt)
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_TPCH_CONF="k=v;k=v": arbitrary session confs (JobAudit's
    // SPARK_GRAFT_JOB_CONF twin) — how a decade-wall hypothesis (e.g. "the
    // 1000× super-linear step is the broadcast knee") is attributed by
    // experiment without recompiling
    AuditEnv.applyConfs(spark, "SPARK_GRAFT_TPCH_CONF")

    val mode = sys.env.getOrElse("SPARK_GRAFT_TPCH_MODE", "stats")
    val reps = sys.env.get("SPARK_GRAFT_TPCH_REPS").map(_.toInt).getOrElse(2)
    val only = sys.env.get("SPARK_GRAFT_TPCH_FILTER")
      .map(_.split(",").map(_.trim).toSet)
    val dumpPlans = sys.env.get("SPARK_GRAFT_TPCH_PLANS").contains("1")

    // host state at the TRUE start — before the ANALYZE burst, which is
    // this process's own load and would false-flag the contamination rule
    val hostStart = AuditEnv.hostJson(cpus)

    // catalog tables + stats for BOTH modes: walls measured on the same
    // resolution path the stats mode plans against
    val tA = System.nanoTime()
    Graft.enableCbo(spark, dir)
    println(f"[tpchaudit] analyze total ${(System.nanoTime() - tA) / 1e9}%.2fs")

    val names = (1 to 22).map(i => s"q$i")
      .filter(n => only.forall(_.contains(n)))

    def setCbo(on: Boolean): Unit = {
      spark.conf.set("spark.sql.cbo.enabled", on.toString)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", on.toString)
    }
    def run(sql: String, cbo: Boolean): (Double, Seq[String], String) = {
      setCbo(cbo)
      val df = spark.sql(sql)
      val t0 = System.nanoTime()
      // double/float columns compared at 6 SIGNIFICANT digits (%.6e —
      // a RELATIVE discipline), decimals at 6 dp (exact arithmetic needs
      // no slack): CBO changes physical plans and thus floating-point
      // summation order, so exact Row.toString comparison would abort the
      // audit on reorder drift as a false "CBO changed the RESULT"
      // (ADVICE r15). Absolute 6-dp rounding was the first fix and still
      // tripped at the 1000× decade (round 17): q9's ~1e9-magnitude sums
      // over 600M rows carry ~1e-13 RELATIVE reorder drift, which is
      // ~1e-4 ABSOLUTE — any real semantic change (a lost/duplicated
      // row) moves a sum by ≫1e-6 relative, so significant-digit
      // comparison keeps the assert's teeth while absorbing reordering.
      val rows = df.collect().map(_.toSeq.map {
        case d: Double => f"$d%.6e"
        case f: Float => f"${f.toDouble}%.6e"
        case b: java.math.BigDecimal => b.setScale(6, java.math.RoundingMode.HALF_UP).toString
        case x => String.valueOf(x)
      }.mkString("[", ",", "]")).sorted.toSeq
      val wall = (System.nanoTime() - t0) / 1e9
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      (wall, rows, plan)
    }
    def settle(): Unit = { System.gc(); Thread.sleep(1000); System.gc() }

    def runWalls(agg: AuditMetrics, sqlOf: String => String): Unit = {
      val rows = names.map { name =>
        val sql = sqlOf(name)
        var best = Double.MaxValue
        var bestMetrics = ""
        (1 to reps).foreach { _ =>
          agg.reset()
          val (w, r, _) = run(sql, cbo = false)
          if (r.isEmpty) println(s"[tpchaudit] WARN $name returned zero rows at $dir")
          settle() // also lets the async listener bus drain before snapshot
          if (w < best) { best = w; bestMetrics = agg.report }
        }
        println(f"[tpchaudit] $name%-4s ${best}%8.2fs (min of $reps)  $bestMetrics")
        f""""$name":$best%.2f"""
      }
      println(s"""[tpchaudit-json] {${rows.mkString(",")},""" +
        s""""host":{"start":$hostStart,"end":${AuditEnv.hostJson(cpus)}}}""")
    }

    mode match {
      case "walls" =>
        val agg = new AuditMetrics
        spark.sparkContext.addSparkListener(agg)
        runWalls(agg, operators.Tpch.oracle(_))

      case "bucket" =>
        // EXPERIMENT MODE (BASELINE r15 "1000× walls" class 1): prove by
        // measurement that pre-bucketing co-located facts removes the
        // fact⋈fact exchange that dominates the decade steps — the
        // storage-co-location answer a 100 TB deployment would actually
        // ship. One-time bucketed write (itself timed — that's the price a
        // deployment pays once per ingest, not per query), then the
        // FILTER'd queries run with the fact names re-pointed at the
        // bucketed tables. Bucket count via SPARK_GRAFT_TPCH_BUCKETS
        // (default 64 ≈ 1000×'s shuffle width / 4; must match on both
        // sides for the co-located join). SPARK_GRAFT_TPCH_BUCKET_KEY
        // picks WHICH key storage co-locates (VERDICT r15 #4 — a table
        // bucketed on one key keeps its other exchanges on any cluster):
        //  - `orderkey` (default): lineitem + orders on the orderkey —
        //    the q12-class experiment (BASELINE r15);
        //  - `partkey`: lineitem + part on the partkey — q9's DOMINANT
        //    exchange (19.2 GB at 1000×), accepting the orderkey
        //    exchange back.
        val buckets = sys.env.getOrElse("SPARK_GRAFT_TPCH_BUCKETS", "64").toInt
        val bKey = sys.env.getOrElse("SPARK_GRAFT_TPCH_BUCKET_KEY", "orderkey")
        val (sideA, keyA, sideB, keyB) = bKey match {
          case "orderkey" => ("lineitem", "l_orderkey", "orders", "o_orderkey")
          case "partkey" => ("lineitem", "l_partkey", "part", "p_partkey")
          case other => sys.error(s"unknown SPARK_GRAFT_TPCH_BUCKET_KEY: " +
            s"$other (orderkey|partkey)")
        }
        operators.Relational.dropManaged(spark, s"graft_${sideA}_b")
        operators.Relational.dropManaged(spark, s"graft_${sideB}_fb")
        val tW = System.nanoTime()
        spark.table(sideA).write.format("parquet")
          .bucketBy(buckets, keyA).sortBy(keyA)
          .saveAsTable(s"graft_${sideA}_b")
        spark.table(sideB).write.format("parquet")
          .bucketBy(buckets, keyB).sortBy(keyB)
          .saveAsTable(s"graft_${sideB}_fb")
        println(f"[tpchaudit] bucketed fact write ${(System.nanoTime() - tW) / 1e9}%.1fs " +
          s"($buckets buckets on $bKey)")
        // re-point the fact NAMES via temp views (a temp view outranks the
        // same-named catalog table at resolution), not by regex-editing the
        // SQL text — a word-boundary replaceAll would silently rewrite any
        // future query text mentioning the words in a string literal or
        // alias into a wrong query (ADVICE r15). The view is a bare
        // SELECT *, so the bucketed scan's output partitioning flows
        // through and the co-located join still elides its exchange.
        spark.sql(s"CREATE OR REPLACE TEMP VIEW $sideA AS " +
          s"SELECT * FROM graft_${sideA}_b")
        spark.sql(s"CREATE OR REPLACE TEMP VIEW $sideB AS " +
          s"SELECT * FROM graft_${sideB}_fb")
        val agg = new AuditMetrics
        spark.sparkContext.addSparkListener(agg)
        try runWalls(agg, operators.Tpch.oracle(_))
        finally {
          spark.catalog.dropTempView(sideA)
          spark.catalog.dropTempView(sideB)
        }

      case _ => // stats: hand (CBO off) vs CBO on, alternated
        var worst = 0.0
        val rows = names.map { name =>
          val sql = operators.Tpch.oracle(name)
          var wallHand = Double.MaxValue
          var wallCbo = Double.MaxValue
          var handPlan = ""; var cboPlan = ""
          (1 to reps).foreach { _ =>
            val (h, rowsHand, hp) = run(sql, cbo = false); settle()
            val (c, rowsCbo, cp) = run(sql, cbo = true); settle()
            assert(rowsHand == rowsCbo,
              s"$name: CBO changed the RESULT (${rowsHand.size} vs " +
                s"${rowsCbo.size} rows)")
            wallHand = math.min(wallHand, h); wallCbo = math.min(wallCbo, c)
            handPlan = hp; cboPlan = cp
          }
          if (dumpPlans) {
            println(s"[tpchaudit-plan] $name HAND:\n$handPlan")
            println(s"[tpchaudit-plan] $name CBO:\n$cboPlan")
          }
          // comparative invariants: CBO may not INTRODUCE a plan class the
          // hand tree didn't already need (subquery BNLJs are legitimate)
          Seq("CartesianProduct", "BroadcastNestedLoopJoin").foreach { bad =>
            assert(!cboPlan.contains(bad) || handPlan.contains(bad),
              s"$name: CBO introduced $bad:\n$cboPlan")
          }
          val ratio = wallCbo / wallHand
          worst = math.max(worst, ratio)
          println(f"[tpchaudit] $name%-4s hand=$wallHand%8.2fs cbo=$wallCbo%8.2fs " +
            f"ratio=$ratio%5.2fx (min of $reps, alternated)")
          f""""$name":{"hand":$wallHand%.2f,"cbo":$wallCbo%.2f}"""
        }
        println(s"""[tpchaudit-json] {${rows.mkString(",")},""" +
          s""""host":{"start":$hostStart,"end":${AuditEnv.hostJson(cpus)}}}""")
        println(f"[tpchaudit] == ${rows.size} queries, worst cbo/hand ratio $worst%.2fx")
    }
    spark.stop()
  }
}
