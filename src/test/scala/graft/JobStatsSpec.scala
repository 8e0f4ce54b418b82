package graft

import java.nio.file.Files

import graft.operators.Job

/** The stats-mode inputs (VERDICT r12 #1): `Job.originalFrom` preserves the
  * PRE-round-12 worst-case FROM orders and `Job.withFromOrder` splices them
  * back into the shipped texts. The heavy measurement is graft.Audit's `ab
  * --original-from` at 100× (BASELINE.md round-13); this spec
  * pins the machinery itself — the splice is total over the family set,
  * analyzable by Spark, and RESULT-identical to the shipped text (the
  * property the in-mode assert re-checks at scale).
  */
class JobStatsSpec extends SparkSpec {

  test("withFromOrder splices every original FROM into valid, analyzable " +
    "SQL over the same relations") {
    Tables.registerViews(spark, sf)
    Job.originalFrom.foreach { case (name, from) =>
      val shipped = Job.oracle(name)
      val spliced = Job.withFromOrder(shipped, from)
      assert(spliced != shipped, s"$name: splice was a no-op")
      assert(spliced.contains(s"FROM $from"), s"$name: FROM list not spliced")
      // same predicates/outputs: everything outside the FROM span unchanged
      assert(spliced.split("\nWHERE ", 2)(1) == shipped.split("\nWHERE ", 2)(1),
        s"$name: splice touched the WHERE clause")
      spark.sql(spliced).queryExecution.analyzed // analysis must not throw
    }
  }

  test("original-FROM text is result-identical to the shipped hub-first " +
    "text (job_19a, job_31a at sf0.001) — the splice changes plans, not " +
    "answers") {
    Tables.registerViews(spark, sf)
    Seq("job_19a", "job_31a").foreach { name =>
      val a = spark.sql(Job.oracle(name)).collect().toSeq
      val b = spark.sql(Job.withFromOrder(Job.oracle(name),
        Job.originalFrom(name))).collect().toSeq
      assert(a == b, s"$name: original FROM diverged: $a vs $b")
    }
  }

  test("catalog statistics survive the COW DML lifecycle (VERDICT r13 #2): " +
    "a merge that ~40×es the table flips the broadcast decision only " +
    "after refresh — stale by default (loud warning), re-ANALYZEd under " +
    "the knob") {
    import graft.sources.Sources
    import org.apache.spark.sql.functions._
    val tbl = "cow_stats_t"
    val qual = s"spark_catalog.default.$tbl"
    val keep = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      Sources.RefreshStatsKnob).map(k => k -> spark.conf.getOption(k))
    try {
      val path = Sources.cowSeed(spark, sf, "orders_cow_stats_spec")
      Graft.enableCbo(spark, Map(tbl -> path), dpThreshold = 12)
      val size0 = spark.table(qual).queryExecution.optimizedPlan
        .stats.sizeInBytes
      val rows0 = spark.table(qual).count()
      // threshold between the seeded size and the ~40× grown size: the
      // broadcast/SMJ decision is then a pure function of catalog stats
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (size0 * 4).toString)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold",
        (size0 * 4).toString)
      def plansBroadcast(): Boolean = {
        val t = spark.table(qual)
        // probe side with KNOWN stats well above the threshold (Range
        // estimates 8 bytes/row), so only the catalog table's statistics
        // decide which side — if any — broadcasts
        val o = spark.range(5000000L).select(col("id").as("o_orderkey"))
        t.join(o, Seq("o_orderkey")).queryExecution.executedPlan
          .toString.contains("BroadcastHashJoin")
      }
      assert(plansBroadcast(), "seeded table should broadcast under stats")
      // insert-only merge that ~40×es the table; knob OFF (default):
      // files grow, catalog stats stay frozen — the table still plans as
      // broadcast-small (the documented stale window, warned loudly)
      val orders = Tables.t(spark, sf, "orders")
      val inserts = orders.crossJoin(spark.range(40).select(col("id")))
        .withColumn("o_orderkey",
          -(col("o_orderkey") * lit(100L) + col("id") + lit(1L)))
        .drop("id")
      val emptyUpdates = orders.select(col("o_orderkey").as("mk"),
        col("o_totalprice").as("mp")).limit(0)
      Sources.cowMerge(spark, path, emptyUpdates, inserts)
      assert(spark.read.parquet(path).count() >= rows0 * 40,
        "merge did not grow the table")
      val staleStats = spark.table(qual).queryExecution.optimizedPlan.stats
      assert(staleStats.sizeInBytes == size0,
        s"stats changed without the knob: $size0 -> ${staleStats.sizeInBytes}")
      assert(plansBroadcast(),
        "stale stats should still plan broadcast (that is the drift)")
      // knob ON + another (tiny) mutation: the commit path re-ANALYZEs and
      // the decision flips to a shuffle join
      spark.conf.set(Sources.RefreshStatsKnob, "true")
      Sources.cowMerge(spark, path, emptyUpdates,
        orders.withColumn("o_orderkey", -(col("o_orderkey") + lit(5000000L))))
      val fresh = spark.table(qual).queryExecution.optimizedPlan.stats
      assert(fresh.sizeInBytes > size0 * 4,
        s"knob did not refresh stats: $size0 -> ${fresh.sizeInBytes}")
      assert(!plansBroadcast(),
        "refreshed stats should exceed the threshold and flip to SMJ")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $qual")
      keep.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) =>
          if (k.startsWith("spark.sql.cbo")) spark.conf.set(k, "false")
          else spark.conf.unset(k)
      }
    }
  }

  test("withFromOrder fails loudly on a text without a FROM…WHERE span") {
    intercept[IllegalArgumentException] {
      Job.withFromOrder("SELECT 1", "orders o")
    }
  }

  test("Graft.enableCbo registers catalog tables with ROW-COUNT statistics " +
    "and turns on cost-based join reorder — the stats CBO actually reads") {
    val before = spark.conf.getOption("spark.sql.cbo.enabled")
    val beforeBcast = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      val n = Graft.enableCbo(spark, sf, tables = Seq("nation", "region"))
      assert(n == 2, s"enableCbo returned $n, expected the table count 2")
      assert(spark.conf.get("spark.sql.cbo.enabled") == "true")
      assert(spark.conf.get("spark.sql.cbo.joinReorder.enabled") == "true")
      // catalog stats present (rowCount is the CBO join-size input; a
      // temp view would have none — the r12 FROM-order finding's cause).
      // Fully-qualified name: suites in the shared session register temp
      // views that would otherwise shadow the catalog table here.
      val stats = spark.table("spark_catalog.default.nation")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.exists(_.toLong == 25L),
        s"nation rowCount missing or wrong: ${stats.rowCount}")
    } finally {
      // shared session: other suites pin no-CBO plan shapes. Qualified
      // drops — a bare DROP TABLE would resolve (and drop) the temp VIEW
      // of the same name other suites registered.
      spark.sql("DROP TABLE IF EXISTS spark_catalog.default.nation")
      spark.sql("DROP TABLE IF EXISTS spark_catalog.default.region")
      spark.conf.set("spark.sql.cbo.enabled", before.getOrElse("false"))
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
      beforeBcast.foreach { // enableCbo raises these session-wide now
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("TIMESTAMP_NTZ column stats crash CBO planning on stock ANALYZE FOR " +
    "ALL COLUMNS; Graft.analyzeStatSafeColumns plans the same query") {
    // FilterEstimation.evaluateBinary (Spark 4.1.2) has no TimestampNTZType
    // case, so a range predicate over an NTZ column with statistics dies at
    // optimization. Parquet written without isAdjustedToUTC (e.g. by arrow)
    // reads as NTZ. If the first assertion fails, Spark fixed the bug and
    // analyzeStatSafeColumns can stop skipping NTZ columns.
    withSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("ntz_cbo_").toString
      Seq((1L, "2024-01-01 00:00:00"), (2L, "2024-06-01 00:00:00"),
          (3L, "2024-12-01 00:00:00")).toDF("id", "s")
        .selectExpr("id", "CAST(s AS TIMESTAMP_NTZ) AS ts")
        .write.parquet(s"$dir/t")
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
        .write.parquet(s"$dir/v")
      val (t, v) = ("spark_catalog.default.ntz_cbo_t", "spark_catalog.default.ntz_cbo_v")
      def register(analyze: String => Unit): Unit = Seq(t -> "t", v -> "v")
        .foreach { case (name, sub) =>
          s.sql(s"DROP TABLE IF EXISTS $name")
          s.sql(s"CREATE TABLE $name USING parquet LOCATION '$dir/$sub'")
          analyze(name)
        }
      val sql = s"SELECT count(*) FROM $t a JOIN $v b ON a.id = b.id " +
        "WHERE a.ts >= TIMESTAMP '2024-03-01 00:00:00'"
      try {
        assert(s.conf.get("spark.sql.cbo.enabled") == "true")
        register(n => s.sql(s"ANALYZE TABLE $n COMPUTE STATISTICS FOR ALL COLUMNS"))
        val e = intercept[Throwable](s.sql(sql).collect())
        assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
          .exists(c => c.isInstanceOf[MatchError] ||
            Option(c.getMessage).exists(_.contains("MatchError"))), e.toString)
        register(Graft.analyzeStatSafeColumns(s, _))
        assert(s.sql(sql).collect().head.getLong(0) == 2L)
      } finally Seq(t, v).foreach(n => s.sql(s"DROP TABLE IF EXISTS $n"))
    }
  }
}
