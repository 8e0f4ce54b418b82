package graft

/** Standalone repro for the Spark 4.1.2 TIMESTAMP_NTZ × CBO crash that
  * [[Graft.analyzeStatSafeColumns]] works around (found by the round-14
  * CBO fuzz leg, minimal shape fz_0039; VERDICT r14 #7 asked for this
  * packaging so the carve-out is auditable and upstream-reportable).
  *
  * The bug: `ANALYZE TABLE … FOR ALL COLUMNS` happily computes min/max
  * stats for a TIMESTAMP_NTZ column, but
  * `o.a.s.sql.catalyst.plans.logical.statsEstimation.FilterEstimation
  * .evaluateBinary`'s type match lacks `TimestampNTZType`, so with
  * `spark.sql.cbo.enabled=true` any range predicate over the
  * stats-bearing NTZ column (`ntz_col >= TIMESTAMP '…'`) dies at
  * OPTIMIZATION time with `scala.MatchError` wrapped in an
  * INTERNAL_ERROR. Parquet written without isAdjustedToUTC — e.g. by
  * arrow — reads as NTZ, so real user tables hit this (the driver's own
  * testdata timestamps are NTZ).
  *
  * Run: `scripts/repro_ntz_cbo.sh` (or
  * `sbt "runMain graft.ReproNtzCbo"`). Exit 0 = crash reproduced on
  * stock ANALYZE AND the same query passes under the
  * [[Graft.analyzeStatSafeColumns]] workaround; exit 1 = either leg
  * surprised us (if the crash leg no longer crashes, Spark fixed the
  * bug — retire the carve-out).
  */
object ReproNtzCbo {
  def main(args: Array[String]): Unit = {
    // graft's session runs CBO + join reorder by default — the setting
    // the crash needs
    val spark = Graft.session("local[2]", "repro-ntz-cbo", 4)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("ntz_cbo_").toString
    // a parquet table whose timestamp is NTZ — exactly what arrow-written
    // files (isAdjustedToUTC=false) read back as
    Seq((1L, "2024-01-01 00:00:00"), (2L, "2024-06-01 00:00:00"),
        (3L, "2024-12-01 00:00:00"))
      .toDF("id", "s")
      .selectExpr("id", "CAST(s AS TIMESTAMP_NTZ) AS ts")
      .write.mode("overwrite").parquet(s"$dir/t1")
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/t2")

    val db = spark.catalog.currentDatabase
    def register(analyzeAll: Boolean): Unit = {
      Seq("t1", "t2").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $db.$t")
        spark.sql(s"CREATE TABLE $db.$t USING parquet LOCATION '$dir/$t'")
      }
      if (analyzeAll) {
        // the stock spelling — NTZ column stats land in the catalog
        spark.sql(s"ANALYZE TABLE $db.t1 COMPUTE STATISTICS FOR ALL COLUMNS")
        spark.sql(s"ANALYZE TABLE $db.t2 COMPUTE STATISTICS FOR ALL COLUMNS")
      } else {
        // the workaround — NTZ (and complex/binary) columns carry no stats
        Graft.analyzeStatSafeColumns(spark, s"$db.t1")
        Graft.analyzeStatSafeColumns(spark, s"$db.t2")
      }
    }
    // the crash fires when FilterEstimation prices the range predicate
    // over the stats-bearing NTZ column during join-size estimation
    val sql =
      s"""SELECT count(*) FROM $db.t1 a JOIN $db.t2 b ON a.id = b.id
         |WHERE a.ts >= TIMESTAMP '2024-03-01 00:00:00'""".stripMargin

    register(analyzeAll = true)
    val crashed =
      try { spark.sql(sql).collect(); false }
      catch {
        case e: Throwable =>
          val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .take(8).toSeq
          chain.exists(c => c.isInstanceOf[scala.MatchError] ||
            Option(c.getMessage).exists(_.contains("MatchError")))
      }
    println(if (crashed)
      "[repro] stock ANALYZE FOR ALL COLUMNS + CBO: scala.MatchError " +
        "REPRODUCED (FilterEstimation.evaluateBinary lacks TimestampNTZType)"
    else
      "[repro] stock leg did NOT crash — Spark may have fixed the bug; " +
        "re-evaluate Graft.analyzeStatSafeColumns's NTZ carve-out")

    register(analyzeAll = false)
    val ok =
      try { spark.sql(sql).collect().head.getLong(0) == 2L }
      catch { case _: Throwable => false }
    println(if (ok)
      "[repro] analyzeStatSafeColumns workaround: same query PASSES " +
        "(count=2) with CBO on"
    else "[repro] workaround leg FAILED")

    Seq("t1", "t2").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    spark.stop()
    if (!(crashed && ok)) sys.exit(1)
  }
}
