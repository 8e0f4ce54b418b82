package graft

/** Plan-debugging main (round 16; extended round 17): dump a JOB family's
  * or TPC-H query's optimized LOGICAL plan plus the INITIAL physical plan
  * — the tree the post-reorder rules receive, and the static join
  * strategies before AQE. This is how the FactMergeGuard gates were
  * diagnosed (BASELINE.md r16) and how the round-17 SHJ A/B's per-query
  * flips were attributed (BASELINE.md r17: which joins trade their sorts
  * for hash builds under `spark.sql.join.preferSortMergeJoin=false`).
  *
  * Usage: runMain graft.DebugPlan <scaleDir> <family|qN>
  * Env: GRAFT_RULES=off — disable the three post-reorder rules;
  *      GRAFT_CBO=off — leave cost-based reorder off (the walls-mode
  *        resolution path: catalog tables, no stats-driven reorder);
  *      SPARK_GRAFT_TPCH_CONF="k=v;…" — arbitrary confs, the audit twin.
  */
object DebugPlan {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val fam = args(1)
    val spark = Graft.session("local[8]", "graft-debugplan",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8").toInt)
    spark.sparkContext.setLogLevel("WARN")
    Graft.enableCbo(spark, dir)
    val cboOn = !sys.env.get("GRAFT_CBO").contains("off")
    spark.conf.set("spark.sql.cbo.enabled", cboOn.toString)
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", cboOn.toString)
    // GRAFT_RULES=off: disable the three post-reorder rules to isolate
    // the DP's own tree from the rules' rewrites
    if (sys.env.get("GRAFT_RULES").contains("off")) {
      spark.conf.set(functions.MeasuredDimPlacement.flag, "false")
      spark.conf.set(functions.ResidualJoinPlacement.flag, "false")
      spark.conf.set(functions.FactMergeGuard.flag, "false")
    }
    AuditEnv.applyConfs(spark, "SPARK_GRAFT_TPCH_CONF")
    // comma-separated names share one session (the 1000× ANALYZE is the
    // expensive part of a dump run, not the planning)
    fam.split(",").map(_.trim).filter(_.nonEmpty).foreach { f =>
      val sql =
        if (f.matches("q\\d+")) operators.Tpch.oracle(f)
        else {
          val handSql = operators.Job.oracle(f)
          operators.Job.originalFrom.get(f)
            .map(fr => operators.Job.withFromOrder(handSql, fr))
            .getOrElse(handSql)
        }
      val df = spark.sql(sql)
      val opt = df.queryExecution.optimizedPlan
      println(s"=== $f OPTIMIZED LOGICAL ===")
      println(opt.treeString)
      println(s"=== $f STATS PER JOIN NODE ===")
      opt.foreach {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          println(s"Join cond=${j.condition} hint=${j.hint}")
          println(s"  left  ${j.left.getClass.getSimpleName} est=${j.left.stats.sizeInBytes}")
          println(s"  right ${j.right.getClass.getSimpleName} est=${j.right.stats.sizeInBytes}")
        case _ =>
      }
      // the INITIAL physical plan — static join strategies, pre-AQE (the
      // join ORDER is final here; AQE only swaps strategies/sides at run)
      println(s"=== $f INITIAL PHYSICAL ===")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
