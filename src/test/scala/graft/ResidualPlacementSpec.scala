package graft

import graft.functions.ResidualJoinPlacement
import graft.operators.Job
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LeafNode, LogicalPlan}

/** VERDICT r13 #1: the ResidualJoinPlacement optimizer rule + the
  * enableCbo broadcast threshold close the job_33a CBO miss. The rule is
  * pure inner-join reassociation (same multiset result at any data); this
  * spec pins (a) the plan change — under CBO the join carrying job_33a's
  * `o1.o_orderkey < o2.o_orderkey` residual sinks BELOW both lineitem
  * fanouts, so its subtree scans only orders/customer/nation — and (b)
  * result identity with the rule on vs off. The wall-clock story
  * (0.74×/0.84× of hand-ordered at 100×, two sessions, alternated
  * min-of-3) lives in BASELINE.md round-14. */
class ResidualPlacementSpec extends SparkSpec {

  private val cboTables =
    Seq("nation", "customer", "orders", "lineitem", "part")

  /** Leaf relation names under `plan` (catalog tables scan as
    * LogicalRelation/DataSourceV2 leaves whose string names the tables). */
  private def leafNames(plan: LogicalPlan): Seq[String] =
    plan.collect { case l: LeafNode => l.toString }

  private def residualJoins(plan: LogicalPlan): Seq[Join] =
    plan.collect {
      case j @ Join(_, _, _, Some(c), _)
          if c.exists {
            case _: org.apache.spark.sql.catalyst.expressions.LessThan => true
            case _ => false
          } => j
    }

  private def withCbo[A](body: SparkSession => A): A = withSession { spark =>
    try {
      Graft.enableCbo(spark, sf, tables = cboTables)
      body(spark)
    } finally {
      // qualified drops so a bare DROP cannot take a same-named temp
      // view instead
      cboTables.foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS spark_catalog.default.$t"))
    }
  }

  test("under CBO the residual (o1 < o2) join sinks below both lineitem " +
    "fanouts — its subtree scans only orders/customer/nation") {
    withCbo { spark =>
      spark.conf.set(ResidualJoinPlacement.flag, "true")
      val plan = spark.sql(Job.job33aSql).queryExecution.optimizedPlan
      val rjs = residualJoins(plan)
      assert(rjs.nonEmpty, s"no join carries the < residual:\n$plan")
      rjs.foreach { j =>
        val leaves = leafNames(j)
        assert(!leaves.exists(_.contains("lineitem")) &&
          !leaves.exists(_.contains("part")),
          s"residual join still sits above a fact fanout:\n$plan")
      }
    }
  }

  test("with the rule disabled the residual joins the two fanned-out " +
    "trees at the top (the r13 geometry the rule exists to fix)") {
    withCbo { spark =>
      spark.conf.set(ResidualJoinPlacement.flag, "false")
      val plan = spark.sql(Job.job33aSql).queryExecution.optimizedPlan
      val rjs = residualJoins(plan)
      assert(rjs.nonEmpty, s"no join carries the < residual:\n$plan")
      assert(rjs.exists(j => leafNames(j).exists(_.contains("lineitem"))),
        s"expected the residual above a lineitem fanout with the rule off:\n$plan")
    }
  }

  test("single-side equality + spanning inequality does not fire the rule: " +
    "the equi conjunct must span the join or the sunk join has no hash " +
    "key (ADVICE r14)") {
    withCbo { spark =>
      spark.conf.set(ResidualJoinPlacement.flag, "true")
      // o1.o_orderkey = 32 is a filter, not a key; the only SPANNING
      // conjunct is the inequality — the rule must leave the plan alone
      // (byte-identical to flag-off), not sink a keyless nested loop.
      val sql =
        """SELECT count(*) AS n
          |FROM orders o1, orders o2, customer c
          |WHERE o1.o_orderkey = 32 AND o1.o_totalprice < o2.o_totalprice
          |  AND o2.o_custkey = c.c_custkey""".stripMargin
      val on = spark.sql(sql).queryExecution.optimizedPlan
      spark.conf.set(ResidualJoinPlacement.flag, "false")
      val off = spark.sql(sql).queryExecution.optimizedPlan
      assert(on.canonicalized == off.canonicalized,
        s"rule fired on a keyless residual join:\n$on\nvs\n$off")
    }
  }

  test("rule on vs off: identical results (pure reassociation)") {
    withCbo { spark =>
      spark.conf.set(ResidualJoinPlacement.flag, "false")
      val off = spark.sql(Job.job33aSql).collect().toSeq
      spark.conf.set(ResidualJoinPlacement.flag, "true")
      val on = spark.sql(Job.job33aSql).collect().toSeq
      assert(on == off, s"rule changed the result: $on vs $off")
      assert(off.nonEmpty)
    }
  }

  test("non-CBO sessions are untouched: with join reorder off the " +
    "optimized plan is identical whatever the rule flag says") {
    // the rule self-gates on spark.sql.cbo.joinReorder.enabled, so a
    // session that never opted into CBO gets byte-identical plans
    withSession { spark =>
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
      Tables.registerViews(spark, sf)
      spark.conf.set(ResidualJoinPlacement.flag, "true")
      val on = spark.sql(Job.job33aSql).queryExecution.optimizedPlan
      spark.conf.set(ResidualJoinPlacement.flag, "false")
      val off = spark.sql(Job.job33aSql).queryExecution.optimizedPlan
      assert(on.canonicalized == off.canonicalized,
        s"rule touched a non-CBO plan:\n$on\nvs\n$off")
      assert(residualJoins(on).nonEmpty)
    }
  }

  test("equi conjuncts alone (no residual) are never touched: q3 plans " +
    "and answers identically with the rule installed") {
    withCbo { spark =>
      spark.conf.set(ResidualJoinPlacement.flag, "true")
      // q3-shaped pure-equi web over the catalog tables
      val sql = """SELECT o.o_orderkey, sum(l.l_extendedprice) AS rev
                  |FROM customer c, orders o, lineitem l
                  |WHERE c.c_mktsegment = 'BUILDING'
                  |  AND c.c_custkey = o.o_custkey
                  |  AND l.l_orderkey = o.o_orderkey
                  |GROUP BY o.o_orderkey ORDER BY rev DESC LIMIT 5""".stripMargin
      val on = spark.sql(sql).collect().toSeq
      spark.conf.set(ResidualJoinPlacement.flag, "false")
      val off = spark.sql(sql).collect().toSeq
      assert(on == off)
    }
  }
}
