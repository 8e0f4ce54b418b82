package graft

import graft.functions.FactMergeGuard
import graft.operators.Job
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** VERDICT r15 #1 (job_19a): under CBO the DP can merge two BARE roles of
  * the same fact table directly (l1 ⋈ l2 on the orderkey) before that
  * bushy product meets the reduced orders⋈customer spine — paying a
  * multi-key re-exchange of both intermediates the hand-ordered left-deep
  * tree never pays. [[FactMergeGuard]] linearizes the merge. This spec
  * pins (a) the plan shape — with the guard on, no inner join's two
  * children are both bare legs over the same fact table; (b) the gates —
  * kill switch and fact floor each leave the plan alone; (c) result
  * identity on vs off (pure inner-join reassociation). The wall-clock
  * story (measured at 100× and 1000×, including the honest 100×
  * counter-read) lives in BASELINE.md round-16. */
class FactMergeGuardSpec extends SparkSpec {

  private def withCbo[A](body: SparkSession => A): A = withSession { spark =>
    try {
      Graft.enableCbo(spark, sf)
      // spec-scale lineitem is ~tens of KB — drop the fact floor so the
      // decade geometry is reproducible here
      spark.conf.set(FactMergeGuard.factFloorKey, "1k")
      body(spark)
    } finally Graft.defaultCboTables.foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS spark_catalog.default.$t"))
  }

  private def bareLegTable(p: LogicalPlan): Option[String] = p match {
    case Project(_, c) => bareLegTable(c)
    case Filter(_, c) => bareLegTable(c)
    case r: LogicalRelation =>
      r.catalogTable.map(_.identifier.table)
    case _ => None
  }

  /** Inner joins whose BOTH children are bare legs over the same fact
    * table — the defect shape the guard removes. */
  private def bushySelfMerges(plan: LogicalPlan): Seq[Join] =
    plan.collect {
      case j: Join
          if (for {
            tb <- bareLegTable(j.left); tc <- bareLegTable(j.right)
          } yield tb == tc && tb == "lineitem").getOrElse(false) => j
    }

  private def cboPlan(sql: String)(implicit spark: SparkSession): LogicalPlan =
    spark.sql(sql).queryExecution.optimizedPlan

  private val origSql =
    Job.withFromOrder(Job.oracle("job_19a"), Job.originalFrom("job_19a"))

  test("guard on: no bushy same-fact role merge survives in job_19a's " +
    "reordered tree (every lineitem role threads through the spine)") {
    withCbo { implicit spark =>
      spark.conf.set(FactMergeGuard.flag, "true")
      val plan = cboPlan(origSql)
      assert(bushySelfMerges(plan).isEmpty,
        s"bushy lineitem⋈lineitem merge survived:\n$plan")
    }
  }

  test("kill switch off: the bushy merge is the DP's own tree and must " +
    "reappear (proves the guard, not something else, removes it)") {
    withCbo { implicit spark =>
      spark.conf.set(FactMergeGuard.flag, "false")
      val plan = cboPlan(origSql)
      assert(bushySelfMerges(plan).nonEmpty,
        s"expected the DP's bushy merge with the guard off — the spec's " +
          s"geometry no longer exercises the rule:\n$plan")
    }
  }

  test("fact floor: legs under the floor are never touched") {
    withCbo { implicit spark =>
      spark.conf.set(FactMergeGuard.flag, "true")
      spark.conf.set(FactMergeGuard.factFloorKey, "32g")
      val plan = cboPlan(origSql)
      assert(bushySelfMerges(plan).nonEmpty,
        s"guard fired on a leg under the fact floor:\n$plan")
    }
  }

  test("inflation variant: with both floors at spec scale, rule on vs " +
    "off returns identical results (whatever re-threading fires is pure " +
    "reassociation; the 100× plan/wall story lives in BASELINE r16)") {
    withCbo { implicit spark =>
      spark.conf.set(FactMergeGuard.roleFloorKey, "1k")
      spark.conf.set(FactMergeGuard.flag, "false")
      val off = spark.sql(origSql).collect().toSeq
      spark.conf.set(FactMergeGuard.flag, "true")
      val on = spark.sql(origSql).collect().toSeq
      assert(on == off, s"inflation variant changed the result: $on vs $off")
    }
  }

  test("3-role self-join (ADVICE r16): a pure fact⋈fact⋈fact hub join " +
    "has a BARE spine, so the linearization must decline — without the " +
    "joined-spine gate the rule re-matched its own output with the roles " +
    "rotated and rewrote until the optimizer stack overflowed at plan " +
    "time; planning must terminate and results be rule-on ≡ rule-off") {
    withCbo { implicit spark =>
      // all three roles bare legs of the same fact, above the 1k spec
      // floor; every spanning conjunct a bare attribute equality — the
      // exact geometry that previously never hit a termination argument
      val sql =
        """SELECT count(*) AS n,
          |       round(sum(a.l_quantity + b.l_quantity + c.l_quantity), 2) AS s
          |FROM lineitem a
          |JOIN lineitem b ON a.l_orderkey = b.l_orderkey
          |JOIN lineitem c ON b.l_orderkey = c.l_orderkey
          |WHERE a.l_linenumber = 1 AND b.l_quantity > 10.0""".stripMargin
      spark.conf.set(FactMergeGuard.flag, "false")
      val off = spark.sql(sql).collect().toSeq
      spark.conf.set(FactMergeGuard.flag, "true")
      // pre-fix this line died with StackOverflowError inside the optimizer
      val plan = cboPlan(sql)
      // a bare spine has nothing to thread through: the tree is the DP's
      // own (some bushy self-merge necessarily survives in a pure 3-role
      // hub join — there is no spine to linearize against)
      assert(bushySelfMerges(plan).nonEmpty,
        s"expected the DP's own tree for a pure self-join web:\n$plan")
      val on = spark.sql(sql).collect().toSeq
      assert(on == off, s"3-role self-join changed the result: $on vs $off")
      assert(off.nonEmpty)
    }
  }

  test("guard on vs off: identical results (pure inner-join " +
    "reassociation)") {
    withCbo { implicit spark =>
      spark.conf.set(FactMergeGuard.flag, "false")
      val off = spark.sql(origSql).collect().toSeq
      spark.conf.set(FactMergeGuard.flag, "true")
      val on = spark.sql(origSql).collect().toSeq
      assert(on == off, s"guard changed the result: $on vs $off")
      assert(off.nonEmpty)
    }
  }
}
