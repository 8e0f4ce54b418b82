package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The audit's four modes at sf0.001, called directly (`main` exits the
  * JVM). Each runs on its own session, so the confs it sets end with the
  * case; the catalog tables a TPC-H or JOB name registers are dropped. */
class AuditSpec extends SparkSpec {

  private def args(s: String*): Audit.Run = Audit.parse(s.toArray)

  private def audit[A](body: SparkSession => A): A =
    try withSession(body)
    finally Graft.defaultCboTables.foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS spark_catalog.default.$t"))

  test("ab: TPC-H q3 and q5 with CBO off vs on return identical rows and " +
    "introduce no plan problem") {
    val out = audit(s => Audit.ab(s,
      args("ab", sf, "q3,q5", "--reps", "1", "--a", Audit.CboOff)))
    assert(out.map(_.name) == Seq("q3", "q5"))
    assert(out.forall(r => r.a > 0 && r.b > 0))
  }

  test("walls: two JOB families hold the plan invariants, 0 flipped") {
    val out = audit(s =>
      Audit.walls(s, args("walls", sf, "job_10a,job_3a", "--reps", "1")))
    assert(out.map(_.name) == Seq("job_10a", "job_3a"))
    assert(out.forall(_.problems.isEmpty), out.toString)
  }

  test("planProblems flags a forced non-equi join; finalPlan keeps the " +
    "main scans under a scalar subquery") {
    withSession { s =>
      val nation = Tables.t(s, sf, "nation")
      val region = Tables.t(s, sf, "region")
      def plan(cond: org.apache.spark.sql.Column) =
        nation.join(region, cond).queryExecution.executedPlan.toString
      assert(Audit.planProblems("q5",
        plan(nation("n_regionkey") < region("r_regionkey")))
        .contains("BroadcastNestedLoopJoin"))
      assert(Audit.planProblems("q5",
        plan(nation("n_regionkey") === region("r_regionkey"))).isEmpty)
      // after execution the final plan keeps the main query's scans even
      // when a scalar subquery prints its own initial plan first
      nation.createOrReplaceTempView("audit_nation")
      val sub = s.sql("SELECT n_name FROM audit_nation WHERE n_nationkey > " +
        "(SELECT avg(n_nationkey) FROM audit_nation)")
      sub.collect()
      val text = Audit.finalPlan(sub)
      assert(text.split("\n").count(_.contains("FileScan")) == 2, text)
      assert(Audit.planProblems("q11", text).isEmpty, text)
    }
  }

  test("plans: writes formatted text for a registry entry without " +
    "starting a Spark job") {
    val dir = Files.createTempDirectory("audit_plans_")
    withSession { s =>
      SparkEntry.queries("d_exact")(s, sf) // memoizes the table schema
      val (written, jobs) = jobsDuring(Audit.plans(s,
        args("plans", sf, "d_exact", "--out", dir.toString)))
      assert(jobs == 0, s"plans ran $jobs Spark jobs")
      assert(written == Seq(dir.resolve("d_exact_before.txt")))
      assert(Files.readString(written.head).contains("== Physical Plan =="))
    }
  }

  test("jobs: d_exact's measured run launches at least one Spark job") {
    val out = withSession(s => Audit.jobs(s, args("jobs", sf, "d_exact")))
    assert(out.size == 1 && out.head._1 == "d_exact" && out.head._2 >= 1,
      out.toString)
  }

  test("parse: groups expand, unknown names and malformed conf sets fail " +
    "before any work") {
    assert(args("walls", sf, "tpch").names.size == 22)
    assert(args("ab", sf, "job-heavy").names ==
      operators.Job.originalFrom.keys.toSeq.sorted)
    intercept[IllegalArgumentException](args("walls", sf, "q99"))
    intercept[IllegalArgumentException](args("ab", sf, "q1", "--b", "oops"))
    intercept[IllegalArgumentException](args("bucket", sf, "q1"))
  }
}
