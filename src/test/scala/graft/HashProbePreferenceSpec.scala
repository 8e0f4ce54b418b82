package graft

import graft.functions.HashProbePreference
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan, SHUFFLE_HASH}

/** Round 17 (VERDICT r16 #2): [[HashProbePreference]] productizes the q9
  * join-algorithm finding — shuffled-hash beats sort-merge ONLY for the
  * small-build/fact-probe shape (BASELINE r17: q9 0.50×, q18 0.36×, but
  * q12 1.62× under the blanket conf). This spec pins the gates: the
  * q9-shape fires (SHUFFLE_HASH hint lands on the small side), the ratio
  * gate and the broadcast-window clearance each decline, the kill switch
  * declines, and results are identical on vs off (a strategy hint moves
  * no rows). The wall-clock story lives in BASELINE r17. */
class HashProbePreferenceSpec extends SparkSpec {

  private val db = "spark_catalog.default"

  private def withCbo[A](body: SparkSession => A): A = withSession { spark =>
    try {
      Graft.enableCbo(spark, sf)
      // spec-scale gates: broadcast off so the window-clearance gate is
      // trivially met (t <= 0), and a ratio the sf geometry clears
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(HashProbePreference.probeRatioKey, "2")
      body(spark)
    } finally Graft.defaultCboTables.foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
  }

  // the q9/q18 shape at spec scale: orders (small build) probed by
  // lineitem (the fact, ~4x orders' rows)
  private val q9Shape =
    """SELECT count(*) AS n, round(sum(l.l_extendedprice), 2) AS s
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderstatus <> 'X'""".stripMargin

  private def shjHints(p: LogicalPlan): Seq[JoinHint] = p.collect {
    case j: Join if Seq(j.hint.leftHint, j.hint.rightHint).flatten
      .exists(_.strategy.contains(SHUFFLE_HASH)) => j.hint
  }

  private def plan(sql: String)(implicit spark: SparkSession): LogicalPlan =
    spark.sql(sql).queryExecution.optimizedPlan

  test("q9 shape fires: a small build side probed by a fact above the " +
    "ratio floor gets the SHUFFLE_HASH hint (on the build side)") {
    withCbo { implicit spark =>
      spark.conf.set(HashProbePreference.flag, "true")
      val hints = shjHints(plan(q9Shape))
      assert(hints.nonEmpty, s"no SHUFFLE_HASH hint landed:\n${plan(q9Shape)}")
    }
  }

  test("ratio gate: with the probe/build floor above the data's " +
    "asymmetry the rule declines (the q12 exclusion, as a conf bound)") {
    withCbo { implicit spark =>
      spark.conf.set(HashProbePreference.flag, "true")
      spark.conf.set(HashProbePreference.probeRatioKey, "1000000")
      assert(shjHints(plan(q9Shape)).isEmpty)
    }
  }

  test("q12 shape: the hint is ORIENTED at the small filtered side — " +
    "the measured 1.62x regression built the UNFILTERED 150M-row orders " +
    "side (Spark's own bytes-based pick under the blanket conf); this " +
    "rule picks build by ROWS, so that orientation is unreachable") {
    withCbo { implicit spark =>
      spark.conf.set(HashProbePreference.flag, "true")
      // l_quantity stats span ~[1,50]; > 49.0 estimates a ~2% slice, so
      // the filtered lineitem leg is the few-rows side and orders the
      // many-rows probe — if the rule fires at all, the hint must sit on
      // the lineitem (right) side, never on orders
      val q12Shape =
        """SELECT count(*) AS n
          |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
          |WHERE l.l_quantity > 49.0""".stripMargin
      val joins = plan(q12Shape).collect {
        case j: Join if j.hint != JoinHint.NONE => j
      }
      assert(joins.forall(_.hint.leftHint.isEmpty),
        s"hint landed on the big-rows orders side:\n${plan(q12Shape)}")
    }
  }

  test("symmetric fact self-join declines: equal row counts fail the " +
    "probe/build ratio floor, so neither side is hinted") {
    withCbo { implicit spark =>
      spark.conf.set(HashProbePreference.flag, "true")
      val sym =
        """SELECT count(*) AS n
          |FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey""".stripMargin
      assert(shjHints(plan(sym)).isEmpty,
        s"hint fired on a 1:1-rows self-join:\n${plan(sym)}")
    }
  }

  test("broadcast-window clearance: with broadcast available and the " +
    "build inside 8x the threshold, the rule never forces a shuffle") {
    withCbo { implicit spark =>
      spark.conf.set(HashProbePreference.flag, "true")
      // spec-scale orders is far under 8 x 32m — gate must decline
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "32m")
      assert(shjHints(plan(q9Shape)).isEmpty)
    }
  }

  test("kill switch: flag off leaves the plan hint-free") {
    withCbo { implicit spark =>
      spark.conf.set(HashProbePreference.flag, "false")
      assert(shjHints(plan(q9Shape)).isEmpty)
    }
  }

  test("rule on vs off: identical results (a strategy hint moves no rows)") {
    withCbo { implicit spark =>
      spark.conf.set(HashProbePreference.flag, "false")
      val off = spark.sql(q9Shape).collect().toSeq
      spark.conf.set(HashProbePreference.flag, "true")
      val on = spark.sql(q9Shape).collect().toSeq
      assert(on == off, s"hint changed the result: $on vs $off")
      assert(off.nonEmpty)
    }
  }
}
